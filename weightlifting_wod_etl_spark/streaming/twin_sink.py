"""foreachBatch twin sink — the streaming flavor of OP20 + OP3.

The reference's Parallel state persists the same records to DynamoDB and S3
concurrently (SemiStructureInvictusPost_stateMachine.yml:59-110), guarded by
the idempotency ledger. In Structured Streaming the analog is a
``foreachBatch`` writer: one micro-batch, cached once, fanned to two sinks,
with exactly-once semantics built from two independent mechanisms:

1. each sink writes ``mode=overwrite`` into a ``batch_id=N`` subdirectory —
   a replayed micro-batch (failure between the two writes, checkpoint
   rollback) overwrites its own partial output instead of appending dupes;
2. a completion marker per batch id short-circuits fully-committed replays
   (the OP3 ledger, keyed by batch id instead of content hash).

Scale notes: the batch DataFrame is persisted before the fan-out so the
upstream plan (shuffles included) runs ONCE, not once per sink; the marker
store here is a local dir — on a cluster it would be the same object store
as the sinks (rename-commit), but the protocol is identical.

Observability: with ``metrics_dir`` set, each micro-batch also emits the
operators/metrics.py audit counters (rows, per-column nulls, optional
measure sum/min/max) — attached via ``Observation`` to the parquet write,
so they are computed by the SAME tasks that persist the batch, zero extra
scans. Metric files are keyed by batch id and overwritten on replay, the
same idempotency contract as the data.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame

from ..io import write_jsonl


def make_twin_sink(
    parquet_dir: str,
    jsonl_dir: str,
    ledger_dir: str,
    metrics_dir: str | None = None,
    required_cols: list[str] | None = None,
    measure: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` function writing each batch to parquet AND
    JSONL, idempotent under micro-batch replay; optionally logging
    per-batch Observation counters to ``metrics_dir/batch-N.json``."""
    os.makedirs(ledger_dir, exist_ok=True)
    if metrics_dir:
        os.makedirs(metrics_dir, exist_ok=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(ledger_dir, f"batch-{batch_id}.done")
        if os.path.exists(marker):
            return  # fully committed on a previous attempt — elide all work
        batch_df.persist()
        obs = None
        first = batch_df
        if metrics_dir:
            from ..operators.metrics import observe_quality

            first, obs = observe_quality(
                batch_df,
                required=required_cols or [],
                measure=measure,
                name=f"twin_batch_{batch_id}",
            )
        try:
            # the observed frame drives the FIRST action: counters fill
            # while parquet writes; the JSONL write re-reads the cache
            first.write.mode("overwrite").parquet(
                os.path.join(parquet_dir, f"batch_id={batch_id}")
            )
            # io.write_jsonl keeps null-valued keys, so the JSONL twin's
            # object shapes match the parquet twin and the reference's
            # json.dumps output (the policy lives there, once)
            write_jsonl(batch_df, os.path.join(jsonl_dir, f"batch_id={batch_id}"))
        finally:
            batch_df.unpersist()
        if obs is not None:
            with open(os.path.join(metrics_dir, f"batch-{batch_id}.json"), "w") as f:
                json.dump({"batch_id": batch_id, **obs.get}, f)
        with open(marker, "w"):
            pass

    return write_batch
