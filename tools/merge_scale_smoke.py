"""Merge-at-scale smoke: does MERGE INTO cost O(increment) or O(table)?

Round 8's verdict marked the lifecycle 'weak for scale' because every
merge rewrote the whole table. Round 9 wired the file-targeted rewrite
(operators/merge.py: persisted stats index → candidate files → carry
the rest by hard link). This tool measures the claim directly:

  - build a key-clustered table (N files, disjoint key ranges, persisted
    index) at 1x and Kx rows;
  - apply the SAME fixed-size increment (update + insert on keys inside
    ONE file's range) with the index present (targeted) and with the
    index removed (full rewrite);
  - report wall time and files rewritten/carried for each.

Healthy result: targeted time roughly flat as the table grows Kx while
full-rewrite time grows with the table — the local[32] analog of
"right-to-be-forgotten touches one file of 100 TB, not the table".

Round 10 adds the CDC section: the same 1x/Kx comparison driven through
``streaming/cdc_apply.py``'s per-batch loop — N micro-batches of mixed
upserts+deletes (each batch up to two file-targeted merges) — measuring
that PER-BATCH latency stays flat as the table grows Kx, the claim the
cdc_apply docstring makes.

Usage: python tools/merge_scale_smoke.py [--factor 30] [--files 32]
Writes MERGE_SCALE.json at the repo root.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

log = logging.getLogger("merge_scale")

BASE = "/root/testdata/sf0.1"


def build_clustered(spark, rows: int, n_files: int, path: str) -> None:
    from weightlifting_wod_etl_spark.operators.skipping import save_stats_index

    shutil.rmtree(path, ignore_errors=True)
    df = spark.range(rows).selectExpr(
        "id AS k", "id * 3 AS v", "concat('row-', id) AS payload"
    )
    (
        df.repartitionByRange(n_files, "k")
        .sortWithinPartitions("k")
        .write.mode("overwrite")
        .parquet(path)
    )
    save_stats_index(path, ["k"])


def one_merge(spark, path: str, keys_lo: int, n_keys: int) -> dict:
    from weightlifting_wod_etl_spark.operators.merge import merge_into

    src = spark.range(keys_lo, keys_lo + n_keys).selectExpr(
        "id AS k", "id * -1 AS v", "concat('upd-', id) AS payload"
    )
    t0 = time.perf_counter()
    stats = merge_into(spark, path, src, on=["k"])
    secs = round(time.perf_counter() - t0, 3)
    return {"seconds": secs, **{k: stats[k] for k in ("files_rewritten", "files_carried", "matched", "inserted")}}


def cdc_run(spark, path: str, n_batches: int, batch_rows: int) -> list[dict]:
    """Drive ``make_cdc_apply``'s foreachBatch function with ``n_batches``
    micro-batches of mixed changes keyed inside the FIRST file's range
    (90% upserts, 10% deletes, several changes per key so the in-batch
    collapse does real work). Returns per-batch timing + merge shape."""
    from weightlifting_wod_etl_spark.operators.skipping import load_stats_index
    from weightlifting_wod_etl_spark.operators.versioned import resolve
    from weightlifting_wod_etl_spark.streaming.cdc_apply import make_cdc_apply

    apply_batch = make_cdc_apply(path, on=["k"], seq_col="seq")
    out = []
    for b in range(n_batches):
        # two changes per key (an earlier U superseded by the final U/D)
        batch = spark.range(batch_rows).selectExpr(
            f"id + {b} AS k",  # drift the key window per batch
            # per-batch offset keeps seq MONOTONE per key across batches
            # (the cross-batch ordering contract cdc_apply's docstring
            # states) — without it later batches would replay stale history
            f"id + {b * batch_rows} AS seq0",
        ).selectExpr(
            "k",
            "stack(2, "
            " 'U', seq0 * 2, concat('mid-', k), "
            " CASE WHEN k % 10 = 0 THEN 'D' ELSE 'U' END, seq0 * 2 + 1, "
            " concat('fin-', k)"
            ") AS (op, seq, payload)",
            "k * -1 AS v",
        ).select("k", "v", "payload", "op", "seq")
        t0 = time.perf_counter()
        apply_batch(batch, b)
        secs = round(time.perf_counter() - t0, 3)
        idx = load_stats_index(resolve(path)) or []
        out.append({"batch": b, "seconds": secs, "n_files": len(idx)})
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=30)
    ap.add_argument("--files", type=int, default=32)
    ap.add_argument("--base-rows", type=int, default=200_000)
    ap.add_argument("--increment", type=int, default=2_000)
    ap.add_argument("--cdc-batches", type=int, default=5)
    ap.add_argument("--out", default=os.path.join(REPO, "MERGE_SCALE.json"))
    args = ap.parse_args()
    logging.basicConfig(format="[%(name)s] %(message)s")
    log.setLevel(logging.INFO)

    from weightlifting_wod_etl_spark.session import get_spark

    spark = get_spark(app_name="wod-merge-scale")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JIT warmup

    # Warm the MERGE path itself before any timed run: the first merge of
    # a session pays Catalyst/codegen/checkpoint warmup that later runs
    # don't, which previously inverted the headline (the 1x targeted
    # merge measured 3x SLOWER than the 30x one — MERGE_SCALE.json r9).
    warm = "/tmp/wod_merge_scale_warmup"
    build_clustered(spark, 10_000, 4, warm)
    one_merge(spark, warm, keys_lo=9_000, n_keys=2_000)
    # VERDICT r10 #6: also warm cdc_apply's own plan shapes (stack
    # expansion, window collapse, delete+upsert double merge) — without
    # this, cdc batch 0 paid ~3.8 s vs a 2.5-2.8 s steady state and
    # inflated cdc_mean_seconds with session warmup, not merge cost.
    cdc_run(spark, warm, n_batches=1, batch_rows=1_000)
    shutil.rmtree(warm, ignore_errors=True)

    report: dict = {
        "factor": args.factor,
        "n_files": args.files,
        "increment_rows": args.increment,
        "sizes": {},
    }
    for label, rows in (("1x", args.base_rows), (f"{args.factor}x", args.base_rows * args.factor)):
        path = f"/tmp/wod_merge_scale_{label}"
        build_clustered(spark, rows, args.files, path)
        # increment keys straddle the table end: the lower half updates
        # rows in the LAST file's range, the upper half is beyond every
        # key the table holds, so the file-targeted INSERT path (new rows
        # folded into the rewritten candidate + index refresh) is
        # exercised — keys_lo=0 previously made every run update-only
        # (inserted=0 in each committed MERGE_SCALE.json).
        keys_lo = rows - args.increment // 2
        targeted = one_merge(spark, path, keys_lo=keys_lo, n_keys=args.increment)

        build_clustered(spark, rows, args.files, path)
        os.remove(os.path.join(path, "_stats_index.parquet"))
        full = one_merge(spark, path, keys_lo=keys_lo, n_keys=args.increment)

        # CDC path: N micro-batches through cdc_apply's foreachBatch loop
        # against a fresh clustered (indexed) table of this size
        build_clustered(spark, rows, args.files, path)
        cdc = cdc_run(spark, path, n_batches=args.cdc_batches,
                      batch_rows=args.increment)
        shutil.rmtree(path, ignore_errors=True)

        report["sizes"][label] = {
            "table_rows": rows,
            "targeted": targeted,
            "full_rewrite": full,
            "cdc_batches": cdc,
            "cdc_mean_seconds": round(
                sum(c["seconds"] for c in cdc) / len(cdc), 3
            ) if cdc else None,
        }
        log.info("%s rows=%s: targeted=%s full=%s cdc_mean=%s", label, rows, targeted,
                 full, report["sizes"][label]["cdc_mean_seconds"])

    t1 = report["sizes"]["1x"]["targeted"]["seconds"]
    tk = report["sizes"][f"{args.factor}x"]["targeted"]["seconds"]
    f1 = report["sizes"]["1x"]["full_rewrite"]["seconds"]
    fk = report["sizes"][f"{args.factor}x"]["full_rewrite"]["seconds"]
    c1 = report["sizes"]["1x"]["cdc_mean_seconds"]
    ck = report["sizes"][f"{args.factor}x"]["cdc_mean_seconds"]
    report["targeted_growth"] = round(tk / t1, 2) if t1 else None
    report["full_growth"] = round(fk / f1, 2) if f1 else None
    report["cdc_growth"] = round(ck / c1, 2) if c1 and ck is not None else None
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({"targeted_growth": report["targeted_growth"],
                      "full_growth": report["full_growth"],
                      "cdc_growth": report["cdc_growth"]}))


if __name__ == "__main__":
    main()
