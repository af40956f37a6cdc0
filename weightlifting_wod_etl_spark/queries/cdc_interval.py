"""Batch-expressible oracle forms for the two streaming operators that
had rows-only/no driver coverage: CDC apply and the event-time interval
join (VERDICT r7 #4/#5, staged per r8 #7).

q_cdc_apply drives the PRODUCTION path end-to-end: it materializes a
base table, synthesizes a deterministic change batch (updates, deletes,
out-of-order duplicates, inserts of unseen keys), applies it through
``streaming.cdc_apply.make_cdc_apply`` — window last-by-sequence
collapse, then one atomic ``merge_into`` commit of the deletes and
upserts — and returns the final table. The oracle states the same
semantics declaratively (row_number collapse + anti-join + union),
which is exactly the Debezium-sink contract the operator promises.

q_interval_join runs ``streaming.joins.interval_join`` on batch frames
(the operator is stream/batch agnostic by design — the batch plan just
has no watermarks): purchases within 30 minutes of a click by the same
user. The physical plan MUST be a hash equi-join on user_id with the
time band as a post-join filter — never a cartesian/nested-loop — which
tests/test_cdc_interval_oracle.py pins.
"""

from __future__ import annotations

import os
import re as _re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table, read_table, scratch_dir
from ..queries_registry import register

ORACLE_CDC_APPLY = """
WITH base AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         round(o_totalprice, 2) AS val
  FROM orders WHERE o_orderkey % 10 < 5
),
changes AS (
  SELECT o_orderkey AS k, 'U' AS op, 1 AS seq, o_orderstatus AS status,
         round(o_totalprice + 11.5, 2) AS val
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, 'D', 2, NULL, NULL
  FROM orders WHERE o_orderkey % 21 = 0
  UNION ALL
  SELECT o_orderkey, 'U', 3, o_orderstatus, round(o_totalprice * 2, 2)
  FROM orders WHERE o_orderkey % 10 >= 5 AND o_orderkey % 4 = 1
),
latest AS (
  -- the FULL total order the operator documents (cdc_apply.py): seq
  -- first, then every payload column DESC as tie-breakers. Ordering by
  -- seq alone left the winner engine-arbitrary when a duplicated source
  -- key mints two same-seq changes with different payloads (caught by
  -- the r12 duplicate-PK dirty rows). DESC in Spark is NULLS LAST, so
  -- pin the same here.
  SELECT k, op, status, val FROM (
    SELECT *, row_number() OVER (
      PARTITION BY k ORDER BY seq DESC, op DESC NULLS LAST,
                            status DESC NULLS LAST, val DESC NULLS LAST
    ) AS rn
    FROM changes
  ) t WHERE rn = 1
)
SELECT b.k, b.status, b.val FROM base b
WHERE b.k NOT IN (SELECT k FROM latest)
UNION ALL
SELECT k, status, val FROM latest WHERE op <> 'D'
"""


def cdc_prepare_base(spark: SparkSession, sf_dir: str) -> str:
    """Rebuild q_cdc_apply's scratch base table and return its path.

    Split out of the query body (VERDICT r16 #3) so the bench can run
    the rebuild OUTSIDE the timed region: the rebuild is parquet-write
    setup, not the MERGE pipeline the HEADLINE entry claims to measure,
    and its cost made q_cdc_apply the noisiest line in every fleet
    channel two rounds running."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 10 < 5).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.round("o_totalprice", 2).alias("val"),
    )
    # under the per-process scratch dir: a bench run overlapping a test
    # run at the same sf can never race one process's overwrite against
    # another's mid-commit merge, and the dir goes at process exit;
    # within one process reruns share the path and stay deterministic
    # (rebuilt from scratch each call)
    scratch = os.path.join(
        scratch_dir(), "cdc_apply_" + _re.sub(r"\W+", "_", sf_dir).strip("_")
    )
    base.write.mode("overwrite").parquet(scratch)  # fresh base every run
    return scratch


def cdc_apply_pipeline(
    spark: SparkSession, sf_dir: str, scratch: str
) -> DataFrame:
    """The MERGE pipeline proper: synthesize the change batch, apply it
    through the production foreachBatch path, and return the table."""
    from ..streaming.cdc_apply import make_cdc_apply

    orders = load_table(spark, sf_dir, "orders")
    upd = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") + 11.5, 2).alias("val"),
    )
    dele = orders.filter(F.col("o_orderkey") % 21 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.lit("D").alias("op"),
        F.lit(2).alias("seq"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("double").alias("val"),
    )
    ins = orders.filter(
        (F.col("o_orderkey") % 10 >= 5) & (F.col("o_orderkey") % 4 == 1)
    ).select(
        F.col("o_orderkey").alias("k"),
        F.lit("U").alias("op"),
        F.lit(3).alias("seq"),
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 2, 2).alias("val"),
    )
    batch = upd.unionByName(dele).unionByName(ins)

    apply_batch = make_cdc_apply(scratch, on=["k"], seq_col="seq", op_col="op")
    apply_batch(batch, 0)
    return read_table(spark, scratch).select("k", "status", "val")


@register("q_cdc_apply", ORACLE_CDC_APPLY)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize a CDC change batch into a table via the production
    foreachBatch path (streaming/cdc_apply.py) and return the table.

    Change batch, all derived from ``orders`` so the oracle can restate
    it: keys %3==0 get an update (new val, seq 1), keys %21==0 a delete
    (seq 2 — beats the seq-1 update for keys divisible by both, pinning
    the last-by-sequence collapse), and a slice of keys OUTSIDE the base
    table (%10>=5, %4==1) arrives as an upsert that must INSERT. Reruns
    rebuild the base table first, so the result is deterministic.

    Split into :func:`cdc_prepare_base` + :func:`cdc_apply_pipeline`
    (VERDICT r16 #3) so bench.py can rebuild the scratch base outside
    the timed region; this registered form still runs both, so the
    driver/correctness surface is unchanged."""
    scratch = cdc_prepare_base(spark, sf_dir)
    return cdc_apply_pipeline(spark, sf_dir, scratch)


ORACLE_INTERVAL_JOIN = """
WITH clicks AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
purch AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT c.user_id, c.click_id, p.purchase_id,
         epoch_us(p.purchase_ts) - epoch_us(c.click_ts) AS delay_us
  FROM clicks c JOIN purch p
    ON c.user_id = p.user_id
   AND p.purchase_ts >= c.click_ts
   AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
)
SELECT user_id,
       count(*)::BIGINT AS n_pairs,
       count(DISTINCT click_id)::BIGINT AS n_clicks_converted,
       min(delay_us)::BIGINT AS min_delay_us,
       max(delay_us)::BIGINT AS max_delay_us
FROM pairs
GROUP BY user_id
"""


@register("q_interval_join", ORACLE_INTERVAL_JOIN)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases within 30 minutes of a click by the same user, through
    ``streaming.joins.interval_join`` on batch frames, aggregated per
    user so the output is bounded by the user count.

    Plan shape (pinned in tests): hash equi-join on user_id with the
    time band as a post-join filter — the batch twin of the
    stream-stream state layout, NEVER a cartesian. At 100 TB both sides
    shuffle once on user_id; per-user click×purchase products are
    bounded by the 30-minute band."""
    from ..streaming.joins import interval_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    pairs = interval_join(
        clicks,
        purch,
        key="user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        max_delay="30 minutes",
        how="inner",
    )
    delay_us = F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("click_id").alias("n_clicks_converted"),
        F.min(delay_us).alias("min_delay_us"),
        F.max(delay_us).alias("max_delay_us"),
    )
