"""Scale-up smoke: replicate the sf0.1 tables K× (FK-consistently) and
measure how query time scales.

The correctness suite proves the engine right at small SF; this tool
probes the SCALING CLAIM directly: build a K× dataset by unioning K
key-shifted replicas (every foreign key shifted by the same per-replica
offset, so join cardinalities scale linearly and no key collides), run a
representative query set on both sizes in one session, and report
time(K×)/time(1×) per query. A healthy plan scales ≤ K (fixed overheads
amortize); anything superlinear is a scale bug worth chasing — the
closest local[32] gets to the 1000-executor question.

Dims (region/nation) are NOT replicated — they are bounded in real
deployments; broadcast joins against them must stay broadcast.

Usage: python tools/scale_smoke.py [--factor 10] [--out SCALE_SMOKE.json]
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

log = logging.getLogger("scale_smoke")

BASE = "/root/testdata/sf0.1"
OFF = 1_000_000_000  # per-replica key offset, far above any sf0.1 key

# column -> shifted per replica (FK-consistent: same offset both sides)
SHIFTS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
KEEP = ["region", "nation"]  # bounded dims: single copy

QUERIES = [
    "q_tpch_q1",        # scan + wide agg
    "q_tpch_q5",        # 6-way join
    "q_tpch_q18",       # big join + group filter
    "q_sessionize_events",  # per-user window
    "q_window_dedup",   # keyed window dedup
    "q_percentile",     # counts-first percentiles
    "q_dedup_exact",    # content-hash groupBy
    "q_skew_agg",       # salted aggregation (hot key grows Kx)
    "q_minhash_lsh",    # LSH banding (duplicate docs Kx -> bucket growth)
    "q_streaks",        # gaps-and-islands
    # r11 (VERDICT r10 #4): the three most expensive non-TPC-H benched
    # plans — docstrings claim shuffle-free / bounded-key behavior at
    # scale; measure it instead of asserting it
    "q_trigram_entropy",   # zero-shuffle per-row run-length fold
    "q_bigram_lm_score",   # bounded vocab bigram LM
    "q_embed_neardup",     # bucketed embedding near-dup
    # r11 streaming-contract registrations, scale-checked from birth
    "q_interval_join",     # user_id equi-join + 30-min band filter
    # r12 (VERDICT r11 #6): the remaining top-10-cost plans without smoke
    # rows — the r11 smoke falsified a documented claim (q_embed_neardup
    # 57.7x), so documented-plausible is not evidence
    "q_wod_pipeline",      # pivot + double sessionization (reference core)
    "q_date_extract",      # scan-local regex extraction claim
    "q_min_cost_supplier", # fixed-point argmin join
    # r13 (VERDICT r12 #4): the remaining top-cost plans without smoke
    # rows — counts-first cumulative-weight window, per-doc TF-IDF with
    # a bounded-vocab DF join, and the 6-table profit rollup
    "q_weighted_median",
    "q_tfidf_topk",
    "q_tpch_q9",
]


def build_scaled(spark, factor: int, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from weightlifting_wod_etl_spark.io import load_table

    os.makedirs(out_dir, exist_ok=True)
    for name in KEEP:
        load_table(spark, BASE, name).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
    for name, cols in SHIFTS.items():
        src = load_table(spark, BASE, name)
        parts = []
        for i in range(factor):
            rep = src
            for c in cols:
                rep = rep.withColumn(c, F.col(c) + F.lit(i * OFF))
            parts.append(rep)
        scaled = parts[0]
        for p in parts[1:]:
            scaled = scaled.unionByName(p)
        scaled.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )


def time_query(qfn, spark, sf_dir: str, runs: int = 2) -> float:
    df = qfn(spark, sf_dir)
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
    return round(min(samples), 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--out", default=os.path.join(REPO, "SCALE_SMOKE.json"))
    ap.add_argument(
        "--scaled-dir",
        default=None,
        help="directory for the scaled dataset (default: "
        "/tmp/wod_scale_<factor>x); used exactly as given",
    )
    ap.add_argument(
        "--keep-scaled",
        action="store_true",
        help="keep the scaled dataset after the run (default: delete it "
        "— it is multiple GB per factor)",
    )
    args = ap.parse_args()
    logging.basicConfig(format="[%(name)s] %(message)s")
    log.setLevel(logging.INFO)

    from weightlifting_wod_etl_spark.queries_registry import QUERIES as REG
    from weightlifting_wod_etl_spark.session import get_spark

    spark = get_spark(app_name="wod-scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # a user-supplied dir is used verbatim (the old f"{dir}{factor}"
    # concatenation silently wrote /data/myscale10 for --scaled-dir
    # /data/myscale); only the default embeds the factor
    scaled_dir = args.scaled_dir or f"/tmp/wod_scale_{args.factor}x"
    t0 = time.perf_counter()
    build_scaled(spark, args.factor, scaled_dir)
    build_s = round(time.perf_counter() - t0, 1)
    log.info("built %sx dataset in %ss", args.factor, build_s)

    report = {"factor": args.factor, "queries": {}}
    for name in QUERIES:
        if name not in REG:
            continue
        base_s = time_query(REG[name], spark, BASE)
        big_s = time_query(REG[name], spark, scaled_dir)
        ratio = round(big_s / base_s, 2) if base_s > 0 else None
        report["queries"][name] = {
            "t_1x": base_s,
            f"t_{args.factor}x": big_s,
            "ratio": ratio,
        }
        flag = " SUPERLINEAR" if ratio and ratio > args.factor * 1.3 else ""
        log.info("%s: %ss -> %ss (%sx)%s", name, base_s, big_s, ratio, flag)

    ratios = [q["ratio"] for q in report["queries"].values() if q["ratio"]]
    report["max_ratio"] = max(ratios) if ratios else None
    report["superlinear"] = [
        n for n, q in report["queries"].items()
        if q["ratio"] and q["ratio"] > args.factor * 1.3
    ]
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    if not args.keep_scaled:
        shutil.rmtree(scaled_dir, ignore_errors=True)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
