"""Ad-hoc per-query timing + plan capture for optimization work.

Usage:
    python tools/qtime.py q_foo q_bar            # min-of-N noop timing
    python tools/qtime.py --plan out_dir q_foo   # also write explain("formatted")
    python tools/qtime.py --runs 5 q_foo

Same methodology as bench.py's min-of-N timings: frame built once,
N noop-sink re-executions, report min (and all samples). Reads
$SPARK_GRAFT_SF_DIR (default sf0.1) and $SPARK_GRAFT_CPUS like bench.py.
Not part of the bench contract — a dev tool only.
"""

from __future__ import annotations

import argparse
import logging
import os
import sys
import time

log = logging.getLogger("qtime")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--plan", default=None, help="dir to write <q>_plan.txt")
    ap.add_argument("--suffix", default="plan", help="plan file suffix")
    ap.add_argument("--conf", action="append", default=[], help="k=v extra conf")
    ap.add_argument(
        "--final-plan", action="store_true",
        help="also collect() once and capture the AQE-final executed plan",
    )
    args = ap.parse_args()
    logging.basicConfig(format="%(message)s")

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from weightlifting_wod_etl_spark.queries_registry import QUERIES
    from weightlifting_wod_etl_spark.session import get_spark

    extra = dict(kv.split("=", 1) for kv in args.conf)
    extra.setdefault("spark.ui.showConsoleProgress", "false")
    spark = get_spark(app_name="wod-etl-qtime", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup

    for name in args.queries:
        if name not in QUERIES:
            log.warning("UNKNOWN %s", name)
            continue
        spark.sparkContext.setJobDescription(f"qtime:{name}")
        df = QUERIES[name](spark, sf_dir)
        if args.plan:
            os.makedirs(args.plan, exist_ok=True)
            p = os.path.join(args.plan, f"{name}_{args.suffix}.txt")
            jvm = spark._jvm
            mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            with open(p, "w") as fh:
                fh.write(df._jdf.queryExecution().explainString(mode))
        samples = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        if args.plan and args.final_plan:
            # post-execution capture: under AQE the final plan (with
            # AQEShuffleRead / ReusedExchange / runtime join rewrites)
            # only exists after the plan has run — and a noop WRITE runs
            # a cloned QueryExecution, so collect() the df itself once
            # and read ITS executed plan
            df.collect()
            p = os.path.join(args.plan, f"{name}_{args.suffix}_final.txt")
            with open(p, "w") as fh:
                fh.write(df._jdf.queryExecution().executedPlan().toString())
        print(
            f"{name}: min={min(samples):.3f}s  "
            f"samples={[round(s, 3) for s in samples]}"
        )
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
