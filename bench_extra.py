"""Per-op isolation bench (guide §1.4): warm session, noop sink, N reps
per op, min+median reported. Separate from the FROZEN bench.py — this is
the builder's measurement harness for the r9 optimization round.

Usage:
  python bench_extra.py [op ...]          # default: the 27 bench ops
  python bench_extra.py --reps 3 op ...
  python bench_extra.py --explain out_dir op ...   # also dump plans
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import BENCH_QUERIES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("ops", nargs="*", default=None)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain", default=None,
                    help="directory to dump .explain('formatted') per op")
    ap.add_argument("--suffix", default="",
                    help="filename suffix for explain dumps (_before/_after)")
    args = ap.parse_args()
    names = args.ops or BENCH_QUERIES

    from trek_spark.spark.ops import OPS
    from trek_spark.spark.session import get_spark

    spark = get_spark("bench-extra", master=f"local[{CPUS}]")
    out = {}
    try:
        spark.range(1).count()
        # warm the parquet scan + codegen machinery once so per-op numbers
        # measure the op, not first-query session setup
        OPS["token_counts"][0](spark, SF_DIR).write.format("noop") \
            .mode("overwrite").save()
        for name in names:
            fn, _sql = OPS[name]
            if args.explain:
                os.makedirs(args.explain, exist_ok=True)
                df = fn(spark, SF_DIR)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
                with open(os.path.join(
                        args.explain, f"{name}{args.suffix}.txt"), "w") as fh:
                    fh.write(plan)
            samples = []
            for _ in range(args.reps):
                # ops that cache/checkpoint internally must not hand later
                # reps warm state — each rep measures a cold evaluation
                spark.catalog.clearCache()
                spark.sparkContext.setJobDescription(f"bench_extra:{name}")
                t0 = time.time()
                fn(spark, SF_DIR).write.format("noop") \
                    .mode("overwrite").save()
                samples.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            out[name] = {"min": min(samples),
                         "med": sorted(samples)[len(samples) // 2],
                         "samples": samples}
            print(f"{name}: min={out[name]['min']} samples={samples}",
                  flush=True)
    finally:
        spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
