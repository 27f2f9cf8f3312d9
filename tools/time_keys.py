"""Quick noop-sink timing for named queries (guide §1.4): median of N passes.

Usage: SPARK_GRAFT_SF_DIR=... python tools/time_keys.py [-p N] key [key ...]
Not the official bench — an iteration tool for optimization work.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    passes = 3
    if args and args[0] == "-p":
        passes = int(args[1])
        args = args[2:]

    from hawaiidatapipeline_spark.queries import collect
    from hawaiidatapipeline_spark.session import get_spark

    spark = get_spark(app_name="hdp-time-keys")
    queries, _ = collect()
    # warmup: codegen + python worker pool
    queries["pricing_summary"](spark, SF_DIR).write.mode("overwrite").format(
        "noop"
    ).save()
    spark.range(1000).mapInPandas(lambda it: it, "id long").write.mode(
        "overwrite"
    ).format("noop").save()

    total = 0.0
    for name in args:
        fn = queries[name]
        samples = []
        for _ in range(passes):
            spark.sparkContext.setJobDescription(f"time:{name}")
            t0 = time.time()
            fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
            samples.append(time.time() - t0)
        med = statistics.median(samples)
        total += med
        print(
            f"{med:8.3f}  (min {min(samples):7.3f} max {max(samples):7.3f})  {name}",
            flush=True,
        )
    print(f"{total:8.3f}  TOTAL")
    spark.stop()


if __name__ == "__main__":
    main()
