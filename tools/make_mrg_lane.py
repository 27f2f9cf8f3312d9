"""Generate a multi-row-group copy of an SF fixture under .cache/ for
core-scaling measurements.

The driver fixtures are each ONE parquet row group, so every scan is a
single task and 8-vs-32-core ratios sit at ~1 for overhead-bound keys no
matter how parallel the operators are (VERDICT r14 "scaling block": the
fixture shape, not an engine defect). This tool rewrites each table with
``repartition(N_FILES)`` — same rows, same values, N row groups — so scan
and mapInPandas stages actually fan out and the core-count contrast is
measurable. Row ORDER changes (repartition is a shuffle), which is fine
for every declared query (results are value-deterministic, not
order-dependent) but means this lane is for TIMING evidence, not for the
oracle fixtures, which stay read-only under /root/testdata.

Usage: python tools/make_mrg_lane.py [src_sf_dir] [out_dir] [n_files]
Defaults: /root/testdata/sf0.1 -> .cache/sf0.1_mrg32 with 32 files/table.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def main() -> int:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(REPO, ".cache", "sf0.1_mrg32")
    )
    n_files = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    if os.path.exists(out_dir):
        print(f"{out_dir} already exists — delete it to regenerate")
        return 0
    from hawaiidatapipeline_spark.session import get_spark

    spark = get_spark(app_name="hdp-make-mrg-lane")
    os.makedirs(out_dir, exist_ok=True)
    for table in TABLES:
        df = spark.read.parquet(os.path.join(src, f"{table}.parquet"))
        dest = os.path.join(out_dir, f"{table}.parquet")
        df.repartition(n_files).write.mode("overwrite").parquet(dest)
        print(f"{table}: {spark.read.parquet(dest).count()} rows -> {dest}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
