"""Generate a ~sf0.3 scale lane under .cache/ for 3-point scaling curves.

The driver fixtures stop at sf0.1 and are read-only, so the third scale
point is synthesized from sf0.1 by key-offset replication (3 replicas,
stride 10^9): every table triples its rows while FK chains stay consistent
WITHIN each replica (orderkey/custkey/partkey/suppkey all shift by the
same stride), and the fixed dims (region, nation) stay single-copy — the
same shape real TPC-H scaling has. Content columns are perturbed so the
workload SHAPE is preserved, not just the row count:

- ``documents.text`` in replicas 1-2 gets a per-replica token suffix, so
  replicas are NOT near-duplicates of each other — a verbatim triple
  would hand the dedup operators 2 extra guaranteed near-dup partners
  per doc and turn a linear candidate stage into an artificial pairwise
  blowup the real corpus doesn't have. Within-replica near-dup structure
  (the thing those operators actually measure) is preserved exactly.
- ``embeddings.embedding`` gets a tiny deterministic per-replica offset
  so top-k neighborhoods don't degenerate into exact ties.

This lane exists ONLY for scaling curves (tools/scaling_probe.py); the
correctness gate keeps running against the untouched driver fixtures.

Run: ``python tools/make_scale_lane.py [out_dir] [replicas]`` (default
``.cache/sf0.3`` with 3 replicas; e.g. ``.cache/sf1.0 10`` builds the
10x lane for tools/scale10_probe.py). ~10 s; skips work if the output
already exists.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, functions as F  # noqa: E402

SRC = "/root/testdata/sf0.1"
DEFAULT_OUT = os.path.join(REPO, ".cache", "sf0.3")
STRIDE = 1_000_000_000
REPLICAS = 3

# per-table key columns to offset by replica * STRIDE (FK-consistent)
KEY_OFFSETS = {
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
FIXED_DIMS = {"region", "nation"}  # single-copy, like real TPC-H


def _replicate(df: DataFrame, table: str, r: int) -> DataFrame:
    out = df
    for k in KEY_OFFSETS[table]:
        out = out.withColumn(k, (F.col(k) + F.lit(r * STRIDE)).cast("long"))
    if table == "documents" and r > 0:
        # disjoint vocabulary per replica: token -> token + "~r<k>"
        out = out.withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split("text", " "), lambda t: F.concat(t, F.lit(f"~r{r}"))
                ),
                " ",
            ),
        ).withColumn("n_chars", F.length("text"))
    if table == "embeddings" and r > 0:
        out = out.withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: (x + F.lit(r * 0.0011) * ((i % 7) - 3).cast("double")).cast(
                    "float"
                ),
            ),
        )
    return out


def main() -> int:
    global REPLICAS
    out_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_OUT
    if len(sys.argv) > 2:
        REPLICAS = int(sys.argv[2])
    if os.path.exists(out_dir):
        print(f"{out_dir} already exists — delete it to regenerate")
        return 0
    from hawaiidatapipeline_spark.session import get_spark

    spark = get_spark(app_name="hdp-make-scale-lane")
    os.makedirs(out_dir, exist_ok=True)
    for table in KEY_OFFSETS:
        df = spark.read.parquet(os.path.join(SRC, f"{table}.parquet"))
        if table in FIXED_DIMS:
            scaled = df
        else:
            scaled = _replicate(df, table, 0)
            for r in range(1, REPLICAS):
                scaled = scaled.unionByName(_replicate(df, table, r))
        dest = os.path.join(out_dir, f"{table}.parquet")
        scaled.write.mode("overwrite").parquet(dest)
        print(f"{table}: {spark.read.parquet(dest).count()} rows -> {dest}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
