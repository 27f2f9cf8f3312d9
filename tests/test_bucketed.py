"""Bucketed-table co-location: the join really runs without shuffles.

The claim behind scan_bucketed_join: writing both join sides
``bucketBy(n, key)`` pre-shuffles them at write time, so a later
sort-merge join on the bucket key needs NO exchange on either input —
the layout a 100 TB deployment uses to pay a fact table's shuffle once
instead of per query. These tests assert the executed (post-AQE) plan
shape, not just the result:

- bucketed ⋈ bucketed (same bucket count): zero Exchange nodes anywhere
  in the join plan, and with ``sortBy`` bucket files the per-partition
  Sort disappears too when each bucket is a single file;
- the same join over plain (unbucketed) parquet DOES shuffle — the
  control that proves the assertion is measuring bucketing, not AQE;
- results are identical between the bucketed and plain layouts.
"""

from pyspark.sql import functions as F

from hawaiidatapipeline_spark.queries.layout import write_bucketed
from hawaiidatapipeline_spark.registry import load_table

from .conftest import SF0001


def _executed_plan(df) -> str:
    df.collect()  # under AQE the final plan only exists after execution
    return df._jdf.queryExecution().executedPlan().toString()


def _joined(left, right):
    return left.hint("merge").join(right, left.o_custkey == right.c_custkey)


def test_bucketed_join_has_no_exchange(spark):
    o = load_table(spark, SF0001, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, SF0001, "customer").select("c_custkey", "c_mktsegment")
    bo = write_bucketed(o, "t_bk_orders", "o_custkey")
    bc = write_bucketed(c, "t_bk_customer", "c_custkey")

    plan = _executed_plan(_joined(bo, bc))
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan

    control = _executed_plan(_joined(o, c))
    assert "Exchange" in control, control

    # sortBy + one file per bucket can also drop the per-partition Sort,
    # but since Spark 3.0 the scan only reports its on-disk ordering under
    # the legacy flag (SPARK-28595 made the files-per-bucket check opt-in)
    key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    spark.conf.set(key, "true")
    try:
        sorted_plan = _executed_plan(_joined(bo, bc))
        assert "Exchange" not in sorted_plan, sorted_plan
        assert "Sort " not in sorted_plan, sorted_plan
    finally:
        spark.conf.set(key, "false")


def test_bucketed_join_matches_plain_join(spark):
    o = load_table(spark, SF0001, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, SF0001, "customer").select("c_custkey", "c_mktsegment")
    bo = write_bucketed(o, "t_bk_orders2", "o_custkey")
    bc = write_bucketed(c, "t_bk_customer2", "c_custkey")

    def agg(df):
        return sorted(
            df.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("s"))
            .collect()
        )

    assert agg(_joined(bo, bc)) == agg(o.join(c, o.o_custkey == c.c_custkey))


def test_bucket_pruning_on_point_lookup(spark):
    """Point lookups on the bucket key read only the matching bucket:
    the scan reports `Bucketed: true` and selects 1 of n buckets. The
    DisableUnnecessaryBucketedScan planner rule turns bucketed scans off
    for filter-only plans (no operator needs the distribution), so pin
    autoBucketedScan off for the assertion — on a real deployment point
    lookups keep it off too, trading bucket pruning for one-file reads."""
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        o = load_table(spark, SF0001, "orders").select("o_orderkey", "o_custkey")
        bo = write_bucketed(o, "t_bk_orders3", "o_custkey", n_buckets=8)
        df = bo.filter(F.col("o_custkey") == 42)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan
    finally:
        spark.conf.set(key, prev)


def test_sorted_export_files_have_disjoint_ranges(spark):
    """sink_sorted_export's contract: after repartitionByRange + sort,
    each parquet file covers a contiguous, non-overlapping l_shipdate
    slice — footer stats then prune time-window scans to the overlapping
    files only. Natural (unsorted) layout is the control: its per-file
    ranges all overlap."""
    import glob
    import os

    import pyarrow.parquet as pq

    from hawaiidatapipeline_spark import CACHE_DIR
    from hawaiidatapipeline_spark.queries.layout import sink_sorted_export

    def file_ranges(path):
        out = []
        for f in glob.glob(f"{path}/*.parquet"):
            meta = pq.ParquetFile(f).metadata
            idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}[
                "l_shipdate"
            ]
            los, his = [], []
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx).statistics
                los.append(st.min)
                his.append(st.max)
            out.append((min(los), max(his)))
        return sorted(out)

    sink_sorted_export(spark, SF0001)
    ranges = file_ranges(os.path.join(CACHE_DIR, "lineitem_sorted"))
    assert len(ranges) == 8
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next, f"overlapping file ranges: {ranges}"

    li = load_table(spark, SF0001, "lineitem").select("l_orderkey", "l_shipdate")
    natural = os.path.join(CACHE_DIR, "lineitem_natural")
    li.repartition(8).write.mode("overwrite").parquet(natural)
    nat = file_ranges(natural)
    overlaps = sum(
        1 for (_, hi_prev), (lo_next, _) in zip(nat, nat[1:]) if hi_prev > lo_next
    )
    assert overlaps >= len(nat) - 2, f"control should overlap, got {nat}"


def test_bucketed_groupby_has_no_exchange(spark):
    """Aggregation on the bucket key needs NO exchange: the write-time
    bucketing already co-located each key's rows, so the groupBy runs
    map-side only. At 100 TB this is the difference between a nightly
    per-customer rollup that shuffles the fact table and one that
    streams each bucket file through a single aggregate — the same
    layout investment pays for joins AND aggregations."""
    o = load_table(spark, SF0001, "orders").select("o_custkey", "o_totalprice")
    bo = write_bucketed(o, "t_bk_agg_orders", "o_custkey")

    agg = bo.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("total"))
    plan = _executed_plan(agg)
    assert "Exchange" not in plan, plan

    control = _executed_plan(
        o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("total"))
    )
    assert "Exchange" in control, control

    # results identical to the unbucketed aggregate
    got = sorted((r.o_custkey, round(r.total, 4)) for r in agg.collect())
    want = sorted(
        (r.o_custkey, round(r.total, 4))
        for r in o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("total")).collect()
    )
    assert got == want
