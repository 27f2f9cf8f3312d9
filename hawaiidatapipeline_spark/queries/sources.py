"""Sources / sinks / catalog (SURVEY.md §2.A).

The reference fetched JSON rows from the SODA API and cached/exported
CSV/JSON locally. Here: Parquet is the canonical store (columnar, footer
schemas, predicate pushdown); CSV and JSON-lines are interchange formats
proven lossless by write→read roundtrips through explicit schemas; the
catalog query is the portal dataset listing reborn.

Roundtrip scratch space lives under ``.cache/`` in the repo (gitignored) —
at scale this is an object-store landing zone.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hawaiidatapipeline_spark import CACHE_DIR
from hawaiidatapipeline_spark.queries._registry import new_module_registry
from hawaiidatapipeline_spark.registry import TABLES, load_table

QUERIES, ORACLES, q = new_module_registry()

_SCRATCH = CACHE_DIR


def _scratch(name: str) -> str:
    path = os.path.join(_SCRATCH, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(_SCRATCH, exist_ok=True)
    return path


@q("scan_csv_roundtrip", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source with explicit schema — proves lossless roundtrip
    (the reference's local CSV cache/export)."""
    n = load_table(spark, sf_dir, "nation")
    path = _scratch("nation_csv")
    n.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema("n_nationkey int, n_name string, n_regionkey int").option(
        "header", True
    ).csv(path).select("n_nationkey", "n_name", "n_regionkey")


@q(
    "scan_jsonlines",
    """SELECT event_id, user_id, event_type, round(value, 6) AS value
       FROM events WHERE event_id < 1000""",
)
def scan_jsonlines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + schema'd source — the SODA wire format (newline-
    delimited JSON rows) parsed into a typed DataFrame."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") < 1000)
        .select("event_id", "user_id", "event_type", F.round("value", 6).alias("value"))
    )
    path = _scratch("events_jsonl")
    e.write.mode("overwrite").json(path)
    return spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, value double"
    ).json(path)


def _catalog_oracle() -> str:
    parts = []
    from pyspark.sql import SparkSession  # schema col-counts are static per FIXTURES.md

    ncols = {
        "region": 2,
        "nation": 3,
        "customer": 5,
        "supplier": 4,
        "part": 6,
        "orders": 6,
        "lineitem": 11,
        "events": 6,
        "documents": 5,
        "embeddings": 3,
    }
    for t in TABLES:
        parts.append(
            f"SELECT '{t}' AS table_name, {ncols[t]} AS n_columns, count(*) AS n_rows FROM {t}"
        )
    return " UNION ALL ".join(parts)


# Static column metadata per FIXTURES.md — the oracle's literal twin of the
# Parquet-footer schema the Spark side reads live.
_TABLE_COLUMNS = {
    "region": "r_regionkey,r_name",
    "nation": "n_nationkey,n_name,n_regionkey",
    "customer": "c_custkey,c_name,c_nationkey,c_acctbal,c_mktsegment",
    "supplier": "s_suppkey,s_name,s_nationkey,s_acctbal",
    "part": "p_partkey,p_name,p_brand,p_type,p_size,p_retailprice",
    "orders": "o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate,o_orderpriority",
    "lineitem": (
        "l_orderkey,l_partkey,l_suppkey,l_linenumber,l_quantity,l_extendedprice,"
        "l_discount,l_tax,l_returnflag,l_linestatus,l_shipdate"
    ),
    "events": "event_id,ts,user_id,event_type,value,props",
    "documents": "doc_id,text,lang,source,n_chars",
    "embeddings": "vec_id,embedding,label",
}


def _catalog_search_oracle(needle: str) -> str:
    from hawaiidatapipeline_spark.registry import TABLE_CATEGORIES

    parts = [
        f"SELECT '{t}' AS table_name, '{TABLE_CATEGORIES[t]}' AS category, "
        f"{len(_TABLE_COLUMNS[t].split(','))} AS n_columns, count(*) AS n_rows, "
        f"'{_TABLE_COLUMNS[t]}' AS column_names FROM {t}"
        for t in TABLES
    ]
    detail = " UNION ALL ".join(parts)
    return f"""WITH detail AS ({detail}),
       m AS (
         SELECT table_name, category, n_columns, n_rows,
                concat_ws(',',
                  CASE WHEN table_name LIKE '%{needle}%' THEN 'name' END,
                  CASE WHEN category LIKE '%{needle}%' THEN 'category' END,
                  CASE WHEN column_names LIKE '%{needle}%' THEN 'columns' END
                ) AS matched_in
         FROM detail
       )
       SELECT table_name, category, matched_in, n_columns, n_rows
       FROM m WHERE matched_in <> ''"""


@q("catalog_search", _catalog_search_oracle("supp"))
def catalog_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog search over the portal's documented search fields — dataset
    name, category tag, and column metadata (Engine.search): needle 'supp'
    must surface supplier (name + its s_suppkey column) AND lineitem (its
    l_suppkey column only). Metadata-scale driver work: ten footer reads,
    never a data scan."""
    from hawaiidatapipeline_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    return eng.search("supp").select(
        "table_name", "category", "matched_in", "n_columns", "n_rows"
    )


@q("catalog_list", _catalog_oracle())
def catalog_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset catalog listing — name, column count, row count for every
    registered table (the reference's portal catalog list/search; filter by
    name substring composes on top as a plain ``filter``)."""
    rows = []
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        rows.append((name, len(df.columns), df.count()))
    return spark.createDataFrame(rows, "table_name string, n_columns int, n_rows bigint")


@q("sink_parquet_partitioned", "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1")
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned Parquet sink — the engine's canonical materialization
    (``partitionBy`` on the low-cardinality key ⇒ partition pruning on
    re-read; at 100 TB this is date-partitioning on facts). Proves the
    written partitions reload to identical per-key counts."""
    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_orderkey")
    path = _scratch("lineitem_by_flag")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    return (
        spark.read.parquet(path)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
