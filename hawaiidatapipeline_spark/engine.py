"""The user-facing Engine facade — the reference's console workflow reborn.

The reference's documented UX (SURVEY.md §0.2): start a console, make a
client from config, list/search the portal catalog, fetch a dataset by id,
munge rows, export/cache locally. The Engine maps each step onto the Spark
stack:

    eng = Engine.local(sf_dir="/root/testdata/sf0.1")
    eng.catalog()                      # list datasets (name, cols, rows)
    eng.search("doc")                  # catalog search by name substring
    df = eng.table("lineitem")         # fetch → DataFrame (lazy, not rows)
    eng.sql("SELECT ... FROM lineitem")# full SQL over the catalog
    eng.soql("documents", {"$q": "x"}) # the reference's SODA params, verbatim
    eng.export(df, "out", fmt="csv")   # the local-cache/export step
    eng.pipeline("daily")              # stage-DAG builder (plans/)

The crucial inversion vs the reference: ``table()`` returns a *lazy plan*
over distributed storage, not materialized rows in client memory — the
100 TB discipline baked into the API shape.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from hawaiidatapipeline_spark import CACHE_DIR
from hawaiidatapipeline_spark.plans.pipeline import Pipeline
from hawaiidatapipeline_spark.registry import DEFAULT_SF_DIR, TABLES, load_table
from hawaiidatapipeline_spark.session import get_spark, prepare_session


class Engine:
    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = prepare_session(spark)
        self.sf_dir = sf_dir
        self._registered = False

    @classmethod
    def local(cls, sf_dir: str = DEFAULT_SF_DIR, **session_kwargs) -> "Engine":
        return cls(get_spark(**session_kwargs), sf_dir)

    # ------------------------------------------------------------ catalog

    def catalog(self) -> DataFrame:
        """Dataset listing (name, n_columns, n_rows) — the portal catalog."""
        from hawaiidatapipeline_spark.registry import catalog

        return catalog(self.spark, self.sf_dir)

    def search(
        self, needle: str, fields: tuple[str, ...] = ("name", "category", "columns")
    ) -> DataFrame:
        """Catalog search across the portal's documented search fields:
        dataset name, category tag, and column metadata (case-insensitive
        substring each). Returns matching datasets with a ``matched_in``
        column listing which fields hit — `eng.search("supp")` finds both
        the supplier table (name) and lineitem (its l_suppkey column)."""
        from pyspark.sql import functions as F

        from hawaiidatapipeline_spark.registry import catalog_detail

        n = needle.lower()
        probes = {
            "name": F.lower(F.col("table_name")),
            "category": F.lower(F.col("category")),
            "columns": F.lower(F.col("column_names")),
        }
        flags = [
            F.when(probes[f].contains(n), F.lit(f)) for f in probes if f in fields
        ]
        d = catalog_detail(self.spark, self.sf_dir).withColumn(
            "matched_in", F.concat_ws(",", F.array_compact(F.array(*flags)))
        )
        return d.filter(F.col("matched_in") != "")

    # ------------------------------------------------------------ access

    def table(self, name: str) -> DataFrame:
        """Fetch a dataset as a lazy DataFrame (the '4x4 id' fetch analog)."""
        if name not in TABLES:
            raise KeyError(f"unknown table {name!r}; catalog: {', '.join(TABLES)}")
        return load_table(self.spark, self.sf_dir, name)

    def register_views(self) -> None:
        """Make every catalog table visible to ``sql()`` as a temp view."""
        from hawaiidatapipeline_spark.registry import register_all

        register_all(self.spark, self.sf_dir)
        self._registered = True

    def sql(self, query: str) -> DataFrame:
        """SQL entry point over the registered catalog (SoQL's successor)."""
        if not self._registered:
            self.register_views()
        return self.spark.sql(query)

    def soql(self, table: str, params: dict[str, str]) -> DataFrame:
        """The reference's literal request surface: a SODA parameter bundle
        (``$select``/``$where``/``$group``/``$having``/``$order``/
        ``$limit``/``$offset``/``$q``) against a dataset —
        ``eng.soql("documents", {"$q": "merge", "$limit": "100"})`` is the
        engine twin of the client's portal GET (soql.py compiles it to one
        Catalyst plan)."""
        from hawaiidatapipeline_spark.soql import soql_query

        return soql_query(self.table(table), params)

    # ------------------------------------------------------------ export

    def export(self, df: DataFrame, path: str, fmt: str = "parquet", **options) -> str:
        """The reference's cache/export step. Parquet is canonical; CSV/JSON
        for interchange. Returns the written path."""
        writer = df.write.mode("overwrite").options(**options)
        if fmt == "csv":
            writer = writer.option("header", True)
        getattr(writer, fmt)(path)
        return path

    def cache_stage(self, df: DataFrame, name: str, cache_dir: str = CACHE_DIR) -> DataFrame:
        """Materialize an intermediate to parquet and reload it (lineage cut
        + cross-session reuse) — the engine-side 'local cache'."""
        path = os.path.join(cache_dir, "stages", name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    # ------------------------------------------------------------ pipeline

    def pipeline(self, name: str, checkpoint_dir: str | None = None) -> Pipeline:
        return Pipeline(self.spark, name, checkpoint_dir)
