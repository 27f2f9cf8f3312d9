"""Engine facade: the reference's console workflow end-to-end."""

import pytest
from pyspark.sql import functions as F

from hawaiidatapipeline_spark.engine import Engine

from .conftest import SF0001


@pytest.fixture()
def eng(spark):
    return Engine(spark, SF0001)


def test_catalog_and_search(eng):
    cat = {r.table_name: r.n_rows for r in eng.catalog().collect()}
    assert cat["lineitem"] == 6000 and cat["region"] == 5
    found = [r.table_name for r in eng.search("Doc").collect()]
    assert found == ["documents"]


def test_search_category_and_column_fields(eng):
    # category facet: both reference tables, matched via the category tag
    by_cat = {r.table_name: r.matched_in for r in eng.search("referen").collect()}
    assert by_cat == {"region": "category", "nation": "category"}
    # column metadata: supplier hits on name+column, lineitem on l_suppkey only
    by_col = {r.table_name: r.matched_in for r in eng.search("supp").collect()}
    assert by_col == {"supplier": "name,columns", "lineitem": "columns"}
    # field restriction: name-only search must not see column hits
    only_name = [r.table_name for r in eng.search("supp", fields=("name",)).collect()]
    assert only_name == ["supplier"]


def test_table_fetch_and_unknown(eng):
    assert eng.table("nation").count() == 25
    with pytest.raises(KeyError, match="unknown table"):
        eng.table("nope")


def test_sql_entry_point(eng):
    n = eng.sql("SELECT count(*) AS n FROM orders WHERE o_totalprice > 100000").collect()[0].n
    assert n > 0


def test_soql_entry_point(eng):
    """The reference's SODA parameter bundle runs verbatim via the facade."""
    got = eng.soql(
        "documents",
        {"$select": "doc_id, lang", "$q": "merge", "$order": "doc_id", "$limit": "5"},
    )
    rows = got.collect()
    assert len(rows) <= 5 and all(r.doc_id is not None for r in rows)


def test_export_roundtrip(eng, tmp_path):
    df = eng.table("region")
    path = eng.export(df, str(tmp_path / "region_csv"), fmt="csv")
    back = eng.spark.read.option("header", True).schema(df.schema).csv(path)
    assert sorted(tuple(r) for r in back.collect()) == sorted(tuple(r) for r in df.collect())


def test_cache_stage_cuts_lineage(eng, tmp_path):
    from hawaiidatapipeline_spark.plans import audit

    df = eng.table("orders").filter(F.col("o_totalprice") > 200000)
    cached = eng.cache_stage(df, "big_orders", cache_dir=str(tmp_path))
    assert cached.count() == df.count()
    assert "Scan parquet" in audit.explain_str(cached)


def test_prepare_session_skips_only_unsettable_confs(spark, monkeypatch):
    """A conf the live session cannot change is skipped; a rejected value
    is a fault and must surface, not be swallowed."""
    from pyspark.errors import IllegalArgumentException

    from hawaiidatapipeline_spark import session

    monkeypatch.setattr(
        session,
        "_RUNTIME_CONFS",
        {"spark.sql.warehouse.dir": "/nonexistent", "spark.executor.memory": "1g"},
    )
    session.prepare_session(spark)  # static + core confs: skipped
    monkeypatch.setattr(
        session, "_RUNTIME_CONFS", {"spark.sql.shuffle.partitions": "many"}
    )
    with pytest.raises(IllegalArgumentException):
        session.prepare_session(spark)
