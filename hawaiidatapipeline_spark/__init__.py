"""hawaiidatapipeline_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
``mudphone/HawaiiDataPipeline`` (a Ruby Socrata/SODA ETL client; the local
reference snapshot is a tombstone README — see SURVEY.md §0). The reference's
two-layer model (declarative SoQL query pushed to a server + imperative row
post-processing in Ruby) is re-expressed Spark-first: Catalyst handles the
declarative layer, Arrow-vectorized pandas UDFs the imperative escape hatch.

Design stance (SURVEY.md §1.2): DataFrame-first, columnar Parquet storage,
explicit schemas, no RDDs, no driver-side materialization except explicit
collect at the edges. Built for 100 TB / multi-executor scale, tested on
local mode.
"""

import os

# Scratch and cache root (landing zones, staged copies, cache_stage
# output): ``.cache`` beside the package, so every checkout keeps its
# own files. Defined before the submodule imports below, which read it.
CACHE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache"
)

from hawaiidatapipeline_spark.session import get_spark, prepare_session
from hawaiidatapipeline_spark.registry import load_table, register_all, TABLES

__all__ = ["get_spark", "prepare_session", "load_table", "register_all", "TABLES"]
__version__ = "0.1.0"
