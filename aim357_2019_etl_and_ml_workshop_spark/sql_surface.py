"""SQL entry point (SURVEY.md §3.2 — Entry B parity).

The reference issues SQL strings against a catalog (Athena/Presto over the
Glue catalog). The engine equivalent: register the tables as Spark SQL
views once, then ``engine_sql`` is a straight ``spark.sql`` passthrough —
Catalyst parse -> analyze -> optimize -> physical, same planner as the
DataFrame surface, so both entry points produce identical plans for
equivalent queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .session import pin_session_conf
from .sources.io import TESTDATA_TABLES, _t


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (catalog surface S5/S6
    for the session scope; persistent-catalog registration lives in
    sources.io.register_catalog_table).

    The views come from the engine's reader memo (sources.io._t), so only
    the first call per (session, sf_dir) pays the ten parquet
    schema-inference jobs; a repeat call starts no Spark job."""
    for t in TESTDATA_TABLES:
        _t(spark, sf_dir, t).createOrReplaceTempView(t)


def engine_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """The reference's pd.read_sql(query, athena) equivalent
    (DataDiscoveryAndConversation.rst:165-171): SQL text in, DataFrame out."""
    pin_session_conf(spark)
    register_views(spark, sf_dir)
    return spark.sql(sql)
