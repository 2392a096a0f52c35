"""The native SQL surface.

The reference delegates every real query to BigQuery
(BQReidentificationPipeline.java:100-105) — the heart of this engine is
replacing that delegation with Catalyst: register tables as temp views,
``spark.sql`` the same standard SQL, and let Catalyst parse → resolve →
optimize → whole-stage-codegen execute (SURVEY.md §3.2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def register_dir(spark: SparkSession, directory: str, tables: tuple[str, ...] | None = None) -> list[str]:
    """Register every ``<table>.parquet`` in a directory as a temp view."""
    names = []
    for name in tables or _discover(directory):
        path = os.path.join(directory, f"{name}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(name)
            names.append(name)
    return names


def _discover(directory: str) -> list[str]:
    return sorted(
        f[: -len(".parquet")] for f in os.listdir(directory) if f.endswith(".parquet")
    )


def sql(spark: SparkSession, query: str, data_dir: str | None = None) -> DataFrame:
    """Run standard SQL natively (S7). If ``data_dir`` is given, its
    tables are (re)registered first."""
    if data_dir:
        register_dir(spark, data_dir)
    return spark.sql(query)
