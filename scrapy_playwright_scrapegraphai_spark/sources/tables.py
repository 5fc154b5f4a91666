"""Loaders for the driver's read-only testdata parquet tables.

TESTDATA.md: `/root/testdata/sf{0.001,0.01,0.1}/<name>.parquet`, tables
region nation customer supplier part orders lineitem events documents
embeddings. Plain ``spark.read.parquet`` keeps Catalyst's predicate
pushdown / column pruning on the scan (verify via PushedFilters /
ReadSchema in ``.explain('formatted')``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")

