"""Table catalog over the driver-generated parquet test tables.

The reference has no catalog — schemas are inferred per replication
message from a relation-OID cache (producer.go:68,121-122). Here schemas
are declared (FIXTURES.md §A) and parquet scans are the source, so
Catalyst gets column pruning + predicate pushdown for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES: tuple[str, ...] = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one parquet table. Pushdown-friendly: no caching, no collect."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def scan_parallel(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Fan a degenerate scan out to the session's parallelism before
    compute-heavy per-row work (shingling, hashing, JSON encode).

    Small-SF parquet is a single row group, so the scan — and everything
    Catalyst pipelines into its stage — runs as ONE task; a cheap
    round-robin shuffle of the narrow input buys stage-wide parallelism
    for the expensive expressions. At real scale scans arrive with many
    splits and this is a no-op, so no extra shuffle exists at 100 TB;
    callers apply it AFTER projecting down to the columns they need so
    the exchanged bytes stay minimal."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def driver_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """A small frame the driver decided (a broadcast lookup: a label
    remap, sampled labels, a vocabulary) as a JVM-local relation.
    ``createDataFrame`` over a Python list ``parallelize``s it, so every
    job that reads the frame — each broadcast of it — runs Python
    worker tasks. Built from a ``pyarrow.Table``, the rows go to the
    JVM once and the plan scans a ``LocalTableScan``. ``rows`` are
    tuples in ``schema``'s column order (a DDL string)."""
    import pyarrow as pa
    from pyspark.sql.types import _parse_datatype_string

    names = _parse_datatype_string(schema).names
    cols = zip(*rows) if rows else ([] for _ in names)
    return spark.createDataFrame(
        pa.table(dict(zip(names, map(list, cols)))), schema)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every table as a temp view for the SQL surface."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
