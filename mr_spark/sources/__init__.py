"""Sources: parquet table loaders + the whole-file text source.

The reference's only source is a whole-file UTF-8 text scan — record =
(path, contents) (sequential/src/main.rs:22-28; worker.rs:112-117).
Here that is ``whole_text_files``; the analytics tier reads typed parquet.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TPCH_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor
# (region=5, nation=25 rows; supplier/part grow slowly with SF).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a session-UTC TIMESTAMP regardless of how
    the parquet stored it. Generated testdata has shipped it two ways:
    TIMESTAMP(NANOS) — read as long under nanosAsLong, truncated to µs —
    and plain ``timestamp[us]`` with no timezone, which Spark reads as
    TIMESTAMP_NTZ. Both become the same UTC instants (session tz is UTC),
    matching DuckDB's naive-UTC timestamps bit-for-bit."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Session confs that change how Spark maps a parquet footer to a schema.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
)
_SCHEMAS: dict[tuple, StructType] = {}


def _footer_digest(path: str) -> bytes | None:
    """Digest of a parquet file's footer (thrift FileMetaData + length +
    magic), or None when the file does not end in a plain parquet footer.
    The footer alone determines Spark's single-file schema inference."""
    with open(path, "rb") as f:
        size = f.seek(0, os.SEEK_END)
        if size < 12:
            return None
        f.seek(size - 8)
        tail = f.read(8)
        n = int.from_bytes(tail[:4], "little")
        if tail[4:] != b"PAR1" or n + 12 > size:
            return None
        f.seek(size - 8 - n)
        return hashlib.blake2b(f.read(n) + tail, digest_size=16).digest()


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, memoised per
    process under the file's footer digest and the session confs that
    shape inference. Inference is a Spark job of its own (~55 ms on a
    4-CPU box); a hit costs a footer read and five conf lookups. Keyed
    on footer bytes, not on (inode, size, mtime): writers rewrite paths
    in place, and mtime granularity is filesystem-dependent. Anything that is not a local
    regular parquet file goes straight to Spark, errors included. The
    returned StructType is shared between callers: do not mutate it."""
    try:
        digest = _footer_digest(path) if os.path.isfile(path) else None
    except OSError:
        digest = None
    if digest is None:
        return spark.read.parquet(path).schema
    key = (digest, *(spark.conf.get(c) for c in _SCHEMA_CONFS))
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one parquet table. Columnar scan → Catalyst gets predicate
    pushdown + column pruning for free; the schema comes from
    ``parquet_schema``, so repeat loads launch no inference job."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TPCH_TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register tables as temp views so queries can be written in SQL."""
    for n in (names or TPCH_TABLES):
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def read_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """CSV source with an EXPLICIT schema — inferSchema is a full extra
    pass over the data (2× read at 100 TB); never in production paths."""
    return spark.read.schema(schema).option("header", "true").csv(path)


def read_json(spark: SparkSession, path: str, schema) -> DataFrame:
    """JSON-lines source with explicit schema (same no-inference rule)."""
    return spark.read.schema(schema).json(path)


def write_partitioned(df: DataFrame, path: str, *cols: str) -> None:
    """Hive-style partitioned parquet sink: later reads with a filter on
    the partition column prune directories (PartitionFilters in the scan),
    the cheapest pushdown there is."""
    df.write.mode("overwrite").partitionBy(*cols).parquet(path)


def whole_text_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """Whole-file text source: one row per file, (path, contents).

    Mirrors the reference's E1 scan (worker.rs:112-117 read_to_string).
    Backed by ``sc.wholeTextFiles`` — each file is one record, so files
    must fit in executor memory (same constraint as the reference).
    """
    rdd = spark.sparkContext.wholeTextFiles(path_glob)
    return spark.createDataFrame(rdd, schema="path string, contents string")
