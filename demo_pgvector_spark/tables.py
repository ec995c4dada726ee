"""Table loaders and engine-table schemas.

The engine's logical data model mirrors the reference's four tables
(models / sources / source_chunks / source_chunk_data — see
/root/reference/config/init.sql:5-38) re-expressed as columnar Parquet
DataFrames. The driver testdata (TESTDATA.md) provides the TPC-H-ish star
schema plus ``documents`` and ``embeddings``, which stand in for the
chunk-payload and chunk-vector tables respectively.

At 100 TB the scan is the dominant cost: every loader goes through
``spark.read.parquet`` so Catalyst gets filter/column pushdown for free,
and nothing here ever collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Engine-table schemas (reference config/init.sql:5-38 re-typed for Spark).
MODELS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("embedding_dim", T.IntegerType(), False),
    ]
)

SOURCES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("author", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("source_type", T.IntegerType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("genre", T.StringType(), True),
        T.StructField("subgenre", T.StringType(), True),
        T.StructField("year", T.IntegerType(), True),
        T.StructField("model_id", T.LongType(), True),
    ]
)

SOURCE_CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("source_id", T.LongType(), True),
        T.StructField("model_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType(), False), True),
    ]
)

SOURCE_CHUNK_DATA_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("chunk_id", T.LongType(), False),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("chunk_text", T.StringType(), True),
    ]
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; plain parquet scan → full pushdown support.

    ``events.ts`` is normalized to a session-timezone TIMESTAMP whatever
    the parquet physical type: TIMESTAMP(NANOS) data arrives as raw nanos
    LongType (the ``spark.sql.legacy.parquet.nanosAsLong`` conf is set once
    at session construction — ``session.get_session`` /
    ``session.tune_session`` — NOT mutated here) and is truncated to micros
    (same truncation DuckDB applies casting TIMESTAMP_NS → TIMESTAMP);
    TIMESTAMP_MICROS(isAdjustedToUTC=0) data arrives as TIMESTAMP_NTZ and is
    cast to TIMESTAMP — the session timezone is pinned UTC, so the instant
    is unambiguous and downstream event-time ops (watermarks reject NTZ)
    work on both batch and stream paths.
    """
    if name not in TESTDATA_TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


SUPPORTED_FORMATS = ("parquet", "orc", "json", "csv")


def write_table(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Persist a table in any supported format. Parquet/ORC are the
    columnar defaults (predicate pushdown + column pruning); JSON/CSV are
    interchange formats — schema-on-read, no pushdown, kept for ingest
    edges only (the reference ingests loose files; a lake engine meets
    data in whatever shape it arrives)."""
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {SUPPORTED_FORMATS}")
    w = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        w = w.option("header", "true")
    w.save(path)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet", schema=None) -> DataFrame:
    """Read a table written by ``write_table``. For JSON/CSV an explicit
    schema keeps types exact (inference would widen ints and lose
    timestamp precision — never infer in a pipeline)."""
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; expected one of {SUPPORTED_FORMATS}")
    r = spark.read.format(fmt)
    if schema is not None:
        r = r.schema(schema)
    if fmt == "csv":
        r = r.option("header", "true")
    return r.load(path)
