"""Table registry: named parquet sources for a scale-factor directory.

The reference reads from MySQL via chunked SQLAlchemy cursors
(ojd_daps/dqa/data_getters.py:get_db_job_ads) and from S3 object listings
(get_s3_job_ads). On Spark the equivalent is a straight
``spark.read.parquet`` — partition discovery, predicate pushdown and
column pruning replace all of the reference's hand-rolled chunking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one named table from a scale-factor directory.

    ``events.ts`` appears in two encodings depending on the writer:
    parquet TIMESTAMP(NANOS) read as a raw int64
    (``spark.sql.legacy.parquet.nanosAsLong=true``, set in session.py),
    or parquet ``timestamp[us]`` without a timezone, which Spark reads as
    TIMESTAMP_NTZ. Both are normalised to a plain (local-zone) TIMESTAMP
    at the scan so every downstream plan — ``unix_micros``,
    ``withWatermark``, window functions — sees one canonical type,
    matching DuckDB's behaviour on the same files.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_ts(df)
    return df


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalise a ``ts`` column to plain TIMESTAMP regardless of encoding."""
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def local_frame(
    spark: SparkSession, rows: list, schema: str | StructType
) -> DataFrame:
    """A frame of driver-side ``rows`` (tuples in ``schema`` order;
    ``schema`` is a DDL string or a ``StructType``), planned as a
    ``LocalRelation``.

    ``spark.createDataFrame(list)`` builds a Python RDD, so every scan
    of the frame starts one Python-worker task per default partition,
    however few its rows. Built from an Arrow table, the rows ship to
    the JVM once and the frame is a leaf that holds them: scanning it
    starts no Python worker, and collecting it launches no Spark job.
    NULLs, non-nullable fields and an empty ``rows`` keep their meaning.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_pylist(
        [dict(zip(arrow.names, r)) for r in rows], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def load_tables(
    spark: SparkSession, sf_dir: str, *names: str
) -> dict[str, DataFrame]:
    """Load several tables at once; all tables when no names given."""
    names = names or TABLES
    return {name: load_table(spark, sf_dir, name) for name in names}
