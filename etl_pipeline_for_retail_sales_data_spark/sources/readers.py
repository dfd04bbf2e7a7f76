"""Sources (SURVEY.md §2.1): parquet star-schema scans, CSV scan, JDBC edge.

The reference's extract stage (S1 JDBC scan, S2 CSV scan,
reference scripts/extraction.py:98-183) maps to lazy ``spark.read`` calls;
its stringly-typed transport is deliberately NOT reproduced (typed
end-to-end, SURVEY.md §1.3).

Scale notes: parquet scans get predicate pushdown + column pruning from
Catalyst for free as long as callers keep expressions declarative. Readers
here never call an action, but a schema-less ``spark.read.parquet`` is not
free: inferring the schema runs one Spark job that reads a footer. Every
registry query reads its tables through :func:`load_table`, which infers a
table's schema once and hands it to later reads of the unchanged files, so
those build their plans without a job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..fsutil import HadoopFS
from ..schemas import SALES_SCHEMA, TESTDATA_TABLES
from ..session import configure_session

#: Session confs that change the schema Spark infers from parquet footers.
PARQUET_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# path -> ((file listing, schema confs), the schema inferred under them):
# one entry per path, replaced whenever its key changes
_inferred_schemas: dict[str, tuple[tuple, T.StructType]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Lazy parquet scan that infers the schema of ``path`` once.

    The inferred schema is kept under the path's file listing (name,
    size, mtime of every file, read through the Hadoop FS) and the
    schema-conversion confs; a later read with the same key passes it
    via ``spark.read.schema`` and skips the footer job. A rewritten,
    added or removed file, or a changed conf, re-infers."""
    key = (HadoopFS(spark, path).listing(path), tuple(spark.conf.get(c) for c in PARQUET_SCHEMA_CONFS))
    known = _inferred_schemas.get(path)
    if known is not None and known[0] == key:
        return spark.read.schema(known[1]).parquet(path)
    df = spark.read.parquet(path)
    _inferred_schemas[path] = (key, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one driver testdata table (TESTDATA.md)."""
    configure_session(spark)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def read_sales_csv(spark: SparkSession, path: str) -> DataFrame:
    """CSV scan with the declared sales schema (reference S2,
    scripts/extraction.py:146-183). Missing path raises AnalysisException —
    the Spark-native analog of the reference's FileNotFoundError
    (scripts/extraction.py:164-166)."""
    return spark.read.csv(path, header=True, schema=SALES_SCHEMA, dateFormat="yyyy-MM-dd")


def sales_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's ``lineitem`` onto the canonical sales schema
    (FIXTURES.md mapping: l_partkey→product_id, l_quantity→quantity,
    l_extendedprice→sale_amount, l_shipdate→sale_date)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("sale_id"),
        F.col("l_partkey").alias("product_id"),
        F.col("l_quantity").cast("long").alias("quantity"),
        F.col("l_extendedprice").alias("sale_amount"),
        F.to_date("l_shipdate").alias("sale_date"),
        F.when(F.col("l_orderkey") % 2 == 0, F.lit("online")).otherwise(F.lit("in_store")).alias("source"),
    )


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a session-TZ microsecond
    TimestampType, whichever physical type the parquet shipped with.

    The driver's testdata has used two encodings across generations:
    TIMESTAMP(NANOS) — which Spark 4 reads as a raw nanos BIGINT under the
    nanosAsLong conf (session.py) and we truncate with integer division,
    bit-equal to DuckDB's ns→µs parquet read — and plain TIMESTAMP(MICROS),
    which Spark reads as TIMESTAMP_NTZ and we cast (value-preserving under
    the pinned UTC session timezone). Downstream operators and oracles see
    the identical column either way."""
    t = df.schema["ts"].dataType
    if isinstance(t, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events stream table with ``ts`` normalized to TimestampType
    (see normalize_event_ts)."""
    return normalize_event_ts(load_table(spark, sf_dir, "events"))


def table_exists(spark: SparkSession, name: str, path: str | None = None) -> bool:
    """Catalog/filesystem existence probe (reference S3: the
    information_schema query at scripts/extraction.py:118-125). Catalog
    tables via spark.catalog; path-backed datasets via the Hadoop FS API
    (works for any supported filesystem scheme, not just local)."""
    if path is not None:
        jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jvm_path))
    return spark.catalog.tableExists(name)


def read_jdbc(spark: SparkSession, url: str, dbtable: str, **options) -> DataFrame:
    """JDBC scan (reference S1, scripts/extraction.py:98-144). Kept behind
    an option — parquet is the system of record; a JDBC driver jar must be
    on the classpath for this to work."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", dbtable)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def read_jdbc_partitioned(
    spark: SparkSession,
    url: str,
    dbtable: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int,
    **options,
) -> DataFrame:
    """PARALLEL JDBC scan — the scale path of reference S1: Spark issues
    ``num_partitions`` concurrent range queries
    (``partition_column BETWEEN …``) instead of one serial cursor, so a
    big source table streams in at N× the single-connection rate and
    lands already split into N partitions for downstream parallelism.

    The bounds only steer the range split — rows OUTSIDE
    [lower_bound, upper_bound] are still read (first/last stride is
    unbounded per the JDBC source contract), so a stale bounds estimate
    skews partition sizes but never loses rows. At 100 TB: pick an
    indexed, roughly uniform column (a sequence id or epoch timestamp);
    num_partitions bounded by what the database can serve concurrently
    (each partition is one connection)."""
    if num_partitions < 1:
        raise ValueError(f"num_partitions must be >= 1, got {num_partitions}")
    if lower_bound >= upper_bound:
        raise ValueError(
            f"lower_bound {lower_bound} must be < upper_bound {upper_bound}"
        )
    return read_jdbc(
        spark,
        url,
        dbtable,
        partitionColumn=partition_column,
        lowerBound=str(lower_bound),
        upperBound=str(upper_bound),
        numPartitions=str(num_partitions),
        **options,
    )
