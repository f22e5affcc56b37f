"""Loading helpers for the driver-provided synthetic tables (TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from pyspark.sql.utils import AnalysisException

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The reference tables' schemas as Spark infers them from the testdata
# (the same at every scale factor).  Reading with a declared schema plans
# the scan with no job; inference runs a one-task job over the parquet
# footers on every load.  ``events`` is left out: ``_load_events``
# dispatches on the type ``ts`` is read as (TIMESTAMP_NTZ in the
# testdata, TIMESTAMP in Spark-written copies, BIGINT for nanosecond
# files), so it needs the file's own type.
TESTDATA_SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE,"
        " c_mktsegment STRING"
    ),
    "supplier": (
        "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
    ),
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING,"
        " p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,"
        " o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ,"
        " o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT,"
        " l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE,"
        " l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING,"
        " l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "documents": (
        "doc_id BIGINT, text STRING, lang STRING, source STRING,"
        " n_chars BIGINT"
    ),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> str | StructType:
    """The schema reference table ``name`` is stored with: its declared
    DDL string, or, for a table without one, the schema inferred from
    the parquet footers (one Spark job)."""
    ddl = TESTDATA_SCHEMAS.get(name)
    if ddl is not None:
        return ddl
    return spark.read.parquet(table_path(sf_dir, name)).schema


def _pin_utc(spark: SparkSession) -> None:
    """The driver may hand us a session it built itself; timestamp
    formatting must agree with the (timezone-naive) DuckDB oracle, so
    pin the session timezone on every table load.  Idempotent and
    cheap; a no-op on sessions from our own get_spark."""
    try:
        if spark.conf.get("spark.sql.session.timeZone") != "UTC":
            spark.conf.set("spark.sql.session.timeZone", "UTC")
    except AnalysisException:
        # Conf marked non-modifiable on this session (e.g. a driver-built
        # session with a static SQLConf); formatting parity then depends
        # on the caller having pinned UTC themselves.
        pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _pin_utc(spark)
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.schema(table_schema(spark, sf_dir, name)).parquet(
        table_path(sf_dir, name)
    )


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize ``ts`` to TimestampType whichever way it is read: the
    testdata's TIMESTAMP(MICROS, not UTC-adjusted) as TIMESTAMP_NTZ, a
    TIMESTAMP(NANOS) file as BIGINT nanoseconds under the nanosAsLong
    legacy conf (microsecond truncation), a Spark-written copy as
    TIMESTAMP already."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except AnalysisException:
        # Non-modifiable at runtime on this session; the dtype dispatch
        # below handles whichever way the file was read.
        pass
    df = spark.read.parquet(table_path(sf_dir, "events"))
    dtype = dict(df.dtypes).get("ts")
    from pyspark.sql import functions as F

    if dtype in ("bigint", "long"):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        # Spark 4 infers TIMESTAMP_NTZ from this parquet; event-time ops
        # (unix_micros, withWatermark) require TIMESTAMP.  Exact under the
        # pinned-UTC session (_pin_utc): wall-clock == instant.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    if not names:
        names = TESTDATA_TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}


def load_table_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load_table`` plus scale-adaptive compute parallelism for the
    expression-heavy map chains (per-gram md5, window minima, band-key
    folds): repartition to ``defaultParallelism`` ONLY when the scan's
    natural split count is below it.

    The split count is derived from the file size and the session's
    ``spark.sql.files.maxPartitionBytes`` — pure driver-side arithmetic,
    no job.  Locally (sf0.1: single sub-MB files -> 1 split) this keeps
    the round-robin repartition that parallelizes the per-row hashing
    across cores; at cluster scale the same table scans as thousands of
    splits and the repartition would be a full round-robin shuffle of
    the corpus PAYLOAD for nothing (optimization guide §2.4 "a
    repartition(n) someone added for parallelism", §8 "never shuffle
    the heavy bytes to make a placement decision") — so there it
    becomes a no-op and the map chain runs where the scan runs."""
    df = load_table(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    try:
        size = _table_size_bytes(table_path(sf_dir, name))
        max_pb = _bytes_conf(spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
        # Ceiling division, like Spark's split packing (which additionally
        # pads openCostInBytes per file — this estimate is a lower bound,
        # erring toward the no-op side only near the core count).
        splits = max(1, -(-size // max_pb))
    except OSError:
        splits = 1
    if splits >= par:
        return df
    return df.repartition(par)


def _table_size_bytes(path: str) -> int:
    """Total on-disk bytes of a parquet table at ``path`` — a single
    file locally, or a DIRECTORY of part files (the normal layout at
    cluster scale).  ``os.path.getsize`` on a directory returns the
    inode size (~4 KB), which would make ``load_table_parallel`` treat
    any directory-backed table as 1 split and round-robin-shuffle the
    whole payload — the exact hazard the helper exists to avoid."""
    if os.path.isdir(path):
        total = 0
        for root, _dirs, files in os.walk(path):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet")
            )
        return total
    return os.path.getsize(path)


def _bytes_conf(spark: SparkSession, key: str, default: int) -> int:
    """Parse a byte-size session conf ('134217728', '128m', '1g')."""
    try:
        raw = str(spark.conf.get(key)).strip().lower().rstrip("b")
    except Exception:
        return default
    mult = 1
    for suffix, m in (("k", 1024), ("m", 1024**2), ("g", 1024**3)):
        if raw.endswith(suffix):
            raw, mult = raw[:-1], m
            break
    try:
        return int(raw) * mult
    except ValueError:
        return default
