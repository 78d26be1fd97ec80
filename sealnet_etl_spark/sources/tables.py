"""Typed loaders for the testdata star schema (SURVEY.md §1.2).

Scale notes: `spark.read.parquet` gives the vectorized columnar scan with
predicate pushdown and column pruning for free — downstream operators keep
filters sargable so row-group/page skipping applies at 100 TB. The only
table needing special handling is ``events`` (physical TIMESTAMP(NANOS),
SURVEY.md §1.3): with the legacy nanos flag its ``ts`` arrives as bigint
nanoseconds and is truncated to microseconds, matching the DuckDB oracle's
``ts::TIMESTAMP`` ns→µs truncation exactly.

Schema memo: parquet schema inference launches a Spark job that reads the
file footer, so a bare ``spark.read.parquet`` made every query build
eager. ``load_table`` infers each table's schema once and later reads it
with that schema supplied, which launches no job. The memo is keyed by
the qualified path and checked against the Hadoop ``FileStatus`` (length,
modification time), fetched through the path's own ``FileSystem`` so the
check behaves the same on ``file:``, HDFS and S3; a table rewritten in
place is re-inferred. It holds schemas, never DataFrames: each load must
get fresh attribute ids, or a self-join of two loads of one table (q21
reads ``lineitem`` three times) turns ambiguous.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import apply_runtime_confs

TABLES: tuple[str, ...] = (
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

#: Dimension tables small enough to broadcast at ANY scale factor (region /
#: nation are bounded by geography; supplier stays << autoBroadcastJoinThreshold
#: at the tested SFs). Joins against these should use F.broadcast.
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier"})


#: qualified path -> ((length, modification time), inferred schema). Two
#: threads racing on one path both infer and store the same entry.
_SCHEMAS: dict[str, tuple[tuple[int, int], StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only when the
    file is new to the memo or its ``FileStatus`` changed. A directory
    table is stamped by the directory's own status, which object stores
    do not update when the files under it are rewritten."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    try:
        status = jpath.getFileSystem(
            spark._jsc.hadoopConfiguration()
        ).getFileStatus(jpath)
    except Py4JJavaError:
        # Missing path: let the reader raise Spark's usual error.
        return spark.read.parquet(path)
    key = status.getPath().toString()
    stamp = (status.getLen(), status.getModificationTime())
    memo = _SCHEMAS.get(key)
    if memo is not None and memo[0] == stamp:
        return spark.read.schema(memo[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a typed DataFrame."""
    apply_runtime_confs(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # ns since epoch → µs timestamp; integer `div` truncates, matching
            # the oracle's ts::TIMESTAMP cast (SURVEY.md §1.3/§5.3).
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # Newer Spark builds read TIMESTAMP(NANOS) as TIMESTAMP_NTZ (the
            # legacy nanosAsLong flag is dead); NTZ→LTZ under the UTC session
            # TZ is value-identical and restores unix_micros()/ltz-only fns.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so SQL-entry queries share plans."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
