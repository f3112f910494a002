"""Table loader: schema-on-read over parquet, Hive-style fixed schemas.

The reference family declares fixed table schemas (``CREATE TABLE`` +
schema-on-read over HDFS files); here each table has an explicit
``StructType`` (FIXTURES.md) and ``load_table`` hands it to the parquet
reader, so downstream operators never depend on inference — and a read
plans without the footer-sampling Spark job that inference runs. The
read does not verify the files against the schema: a column the files
lack reads as null, and a physical type the reader cannot convert fails
when the scan runs. ``events`` is the exception (see ``load_table``).

Scale notes: ``spark.read.parquet`` is DataSource V2 — columnar,
vectorized, with predicate pushdown and partition pruning for free. At
100 TB the same call reads a partitioned directory tree; nothing here
assumes single files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from hive_similarity_join_spark.session import tune

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

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table; pins session tz to UTC so timestamp semantics match
    the (naive-timestamp) DuckDB oracle regardless of host timezone.

    ``events.ts`` has shipped in two physical flavors across testdata
    generations: TIMESTAMP(NANOS) (which Spark's vectorized reader
    rejects — read as raw nanos via ``nanosAsLong`` and converted with
    integer arithmetic, ``div`` not ``/`` so the int64 epoch keeps full
    precision) and TIMESTAMP(MICROS) isAdjustedToUTC=false (read
    natively as TIMESTAMP_NTZ — cast to session-tz TimestampType,
    identical wall values under the pinned UTC session). Both paths
    yield the same TimestampType column the oracle sees as naive
    microsecond timestamps; ns->us truncation is monotone, so
    orderings and window assignments match either way. Every other
    table is read with its declared schema (no inference job).
    """
    tune(spark)
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F

        raw = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(raw.dtypes)["ts"] == "bigint":  # TIMESTAMP(NANOS) era
            return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """E2 entry point: expose the same table names DuckDB sees so
    ``spark.sql('SELECT ... FROM lineitem ...')`` works verbatim."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
