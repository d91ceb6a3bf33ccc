"""Source/sink format round-trips: CSV and ORC.

The reference's ingestion surface is Kafka JSON (SURVEY §2 A1-A8); its
Flink-SQL layer additionally ships filesystem connectors for CSV and
ORC, the two interchange formats every warehouse migration actually
moves data through. These queries exercise Spark's native readers and
writers END-TO-END under the DuckDB oracle: the builder writes the
fixture table out in the target format (to a scale-keyed tmp dir) and
reads it back with an EXPLICIT schema — never inferSchema, which scans
the data a second time and types by luck — and the oracle computes the
same result straight from the parquet fixture, so a hash match proves
the format writer+reader preserved every value.

CSV is where round-trips really die: quoting of embedded delimiters and
quotes, and the null-vs-empty-string ambiguity (by default both
serialize as nothing and nulls don't survive). The query pins the
production discipline explicitly — quoteAll on write, a distinct
nullValue sentinel, escape = doubled quote — and includes constructed
columns that contain commas, double quotes, nulls, and empty strings.

Reference: thanminh24/Flink-Stream consumes raw JSON from Kafka
(flink/jobs/flink_json_to_iceberg.py); CSV/ORC here stand in for the
Flink-SQL filesystem connector formats, per SURVEY §2 Part B.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_stream_spark.catalog import load_table
from flink_stream_spark.operators.layout import sorted_result
from flink_stream_spark.operators.registry import register

_WORK = "/tmp/flink_stream_spark/formats"


def _work_dir(spark: SparkSession, sf_dir: str, what: str) -> str:
    """Scratch path for the round-trip's on-disk intermediate, keyed by
    scale AND the Spark applicationId: two concurrent runs at the same
    scale (bench + correctness, or two sessions) would otherwise race
    on one directory — a mode=overwrite mid-delete in one process while
    the other reads yields flaky wrong results (advisor note, round 8).
    Not deleted after read-back: the returned DataFrame is lazy and the
    driver/bench materialize it repeatedly; app-scoped dirs under /tmp
    are reclaimed by the OS tmp policy."""
    tag = os.path.basename(sf_dir.rstrip("/")) or "root"
    return os.path.join(_WORK, spark.sparkContext.applicationId, tag, what)


@register(
    "scan_csv_roundtrip",
    """
    SELECT doc_id,
           text,
           CASE WHEN lang = 'en' THEN NULL ELSE lang END AS lang_opt,
           CASE WHEN doc_id % 7 = 0 THEN ''
                ELSE source || ',quoted "' || lang || '"' END AS tricky,
           n_chars
    FROM documents
    ORDER BY doc_id
    """,
    group="formats",
    doc="CSV sink+source round-trip over the documents table with the "
    "corners that break naive CSV pipelines constructed INTO the "
    "data: a nullable column (lang_opt), a column mixing empty "
    "strings with embedded delimiters and embedded double quotes "
    "(tricky), and free text. Write: header, quoteAll, escape by "
    "doubled quote, nullValue sentinel '\\\\N' so NULL and '' stay "
    "distinct. Read: explicit schema (inferSchema re-scans the data "
    "and guesses — never at scale), same quoting options. The oracle "
    "computes the expected rows straight from parquet, so the hash "
    "proves every value survived the text format byte-for-byte. "
    "Scale: CSV read is splittable per file; the write here is "
    "repartitioned by doc_id so the layout is many-files, the shape "
    "a 100 TB ingest actually has.",
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = d.select(
        "doc_id",
        "text",
        F.when(F.col("lang") == "en", F.lit(None))
        .otherwise(F.col("lang"))
        .alias("lang_opt"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(""))
        .otherwise(
            F.concat(
                F.col("source"),
                F.lit(',quoted "'),
                F.col("lang"),
                F.lit('"'),
            )
        )
        .alias("tricky"),
        "n_chars",
    )
    path = _work_dir(spark, sf_dir, "documents_csv")
    opts = {
        "header": "true",
        "quoteAll": "true",
        "escape": '"',
        "nullValue": "\\N",
    }
    out.repartition(8, "doc_id").write.mode("overwrite").options(**opts).csv(
        path
    )
    back = (
        spark.read.options(**opts)
        .schema(
            "doc_id bigint, text string, lang_opt string, "
            "tricky string, n_chars bigint"
        )
        .csv(path)
    )
    return sorted_result(back, "doc_id")


@register(
    "scan_orc_roundtrip",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
             AS sum_qty_c,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_c,
           strftime(MIN(l_shipdate), '%Y-%m-%d %H:%M:%S') AS min_ship,
           strftime(MAX(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    group="formats",
    doc="ORC sink+source round-trip over lineitem (the columnar "
    "interchange format of the Hive/Flink world): write the fat table "
    "to ORC partitioned-by-nothing but repartitioned for a many-file "
    "layout, read it back with the explicit schema, and aggregate "
    "per (returnflag, linestatus) — counts, cent-exact integer sums "
    "of the decimal-ish doubles, date min/max, distinct orders — so "
    "every column type (bigint, double, date, string) must survive "
    "the format to hash-match the oracle computed from parquet. "
    "Scale: ORC is splittable with predicate pushdown and column "
    "pruning in Spark's native vectorized reader — the same scan "
    "shape as the parquet path.",
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_quantity",
        "l_extendedprice",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    )
    path = _work_dir(spark, sf_dir, "lineitem_orc")
    li.repartition(8, "l_orderkey").write.mode("overwrite").orc(path)
    back = spark.read.schema(
        "l_orderkey bigint, l_quantity double, l_extendedprice double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp"
    ).orc(path)
    return (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # ROUND before the integer cast in BOTH engines: a double
            # like 13309.60 * 100 is 1330959.999..., which Spark's
            # cast would TRUNCATE while DuckDB's cast rounds
            F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")).alias(
                "sum_qty_c"
            ),
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).alias("sum_price_c"),
            F.date_format(F.min("l_shipdate"), "yyyy-MM-dd HH:mm:ss").alias(
                "min_ship"
            ),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd HH:mm:ss").alias(
                "max_ship"
            ),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("n").cast("bigint"),
            F.col("sum_qty_c").cast("bigint"),
            F.col("sum_price_c").cast("bigint"),
            "min_ship",
            "max_ship",
            F.col("n_orders").cast("bigint"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
