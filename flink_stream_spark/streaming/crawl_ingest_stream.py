"""Continuous crawl ingest: the streaming twin of the batch
crawl-extract pipeline (`pipeline_crawl_extract`) — WARC archives
arrive over time, and each micro-batch scans ONLY the new records,
extracts their main text, and admits them into the managed corpus
through exact-hash dedup against everything kept so far.

This is the reference's actual operating mode transplanted to the
crawl front door: thanminh24/Flink-Stream runs a CONTINUOUS ingest
(Kafka source -> keyed upsert into Iceberg,
flink/jobs/flink_json_to_iceberg.py, connect-postgres-source.json)
rather than batch reloads; here the arriving unit is a crawl
increment (.warc.gz + CDX sidecar) instead of a Kafka record batch.

Design — store the signal, derive the admission (the house twin
discipline, streaming/bloom_dedup_stream.py):

- The STREAM SOURCE is the CDX sidecar, not the archive: CDX is
  plain CSV, so Spark's file source tails the directory and each
  micro-batch delivers exactly the (file, offset, length) slices of
  newly arrived archives. The archives themselves are read by the
  shared distributed member stage (operators/warc.py::read_members)
  — each task seeks+decompresses only its own byte ranges, so a
  micro-batch costs O(new records), never O(crawl).
- Extraction is the SAME `extract_main_text` the batch operator
  uses (stdlib html.parser, link-density + length boilerplate
  rules) in one narrow Arrow-batched stage.
- Admission is exact-hash keep-first in stream order: md5(content)
  joined against the accumulated kept-hash index; within-batch ties
  resolve to the smallest doc_id. (The bloom prefilter of
  `bloom_dedup_stream` slots in front of the index join unchanged
  when the index outgrows broadcast size — admission here keeps the
  plain join so the crawl-specific surface stays legible.)
- Every append carries the ``epoch:<id>`` idempotency token, so an
  at-least-once redelivery of a micro-batch recomputes the identical
  flag set and the tables do not double-append.

At 100 TB the numbers work the same way they do for the batch scan:
the CDX tail-read is a splittable CSV scan of the increment, member
reads spread across the cluster, the hash index carries one row per
KEPT document, and the per-batch shuffle is one hash join on the
batch's record count.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_stream_spark.operators.html_extract import (
    MIN_CONTENT_CHARS,
    extract_main_text,
)
from flink_stream_spark.operators.layout import spread
from flink_stream_spark.operators.warc import _CDX_SCHEMA, read_members
from flink_stream_spark.streaming.near_dup import run_per_batch
from flink_stream_spark.tables.managed import ManagedTable

_DOC_SCHEMA = (
    "doc_id bigint, target_uri string, lang string, main_text string"
)


def extract_stage(records: DataFrame) -> DataFrame:
    """(doc_id, target_uri, lang, text=html) -> extracted main text,
    one narrow Arrow-batched pass over the batch's records. Pages
    whose extraction yields no content block (pure boilerplate) are
    dropped here — the same posture as the batch pipeline's length
    gate."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "target_uri": [], "lang": [],
                    "main_text": []}
            for doc_id, uri, lang, html in zip(
                pdf["doc_id"], pdf["target_uri"], pdf["lang"], pdf["text"]
            ):
                text, n_content, _ = extract_main_text(str(html))
                if n_content == 0 or len(text.strip()) < MIN_CONTENT_CHARS:
                    continue
                rows["doc_id"].append(doc_id)
                rows["target_uri"].append(uri)
                rows["lang"].append(lang)
                rows["main_text"].append(text)
            yield pd.DataFrame(rows)

    return records.mapInPandas(_extract, _DOC_SCHEMA)


def process_batch(
    cdx_batch: DataFrame,
    warc_dir: str,
    docs_table: ManagedTable,
    hash_table: ManagedTable,
    flags_table: ManagedTable,
    epoch_id: "int | None" = None,
) -> None:
    """Ingest one micro-batch of CDX slices: member read -> extract
    -> exact-hash admission -> token'd appends (kept docs, kept
    hashes, per-record flags)."""
    spark = cdx_batch.sparkSession
    token = None if epoch_id is None else f"epoch:{epoch_id}"

    records = read_members(spread(cdx_batch), warc_dir)
    docs = extract_stage(records)
    hashes = docs.withColumn("h", F.md5("main_text")).localCheckpoint(
        eager=True
    )

    if hash_table.exists():
        idx_min = (
            hash_table.read(spark)
            .groupBy("h")
            .agg(F.min("doc_id").alias("idx_doc"))
        )
    else:
        idx_min = spark.createDataFrame([], "h string, idx_doc bigint")

    grp = hashes.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    flags = (
        hashes.select("doc_id", "h")
        .join(grp, "h")
        .join(idx_min, "h", "left")
        .select(
            "doc_id",
            "h",
            F.when(F.col("idx_doc").isNotNull(), F.col("idx_doc"))
            .when(F.col("doc_id") != F.col("first_doc"), F.col("first_doc"))
            .alias("dup_of"),
        )
        .withColumn("is_dup", F.col("dup_of").isNotNull())
        .localCheckpoint(eager=True)
    )
    flags_table.append(flags.select("doc_id", "dup_of", "is_dup"), token=token)

    kept_ids = flags.filter(~F.col("is_dup")).select("doc_id", "h")
    hash_table.append(kept_ids, token=token)
    docs_table.append(
        hashes.join(kept_ids.select("doc_id"), "doc_id").select(
            "doc_id", "target_uri", "lang", "main_text"
        ),
        token=token,
    )
    for t in (flags_table, hash_table, docs_table):
        t.maybe_compact(spark)


def start_crawl_ingest(
    spark: SparkSession,
    warc_dir: str,
    docs_table: ManagedTable,
    hash_table: ManagedTable,
    flags_table: ManagedTable,
    checkpoint_dir: str,
):
    """Tail the crawl directory's CDX sidecars as a file stream; each
    arriving sidecar's slices become one ingest micro-batch. One file
    per trigger keeps batch boundaries deterministic for the parity
    tests; the same foreachBatch serves a Kafka CDX topic."""
    stream = (
        spark.readStream.schema(_CDX_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .csv(f"{warc_dir}/*.cdx.csv")
    )
    return run_per_batch(
        stream,
        lambda b, e: process_batch(
            b, warc_dir, docs_table, hash_table, flags_table, epoch_id=e
        ),
        checkpoint_dir,
    )
