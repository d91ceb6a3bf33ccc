"""Multistream-bz2 XML dump ingest (the Wikipedia dump layout):
stream-split codec + index-sidecar distributed scan.

Wiki-style encyclopedic dumps — a staple pretraining source — ship
as ``*-multistream.xml.bz2``: the XML page stream is cut into
CONCATENATED bz2 streams of ~100 ``<page>`` elements each, with a
sidecar index of ``offset:pageid:title`` lines (the real dump's
index format). Like the WARC gzip-member layout, the concatenation
is the whole scale story: one bz2 stream is not splittable, but any
task that knows a stream's byte offset can seek, decompress, and
parse its pages independently — so a 100 GB dump fans out across a
cluster at stream granularity. Implemented from public knowledge
only (the bzip2 container format via stdlib ``bz2``, the dump
layout from the public dump documentation, XML via stdlib
``xml.etree``):

- `split_bz2_streams`: exact (offset, length) of every stream in a
  multistream file, found by walking with ``BZ2Decompressor`` and
  ``unused_data`` (the same no-magic-byte-scan discipline as the
  WARC splitter — ``BZh`` appears freely inside compressed bodies);
  chunked feeding so the walk is linear, not quadratic.
- `encode_pages_stream` / `parse_pages`: a ``<page>`` fragment
  stream — ``<title>``, ``<id>``, ``<text>`` children, XML-escaped
  — parsed back strictly with ElementTree (a fragment that does not
  parse, or a page missing a child, is None, never a partial page).
- `scan_xml_dump`: the index sidecar is read BY SPARK (splittable
  text), stream slices repartition across the cluster, and each
  task decompresses + parses only its own streams.

Reference: thanminh24/Flink-Stream ingests already-extracted JSON
documents (flink/jobs/flink_json_to_iceberg.py); dump ingest is the
upstream producer for encyclopedic corpora, per SURVEY §2 Part B.
"""

from __future__ import annotations

import bz2
import os
from typing import Iterator
from xml.etree import ElementTree
from xml.sax.saxutils import escape

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_stream_spark.catalog import load_table
from flink_stream_spark.operators.layout import sorted_result, spread
from flink_stream_spark.operators.registry import register

_PAGES_PER_STREAM = 25


def split_bz2_streams(data: bytes) -> "list[tuple[int, int]] | None":
    """Exact (offset, length) of every bz2 stream in a multistream
    concatenation, or None if any stream is corrupt or the data ends
    mid-stream. Decompressor-walk, chunked (the gzip splitter's
    bounded-feed discipline, operators/warc.py)."""
    offsets: "list[tuple[int, int]]" = []
    pos, n = 0, len(data)
    view = memoryview(data)
    chunk_sz = 1 << 20
    while pos < n:
        d = bz2.BZ2Decompressor()
        fed = 0
        try:
            while not d.eof and pos + fed < n:
                piece = view[pos + fed : pos + fed + chunk_sz]
                d.decompress(piece)
                fed += len(piece)
        except OSError:
            return None
        if not d.eof:
            return None  # truncated final stream
        consumed = fed - len(d.unused_data)
        offsets.append((pos, consumed))
        pos += consumed
    return offsets if offsets else None


def decompress_stream(data: bytes) -> "bytes | None":
    """Exactly one bz2 stream (an indexed slice); trailing bytes mean
    the index was wrong — rejected."""
    d = bz2.BZ2Decompressor()
    try:
        out = d.decompress(data)
    except OSError:
        return None
    if not d.eof or d.unused_data:
        return None
    return out


def _xml_escape(s: str) -> str:
    # saxutils handles & < >; carriage returns must go as character
    # references — a conforming XML parser NORMALIZES literal \r to
    # \n in text content (XML 1.0 §2.11), which would silently
    # corrupt the round-trip for any \r-bearing document
    return escape(s).replace("\r", "&#13;")


def encode_pages_stream(pages: "list[tuple[int, str, str]]") -> bytes:
    """[(page_id, title, text)] -> one bz2 stream of <page> XML
    fragments, children escaped, 2-space indent (the dump shape)."""
    parts = []
    for pid, title, text in pages:
        parts.append(
            "  <page>\n"
            f"    <title>{_xml_escape(title)}</title>\n"
            f"    <id>{pid}</id>\n"
            f"    <text>{_xml_escape(text)}</text>\n"
            "  </page>\n"
        )
    return bz2.compress("".join(parts).encode("utf-8"), 6)


def parse_pages(xml_fragment: bytes) -> "list[tuple[int, str, str]] | None":
    """Strictly parse a decompressed <page>-fragment stream back to
    [(page_id, title, text)]. Any malformation — fragment that does
    not parse under a synthetic root, a page missing id/title/text,
    a non-integer id — is None."""
    try:
        root = ElementTree.fromstring(
            b"<pages>" + xml_fragment + b"</pages>"
        )
    except ElementTree.ParseError:
        return None
    out = []
    for page in root:
        if page.tag != "page":
            return None
        title = page.find("title")
        pid = page.find("id")
        text = page.find("text")
        if title is None or pid is None or text is None:
            return None
        try:
            out.append(
                (int(pid.text), title.text or "", text.text or "")
            )
        except (TypeError, ValueError):
            return None
    return out


# --------------------------------------------------------------------------
# distributed write + indexed scan
# --------------------------------------------------------------------------

_WORK = "/tmp/flink_stream_spark/xmldump"
_N_FILES = 8


def _work_dir(spark: SparkSession, sf_dir: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/")) or "root"
    return os.path.join(_WORK, spark.sparkContext.applicationId, tag)


def write_xml_dump(docs: DataFrame, out_dir: str) -> None:
    """documents rows into _N_FILES multistream .xml.bz2 files +
    ``offset:pageid:title`` index sidecars (one index line per page,
    pointing at its stream's offset — the real dump convention),
    written by distributed tasks."""
    os.makedirs(out_dir, exist_ok=True)
    d = docs.select(
        "doc_id", "text", (F.col("doc_id") % _N_FILES).alias("grp")
    )

    def _write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        k = int(pdf["grp"].iloc[0])
        pdf = pdf.sort_values("doc_id")
        pages = [
            (int(i), f"Doc {int(i)}", str(t))
            for i, t in zip(pdf["doc_id"], pdf["text"])
        ]
        path = os.path.join(out_dir, f"dump-{k:04d}.xml.bz2")
        idx_lines = []
        with open(path, "wb") as fh:
            off = 0
            for s in range(0, len(pages), _PAGES_PER_STREAM):
                chunk = pages[s : s + _PAGES_PER_STREAM]
                blob = encode_pages_stream(chunk)
                fh.write(blob)
                for pid, title, _ in chunk:
                    idx_lines.append(f"{off}:{pid}:{title}")
                off += len(blob)
        with open(
            os.path.join(out_dir, f"dump-{k:04d}.index.txt"), "w"
        ) as fh:
            fh.write("\n".join(idx_lines) + "\n")
        return pd.DataFrame(
            {"file": [f"dump-{k:04d}.xml.bz2"], "n_pages": [len(pages)]}
        )

    manifest = d.groupBy("grp").applyInPandas(
        _write_group, "file string, n_pages bigint"
    )
    if manifest.count() > _N_FILES:
        raise RuntimeError("dump write produced too many file groups")


def scan_xml_dump(spark: SparkSession, dump_dir: str) -> DataFrame:
    """Index-sidecar scan: Spark reads the ``offset:pageid:title``
    lines (splittable text — at dump scale the index alone is GBs),
    reduces them to DISTINCT (file, offset) stream slices, spreads
    the slices across the cluster, and each task seeks, bz2-
    decompresses, and XML-parses only its own streams. Stream length
    is derived task-side from the next offset / file size, so the
    index stays the real dump's three-field format."""
    idx = (
        spark.read.text(os.path.join(dump_dir, "*.index.txt"))
        .select(
            F.regexp_extract(
                F.input_file_name(), r"(dump-\d+)\.index\.txt", 1
            ).alias("stem"),
            F.split("value", ":", 2).alias("parts"),
        )
        .select("stem", F.col("parts")[0].cast("bigint").alias("offset"))
        .groupBy("stem", "offset")
        .count()
        .drop("count")
        .transform(spread)
    )

    def _read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        sizes: "dict[str, int]" = {}
        bounds: "dict[str, list[int]]" = {}
        for pdf in batches:
            rows = {"doc_id": [], "title": [], "n_chars": [], "text_md5": []}
            for stem, off in zip(pdf["stem"], pdf["offset"]):
                path = os.path.join(dump_dir, f"{stem}.xml.bz2")
                if path not in sizes:
                    sizes[path] = os.path.getsize(path)
                    # stream boundaries for THIS file: every indexed
                    # offset (read once per task per file, tiny)
                    with open(
                        os.path.join(dump_dir, f"{stem}.index.txt")
                    ) as fh:
                        offs = sorted(
                            {int(ln.split(":", 2)[0]) for ln in fh if ln.strip()}
                        )
                    bounds[path] = offs + [sizes[path]]
                bl = bounds[path]
                end = bl[bl.index(int(off)) + 1]
                with open(path, "rb") as fh:
                    fh.seek(int(off))
                    blob = fh.read(end - int(off))
                xml = decompress_stream(blob)
                if xml is None:
                    raise ValueError(f"bad stream at {stem}:{off}")
                pages = parse_pages(xml)
                if pages is None:
                    raise ValueError(f"bad XML at {stem}:{off}")
                for pid, title, text in pages:
                    rows["doc_id"].append(pid)
                    rows["title"].append(title)
                    rows["n_chars"].append(len(text))
                    rows["text_md5"].append(
                        hashlib.md5(text.encode("utf-8")).hexdigest()
                    )
            yield pd.DataFrame(rows)

    return idx.mapInPandas(
        _read,
        "doc_id bigint, title string, n_chars bigint, text_md5 string",
    )


@register(
    "scan_xml_dump_multistream",
    """
    SELECT doc_id,
           'Doc ' || CAST(doc_id AS VARCHAR) AS title,
           CAST(length(text) AS BIGINT) AS n_chars,
           md5(text) AS text_md5
    FROM documents
    ORDER BY doc_id
    """,
    group="scan",
    doc="Multistream-bz2 XML dump round-trip under the oracle (the "
    "Wikipedia dump layout): documents written as concatenated bz2 "
    "streams of 25 XML-escaped <page> fragments with "
    "offset:pageid:title index sidecars from distributed tasks, then "
    "scanned back the splittable way — Spark reads the index as a "
    "table, reduces to distinct stream slices, and each task "
    "seeks+bz2-decompresses+ElementTree-parses only its own streams. "
    "doc_id, title, and text all come back OUT OF THE XML, so the "
    "hash proves writer, stream framing, the index convention, "
    "escaping, and the strict parser end-to-end. Same scale story as "
    "the WARC scan: per-stream concatenation is what makes a bz2 "
    "dump parallel-readable; the index read is itself a Spark scan.",
)
def scan_xml_dump_multistream(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_dir = os.path.join(_work_dir(spark, sf_dir), "dump")
    write_xml_dump(load_table(spark, sf_dir, "documents"), out_dir)
    return sorted_result(scan_xml_dump(spark, out_dir), "doc_id")
