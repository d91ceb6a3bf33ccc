"""WARC/WET crawl ingest: multi-member-gzip member split + WARC
record codec + splittable distributed scan (ISO 28500; the Common
Crawl on-disk layout).

A 100 TB web crawl does not arrive as parquet — it arrives as WARC
files where EVERY RECORD IS ITS OWN GZIP MEMBER, concatenated into
multi-gigabyte `.warc.gz` files, with a sidecar index (CDX) mapping
records to (file, member_offset, member_length). That per-record
framing is the whole scale story: a gzip stream is not splittable,
but a CONCATENATION of members is — any task that knows a member's
byte range can seek, read, and decompress it independently of every
other task. This module implements the full shape from public
knowledge only (RFC 1952 gzip framing, the ISO 28500 WARC record
grammar, the Common Crawl CDX convention):

- `encode_warc_record` / `parse_warc_records`: the WARC/1.0 record
  grammar — CRLF header block, `Content-Length` governs the payload,
  two CRLFs terminate the record. Strict: a record whose payload is
  shorter than its declared Content-Length, or whose header block
  never terminates, is malformed (None), never silently truncated.
- `gzip_member` / `split_gzip_members` / `decompress_member`:
  RFC 1952 member framing over stdlib zlib. The splitter walks the
  stream with `decompressobj(wbits=31)` using `unused_data` to find
  each member boundary — exact byte offsets with no heuristic magic-
  byte scan (a `\\x1f\\x8b` scan false-positives inside compressed
  bodies; the decompressor cannot).
- `scan_warc_roundtrip` / `scan_warc_wet_stats`: oracled queries that
  synthesize a WET-style crawl from the documents fixture (one
  conversion record per document, headers derived deterministically
  from the row), write real multi-member `.warc.gz` files WITH CDX
  sidecars from distributed tasks, then scan them back the way a
  1000-executor cluster would: Spark reads the CDX index (itself
  splittable CSV), repartitions the (file, offset, length) slices
  across the cluster, and each task seeks+decompresses only its own
  members. Every output value — including doc_id — is parsed back
  OUT OF THE RECORD BYTES, so the oracle hash proves the writer, the
  member framing, the index, and the parser end-to-end.

Reference: thanminh24/Flink-Stream ingests already-extracted JSON
documents from Kafka (flink/jobs/flink_json_to_iceberg.py); WARC
ingest is the upstream operator that produces such documents from a
raw crawl, per SURVEY §2 Part B (training-data pipeline surface).
"""

from __future__ import annotations

import io
import os
import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_stream_spark.catalog import load_table
from flink_stream_spark.operators.layout import sorted_result, spread
from flink_stream_spark.operators.registry import register

CRLF = b"\r\n"
_WARC_VERSION = b"WARC/1.0"

# --------------------------------------------------------------------------
# WARC record grammar (ISO 28500)
# --------------------------------------------------------------------------


def encode_warc_record(headers: "list[tuple[str, str]]", payload: bytes) -> bytes:
    """One WARC/1.0 record: version line, named headers in the given
    order, Content-Length computed from the payload, blank line,
    payload, two CRLFs. Header names/values must be Latin-1-safe per
    the spec's HTTP-style header grammar."""
    out = bytearray()
    out += _WARC_VERSION + CRLF
    for k, v in headers:
        if "\r" in v or "\n" in v:
            raise ValueError(f"header value for {k!r} contains CR/LF")
        if "\r" in k or "\n" in k or ":" in k:
            raise ValueError(f"illegal header name {k!r}")
        out += f"{k}: {v}".encode("latin-1") + CRLF
    out += f"Content-Length: {len(payload)}".encode("ascii") + CRLF
    out += CRLF
    out += payload
    out += CRLF + CRLF
    return bytes(out)


def parse_warc_records(data: bytes) -> "list[dict] | None":
    """Parse a concatenation of uncompressed WARC records. Returns
    [{'headers': {name_lower: value}, 'payload': bytes}, ...] or None
    for any malformation: bad version line, unterminated header
    block, missing/non-numeric Content-Length, payload shorter than
    declared, or missing record terminator. Strictness is the point:
    a crawl reader that silently resyncs past a bad record hides
    data loss; the caller decides whether to skip the FILE."""
    records = []
    pos, n = 0, len(data)
    while pos < n:
        end_ver = data.find(CRLF, pos)
        if end_ver < 0 or not data[pos:end_ver].startswith(b"WARC/"):
            return None
        hdr_end = data.find(CRLF + CRLF, end_ver)
        if hdr_end < 0:
            return None
        headers: dict[str, str] = {}
        for line in data[end_ver + 2 : hdr_end].split(CRLF):
            sep = line.find(b":")
            if sep <= 0:
                return None
            try:
                key = line[:sep].decode("latin-1").strip().lower()
                headers[key] = line[sep + 1 :].decode("latin-1").strip()
            except UnicodeDecodeError:  # pragma: no cover — latin-1 total
                return None
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            return None
        if clen < 0:
            return None
        body_start = hdr_end + 4
        body_end = body_start + clen
        if body_end + 4 > n:
            return None  # payload or terminator truncated
        if data[body_end : body_end + 4] != CRLF + CRLF:
            return None
        records.append(
            {"headers": headers, "payload": data[body_start:body_end]}
        )
        pos = body_end + 4
    return records if records else None


# --------------------------------------------------------------------------
# RFC 1952 multi-member gzip framing
# --------------------------------------------------------------------------


def gzip_member(data: bytes, level: int = 6) -> bytes:
    """One deterministic gzip member: fixed header (mtime=0, no
    flags, XFL=0, OS=255 'unknown'), raw deflate body, CRC32+ISIZE
    trailer. Built from zlib directly rather than the gzip module so
    the bytes are platform-independent — a member written on any
    task is byte-identical given the same input."""
    comp = zlib.compressobj(level, zlib.DEFLATED, -15)
    body = comp.compress(data) + comp.flush()
    header = b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\xff"
    trailer = struct.pack(
        "<II", zlib.crc32(data) & 0xFFFFFFFF, len(data) & 0xFFFFFFFF
    )
    return header + body + trailer


def split_gzip_members(data: bytes) -> "list[tuple[int, int]] | None":
    """Exact (offset, length) of every gzip member in a multi-member
    stream, found by walking the stream with the DECOMPRESSOR (a
    magic-byte scan false-positives inside compressed bodies). The
    walk is sequential — it exists to BUILD the index once at write/
    discovery time; scans then split on the index without it. Returns
    None if any member is corrupt or the stream ends mid-member."""
    offsets: list[tuple[int, int]] = []
    pos, n = 0, len(data)
    view = memoryview(data)
    chunk_sz = 1 << 20
    # feed each member in bounded chunks off a zero-copy memoryview:
    # handing the decompressor the whole remaining stream per member
    # costs O(members x stream_bytes) in slice + unused_data copies —
    # quadratic on the multi-gigabyte archives this targets; chunked
    # feeding caps the per-member overshoot copy at one chunk
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        fed = 0
        try:
            while not d.eof and pos + fed < n:
                piece = view[pos + fed : pos + fed + chunk_sz]
                d.decompress(piece)
                fed += len(piece)
        except zlib.error:
            return None
        if not d.eof:
            return None  # truncated final member
        consumed = fed - len(d.unused_data)
        offsets.append((pos, consumed))
        pos += consumed
    return offsets if offsets else None


def decompress_member(data: bytes) -> "bytes | None":
    """Decompress exactly one gzip member (an indexed byte range).
    Trailing bytes beyond the member mean the index slice was wrong —
    rejected, not ignored."""
    d = zlib.decompressobj(wbits=31)
    try:
        out = d.decompress(data)
    except zlib.error:
        return None
    if not d.eof or d.unused_data:
        return None
    return out


# --------------------------------------------------------------------------
# distributed write + indexed scan
# --------------------------------------------------------------------------

_WORK = "/tmp/flink_stream_spark/warc"
_N_FILES = 8  # fixture-scale file count; a real crawl has millions

_CDX_SCHEMA = "file string, offset bigint, length bigint"
_REC_SCHEMA = (
    "doc_id bigint, target_uri string, warc_date string, lang string, "
    "content_length bigint, text string"
)


def _work_dir(spark: SparkSession, sf_dir: str) -> str:
    # keyed by scale AND applicationId — same discipline as
    # operators/formats.py (two concurrent runs must not race)
    tag = os.path.basename(sf_dir.rstrip("/")) or "root"
    return os.path.join(_WORK, spark.sparkContext.applicationId, tag)


def _warc_date(doc_id: int) -> str:
    import datetime as _dt

    t = _dt.datetime(2020, 1, 1, tzinfo=_dt.timezone.utc) + _dt.timedelta(
        seconds=int(doc_id)
    )
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def write_warc_gz(
    docs: DataFrame,
    out_dir: str,
    warc_type: str = "conversion",
    content_type: str = "text/plain",
) -> None:
    """Write (doc_id, text, lang) rows as real multi-member .warc.gz
    files + CDX sidecars, one file per doc_id % _N_FILES group, from
    DISTRIBUTED tasks (applyInPandas per group; only the
    _N_FILES-row manifest ever reaches the driver). One record per
    row: Target-URI/Date/Record-ID/Language derived from the row,
    payload = the text's UTF-8 bytes, record/content types as given
    (conversion+text/plain = the WET shape; response-like
    text/html = the raw-crawl shape the extraction pipeline eats)."""
    os.makedirs(out_dir, exist_ok=True)
    d = docs.select(
        "doc_id", "text", "lang", (F.col("doc_id") % _N_FILES).alias("grp")
    )

    def _write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        k = int(pdf["grp"].iloc[0])
        pdf = pdf.sort_values("doc_id")
        path = os.path.join(out_dir, f"part-{k:04d}.warc.gz")
        idx_rows = []
        with open(path, "wb") as fh:
            off = 0
            for doc_id, text, lang in zip(
                pdf["doc_id"], pdf["text"], pdf["lang"]
            ):
                payload = str(text).encode("utf-8")
                rec = encode_warc_record(
                    [
                        ("WARC-Type", warc_type),
                        ("WARC-Record-ID", f"<urn:fss:doc:{int(doc_id)}>"),
                        ("WARC-Date", _warc_date(int(doc_id))),
                        (
                            "WARC-Target-URI",
                            f"http://crawl.example/doc/{int(doc_id)}",
                        ),
                        ("WARC-Identified-Content-Language", str(lang)),
                        ("Content-Type", content_type),
                    ],
                    payload,
                )
                member = gzip_member(rec)
                fh.write(member)
                idx_rows.append((f"part-{k:04d}.warc.gz", off, len(member)))
                off += len(member)
        with open(os.path.join(out_dir, f"part-{k:04d}.cdx.csv"), "w") as fh:
            for f_, o_, l_ in idx_rows:
                fh.write(f"{f_},{o_},{l_}\n")
        return pd.DataFrame(
            {"file": [f"part-{k:04d}.warc.gz"], "n_records": [len(pdf)]}
        )

    manifest = d.groupBy("grp").applyInPandas(
        _write_group, "file string, n_records bigint"
    )
    # eager, bounded action (at most _N_FILES rows): forces the
    # distributed write so the returned scan DataFrame reads disk
    # only. An empty input legitimately writes zero files (the scan
    # over the empty dir returns zero rows); more than _N_FILES
    # manifest rows means the grouping itself misbehaved.
    n_files = manifest.count()
    if n_files > _N_FILES:
        raise RuntimeError(f"warc write produced {n_files} file groups")


def _write_warc_fixture(spark: SparkSession, sf_dir: str) -> str:
    """WET-style crawl synthesized from the documents table (see
    write_warc_gz). Returns the directory."""
    out_dir = _work_dir(spark, sf_dir)
    write_warc_gz(load_table(spark, sf_dir, "documents"), out_dir)
    return out_dir


def read_members(idx: DataFrame, warc_dir: str) -> DataFrame:
    """The distributed member-read stage: a DataFrame of CDX slices
    (file, offset, length) — from a batch scan OR a streaming
    micro-batch — becomes parsed records, each task seeking and
    decompressing only its own byte ranges. Shared by `warc_scan`
    and the continuous crawl-ingest twin
    (streaming/crawl_ingest_stream.py)."""

    def _read_members(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        handles: dict[str, io.BufferedReader] = {}
        try:
            for pdf in batches:
                out = {
                    "doc_id": [],
                    "target_uri": [],
                    "warc_date": [],
                    "lang": [],
                    "content_length": [],
                    "text": [],
                }
                for fn, off, ln in zip(
                    pdf["file"], pdf["offset"], pdf["length"]
                ):
                    fh = handles.get(fn)
                    if fh is None:
                        fh = open(os.path.join(warc_dir, fn), "rb")
                        handles[fn] = fh
                    fh.seek(int(off))
                    raw = decompress_member(fh.read(int(ln)))
                    if raw is None:
                        continue  # corrupt member: skip, never resync
                    recs = parse_warc_records(raw)
                    if recs is None:
                        continue
                    for rec in recs:
                        h = rec["headers"]
                        rid = h.get("warc-record-id", "")
                        if not (
                            rid.startswith("<urn:fss:doc:")
                            and rid.endswith(">")
                        ):
                            continue
                        out["doc_id"].append(int(rid[13:-1]))
                        out["target_uri"].append(h.get("warc-target-uri"))
                        out["warc_date"].append(h.get("warc-date"))
                        out["lang"].append(
                            h.get("warc-identified-content-language")
                        )
                        out["content_length"].append(
                            int(h["content-length"])
                        )
                        out["text"].append(
                            rec["payload"].decode("utf-8", "replace")
                        )
                if out["doc_id"]:
                    yield pd.DataFrame(out)
        finally:
            for fh in handles.values():
                fh.close()

    return idx.mapInPandas(_read_members, _REC_SCHEMA)


def warc_scan(spark: SparkSession, warc_dir: str) -> DataFrame:
    """Scan a directory of multi-member .warc.gz + CDX sidecars into
    a DataFrame of parsed conversion records — the splittable read:
    the CDX index is read BY SPARK (splittable CSV), the (file,
    offset, length) slices are spread across the cluster, and each
    task seeks into only its own members. No task ever reads a whole
    archive file; no list of members ever sits on the driver. At
    crawl scale the CDX is itself TBs — which is why it must be a
    Spark scan, not a driver glob."""
    idx = (
        spark.read.schema(_CDX_SCHEMA)
        .csv(os.path.join(warc_dir, "*.cdx.csv"))
        .transform(spread)
    )
    return read_members(idx, warc_dir)


@register(
    "scan_warc_roundtrip",
    f"""
    SELECT doc_id,
           'http://crawl.example/doc/' || doc_id AS target_uri,
           strftime(TIMESTAMP '2020-01-01 00:00:00'
                    + to_seconds(doc_id), '%Y-%m-%dT%H:%M:%SZ')
             AS warc_date,
           lang,
           CAST(strlen(text) AS BIGINT)
             AS content_length,
           text
    FROM documents
    ORDER BY doc_id
    """,
    group="formats",
    doc="WARC/WET crawl ingest round-trip under the oracle: the "
    "documents table becomes a real crawl layout — one WET "
    "conversion record per document, each record its own RFC 1952 "
    "gzip member, members concatenated into .warc.gz files with CDX "
    "(file, offset, length) sidecars — written by distributed tasks, "
    "then scanned back the splittable way: Spark reads the CDX "
    "index, spreads the member slices across the cluster, and each "
    "task seeks+decompresses only its own byte ranges. Every output "
    "value including doc_id is parsed OUT OF THE RECORD BYTES "
    "(record-id header), so the oracle hash proves writer + member "
    "framing + index + parser end-to-end. Scale: this is the Common "
    "Crawl shape — per-record members are what make a gzip crawl "
    "splittable at all; the CDX read is itself a splittable Spark "
    "scan because at 100 TB the index alone is TBs. "
    "Reference: upstream of flink/jobs/flink_json_to_iceberg.py's "
    "already-extracted JSON ingest (SURVEY §2 Part B).",
)
def scan_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    warc_dir = _write_warc_fixture(spark, sf_dir)
    return sorted_result(warc_scan(spark, warc_dir), "doc_id")


@register(
    "scan_warc_wet_stats",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(strlen(text)) AS BIGINT)
             AS total_bytes,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    group="formats",
    doc="Per-language crawl statistics computed FROM THE WARC SCAN "
    "(not the parquet): the ingest shape every curation pipeline "
    "runs first — scan the crawl, group by identified language, "
    "count documents and payload bytes. Runs over the same "
    ".warc.gz + CDX layout as scan_warc_roundtrip; the aggregate's "
    "hash-match proves the distributed member reads compose under a "
    "shuffle exactly as a parquet scan would. Scale: map-side "
    "partial aggregation over ~few-hundred language keys — the "
    "post-scan shuffle is tiny; the scan cost is the decompress, "
    "spread evenly by the slice repartition.",
)
def scan_warc_wet_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    warc_dir = _write_warc_fixture(spark, sf_dir)
    return (
        warc_scan(spark, warc_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("content_length").alias("total_bytes"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("lang")
    )
