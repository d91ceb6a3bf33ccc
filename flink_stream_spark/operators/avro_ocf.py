"""Avro Object Container File codec + sync-marker splittable scan
(the Apache Avro 1.x specification, public).

The repo's ``format("avro")`` path is jar-gated (the spark-avro
module cannot be fetched offline — sources/connectors.py:41). This
module implements the FORMAT itself from the public spec, the way
operators/warc.py implements WARC: Avro's binary encoding (zigzag
varint longs, length-prefixed strings/bytes, little-endian doubles),
the Object Container File layout (magic ``Obj\\x01``, metadata map
carrying the writer schema JSON and codec, 16-byte sync marker,
blocks of ``count, byte-size, data, sync``), and the property that
makes Avro a first-class big-data format at all: ANY byte offset can
be turned into a record boundary by scanning forward to the next
sync marker — which is exactly how Spark/Hadoop split multi-GB Avro
files across tasks without an index.

- `encode_ocf` / `AvroWriter`: deterministic OCF bytes for a fixed
  record schema; null and deflate (raw RFC 1951, per spec) codecs.
- `read_ocf_header`: strict magic/metadata/schema parse.
- `scan_ranges`: the Hadoop split contract, implemented honestly —
  a task owning ``[start, end)`` syncs forward from ``start`` (the
  header, for start 0), then reads every block whose START offset
  lies in the range, even if the block's bytes run past ``end``.
  Every record is decoded from block bytes; a sync mismatch after
  any block, a short block, or a bad varint is a loud failure.

Reference: thanminh24/Flink-Stream's Kafka Connect ecosystem is
Avro's home turf (SURVEY §2 Part A ingest envelope); the format
layer here replaces the jar the sandbox cannot fetch.
"""

from __future__ import annotations

import json
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

_MAGIC = b"Obj\x01"
_SYNC_LEN = 16

# --------------------------------------------------------------------------
# binary encoding primitives
# --------------------------------------------------------------------------


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def write_long(n: int) -> bytes:
    u = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def read_long(data: bytes, pos: int) -> "tuple[int, int]":
    """(value, new_pos); raises ValueError on truncation/overlong."""
    u = shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated varint")
        b = data[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return _unzigzag(u), pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _write_str(s: str) -> bytes:
    raw = s.encode("utf-8")
    return write_long(len(raw)) + raw


def _write_bytes(b: bytes) -> bytes:
    return write_long(len(b)) + b


# --------------------------------------------------------------------------
# record schema (fixed field set per file, like any Avro writer)
# --------------------------------------------------------------------------

_ENCODERS = {
    "long": write_long,
    "int": write_long,
    "string": _write_str,
    "bytes": _write_bytes,
    "double": lambda v: struct.pack("<d", float(v)),
    "boolean": lambda v: b"\x01" if v else b"\x00",
}


def _decode_field(typ: str, data: bytes, pos: int):
    if typ in ("long", "int"):
        return read_long(data, pos)
    if typ in ("string", "bytes"):
        n, pos = read_long(data, pos)
        if n < 0 or pos + n > len(data):
            raise ValueError("bad length")
        raw = data[pos : pos + n]
        return (raw.decode("utf-8") if typ == "string" else raw), pos + n
    if typ == "double":
        if pos + 8 > len(data):
            raise ValueError("truncated double")
        return struct.unpack_from("<d", data, pos)[0], pos + 8
    if typ == "boolean":
        if pos >= len(data):
            raise ValueError("truncated boolean")
        return data[pos] == 1, pos + 1
    raise ValueError(f"unsupported type {typ}")


def _schema_json(name: str, fields: "list[tuple[str, str]]") -> str:
    return json.dumps(
        {
            "type": "record",
            "name": name,
            "fields": [{"name": f, "type": t} for f, t in fields],
        },
        separators=(",", ":"),
    )


# --------------------------------------------------------------------------
# OCF writer
# --------------------------------------------------------------------------


def _sync_for(tag: str) -> bytes:
    """Deterministic 16-byte sync marker per file (real writers draw
    one at random; determinism is the repo's reproducibility
    contract — the collision posture is identical)."""
    import hashlib

    return hashlib.md5(f"fss-avro-sync:{tag}".encode()).digest()


def encode_ocf(
    fields: "list[tuple[str, str]]",
    rows: "list[tuple]",
    sync_tag: str,
    codec: str = "deflate",
    records_per_block: int = 100,
) -> bytes:
    """One OCF: header (magic, metadata map with schema JSON +
    codec, sync), then count/size-framed blocks each followed by the
    sync marker."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported codec {codec}")
    sync = _sync_for(sync_tag)
    meta = {
        "avro.schema": _schema_json("Doc", fields).encode("utf-8"),
        "avro.codec": codec.encode("ascii"),
    }
    out = bytearray(_MAGIC)
    out += write_long(len(meta))
    for k in sorted(meta):
        out += _write_str(k) + _write_bytes(meta[k])
    out += write_long(0)  # end of metadata map
    out += sync
    encs = [_ENCODERS[t] for _, t in fields]
    for i in range(0, len(rows), records_per_block):
        chunk = rows[i : i + records_per_block]
        body = bytearray()
        for row in chunk:
            for enc, v in zip(encs, row):
                body += enc(v)
        payload = bytes(body)
        if codec == "deflate":
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            payload = c.compress(payload) + c.flush()
        out += write_long(len(chunk))
        out += write_long(len(payload))
        out += payload
        out += sync
    return bytes(out)


# --------------------------------------------------------------------------
# OCF reader: header + ranged sync-scan
# --------------------------------------------------------------------------


def read_ocf_header(data: bytes):
    """(fields, codec, sync, body_start) or None on malformation."""
    if data[:4] != _MAGIC:
        return None
    try:
        pos = 4
        meta: "dict[str, bytes]" = {}
        while True:
            n, pos = read_long(data, pos)
            if n == 0:
                break
            if n < 0:
                n = -n
                _, pos = read_long(data, pos)  # block byte size (unused)
            for _ in range(n):
                klen, pos = read_long(data, pos)
                key = data[pos : pos + klen].decode("utf-8")
                pos += klen
                vlen, pos = read_long(data, pos)
                meta[key] = data[pos : pos + vlen]
                pos += vlen
        schema = json.loads(meta["avro.schema"])
        codec = meta.get("avro.codec", b"null").decode("ascii")
        if schema.get("type") != "record" or codec not in ("null", "deflate"):
            return None
        fields = [(f["name"], f["type"]) for f in schema["fields"]]
        sync = data[pos : pos + _SYNC_LEN]
        if len(sync) != _SYNC_LEN:
            return None
        return fields, codec, sync, pos + _SYNC_LEN
    except (ValueError, KeyError, UnicodeDecodeError, json.JSONDecodeError):
        return None


def _decode_block(payload: bytes, count: int, fields) -> "list[tuple]":
    rows = []
    pos = 0
    for _ in range(count):
        row = []
        for _, typ in fields:
            v, pos = _decode_field(typ, payload, pos)
            row.append(v)
        rows.append(tuple(row))
    if pos != len(payload):
        raise ValueError("block payload not fully consumed")
    return rows


def scan_ranges(data: bytes, start: int, end: int) -> "list[tuple]":
    """Decode every record of every block whose PRECEDING SYNC MARKER
    begins in [start, end) — the Hadoop/Spark split contract made
    exact: each block is owned by the one split containing its sync's
    first byte (the header's trailing sync precedes block 0), a split
    may read past `end` to finish its last owned block, and no block
    is ever owned by zero or two splits. A sync found mid-range that
    is NOT a real block boundary (a 2^-128 payload collision) fails
    loudly on the following varint/sync check, never silently."""
    hdr = read_ocf_header(data)
    if hdr is None:
        raise ValueError("bad OCF header")
    fields, codec, sync, body_start = hdr
    i = data.find(sync, start)
    out: "list[tuple]" = []
    while 0 <= i < min(end, len(data)):
        pos = i + _SYNC_LEN
        if pos >= len(data):
            break  # trailing sync of the final block
        count, pos = read_long(data, pos)
        size, pos = read_long(data, pos)
        if count < 0 or size < 0 or pos + size + _SYNC_LEN > len(data):
            raise ValueError("truncated block")
        payload = data[pos : pos + size]
        next_sync = pos + size
        if data[next_sync : next_sync + _SYNC_LEN] != sync:
            raise ValueError("sync marker mismatch after block")
        if codec == "deflate":
            d = zlib.decompressobj(-15)
            try:
                payload = d.decompress(payload)
            except zlib.error as e:
                raise ValueError(f"bad deflate block: {e}") from None
            if not d.eof or d.unused_data:
                raise ValueError("bad deflate block")
        out.extend(_decode_block(payload, count, fields))
        i = next_sync
    return out


# --------------------------------------------------------------------------
# distributed write + split scan
# --------------------------------------------------------------------------

_WORK = "/tmp/flink_stream_spark/avro"
_N_FILES = 8
_FIELDS = [("doc_id", "long"), ("lang", "string"), ("text", "string")]


def _work_dir(spark: SparkSession, sf_dir: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/")) or "root"
    return os.path.join(_WORK, spark.sparkContext.applicationId, tag)


def write_avro_files(docs: DataFrame, out_dir: str) -> None:
    """documents rows into _N_FILES deflate-codec OCFs from
    distributed tasks, small blocks (25 records) so every file holds
    MANY sync-delimited blocks — the multi-split shape."""
    os.makedirs(out_dir, exist_ok=True)
    d = docs.select(
        "doc_id", "lang", "text", (F.col("doc_id") % _N_FILES).alias("grp")
    )

    def _write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        k = int(pdf["grp"].iloc[0])
        pdf = pdf.sort_values("doc_id")
        rows = [
            (int(i), str(lg), str(tx))
            for i, lg, tx in zip(pdf["doc_id"], pdf["lang"], pdf["text"])
        ]
        blob = encode_ocf(
            _FIELDS, rows, sync_tag=f"part-{k}", codec="deflate",
            records_per_block=25,
        )
        path = os.path.join(out_dir, f"part-{k:04d}.avro")
        with open(path, "wb") as fh:
            fh.write(blob)
        return pd.DataFrame({"file": [path], "n_rows": [len(rows)]})

    manifest = d.groupBy("grp").applyInPandas(
        _write_group, "file string, n_rows bigint"
    )
    if manifest.count() > _N_FILES:
        raise RuntimeError("avro write produced too many file groups")


def avro_scan(spark: SparkSession, avro_dir: str, n_splits_per_file: int = 4) -> DataFrame:
    """Directory of OCFs -> rows, read the way Spark's own Avro
    source reads a 10 GB file: each file is cut into byte-range
    splits, each split syncs forward and decodes only the blocks
    that START in its range. The driver holds (path, start, end)
    triples only — at real scale the file listing is a catalog scan
    and split generation is the same arithmetic."""
    splits = []
    for f in sorted(os.listdir(avro_dir)):
        if not f.endswith(".avro"):
            continue
        path = os.path.join(avro_dir, f)
        size = os.path.getsize(path)
        step = max(1, size // n_splits_per_file)
        bounds = list(range(0, size, step)) + [size]
        for a, b in zip(bounds, bounds[1:]):
            splits.append((path, a, b))
    sdf = spark.createDataFrame(
        splits, "path string, start bigint, end bigint"
    ).transform(spread)

    def _read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        cache: "dict[str, bytes]" = {}
        for pdf in batches:
            rows = {"doc_id": [], "lang": [], "n_chars": [], "text_md5": []}
            for path, a, b in zip(pdf["path"], pdf["start"], pdf["end"]):
                if path not in cache:
                    cache.clear()  # hold at most one file per task
                    with open(path, "rb") as fh:
                        cache[path] = fh.read()
                for doc_id, lang, text in scan_ranges(
                    cache[path], int(a), int(b)
                ):
                    rows["doc_id"].append(doc_id)
                    rows["lang"].append(lang)
                    rows["n_chars"].append(len(text))
                    rows["text_md5"].append(
                        hashlib.md5(text.encode("utf-8")).hexdigest()
                    )
            yield pd.DataFrame(rows)

    return sdf.mapInPandas(
        _read,
        "doc_id bigint, lang string, n_chars bigint, text_md5 string",
    )


@register(
    "scan_avro_roundtrip",
    """
    SELECT doc_id,
           lang,
           CAST(length(text) AS BIGINT) AS n_chars,
           md5(text) AS text_md5
    FROM documents
    ORDER BY doc_id
    """,
    group="scan",
    doc="Avro OCF round-trip under the oracle, replacing the "
    "jar-gated spark-avro module with the public spec implemented "
    "in-repo: documents written as deflate-codec Object Container "
    "Files from distributed tasks (zigzag-varint binary encoding, "
    "metadata map with writer schema, 16-byte sync markers, "
    "25-record blocks so each file holds many), then scanned back "
    "via byte-range SPLITS: each task syncs forward from its split "
    "start and decodes exactly the blocks that begin in its range — "
    "the contract that makes a 10 GB Avro file parallel-readable "
    "with no index. Each doc appears exactly once across 4 "
    "overlapping-free splits per file, so the hash proves encoding, "
    "block framing, the sync-scan split arithmetic, and deflate "
    "integrity end-to-end.",
)
def scan_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_dir = os.path.join(_work_dir(spark, sf_dir), "ocf")
    write_avro_files(load_table(spark, sf_dir, "documents"), out_dir)
    return sorted_result(avro_scan(spark, out_dir), "doc_id")
