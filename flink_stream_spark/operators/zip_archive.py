"""ZIP archive scan: deterministic writer + central-directory-indexed
splittable distributed read (PKWARE APPNOTE.TXT, the public .zip
spec).

Datasets arrive as ZIP archives at least as often as tarballs — and
unlike gzip'd tar, ZIP is SELF-INDEXING: the central directory at the
archive's tail maps every entry to (local header offset, compressed
size, crc), so a cluster can fan entry extraction out across tasks
with each task seeking and inflating only its own byte ranges — the
same split story operators/warc.py builds with a CDX sidecar, except
here the index is part of the format. Implemented from the public
spec only (APPNOTE.TXT structures; stdlib zlib raw-deflate for
method 8):

- `build_zip_entries` / local+central record writers: deterministic
  bytes (fixed DOS timestamp, no extra fields, no comment), methods
  0 (stored) and 8 (deflate) both emitted.
- `parse_eocd` / `parse_central_directory`: strict tail walk — the
  end-of-central-directory record is searched from the END (the spec
  allows a trailing comment), each central record's signature,
  name-length bookkeeping and offsets validated; any inconsistency
  is None, never a partial listing.
- `extract_entry`: parses the LOCAL header at the indexed offset
  (its own name-length bookkeeping — local and central records can
  disagree in hostile files, so both are read, neither trusted
  alone), inflates method-8 bodies with raw deflate, and verifies
  BOTH the crc32 and the uncompressed size against the central
  record. A crc mismatch is corruption, not a warning.
- `scan_zip_roundtrip`: oracled query — documents written into real
  multi-entry .zip archives from distributed tasks (store/deflate
  alternating by doc_id), the central directories read back in a
  narrow distributed stage (each task reads only archive TAILS),
  entries repartitioned and extracted task-local. Every output value
  is parsed back out of the archive bytes.

Reference: thanminh24/Flink-Stream ingests already-extracted JSON
(flink/jobs/flink_json_to_iceberg.py); archive ingest is the
upstream operator producing such rows from packaged datasets, per
SURVEY §2 Part B.
"""

from __future__ import annotations

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

_SIG_LOCAL = 0x04034B50
_SIG_CENTRAL = 0x02014B50
_SIG_EOCD = 0x06054B50
# fixed DOS datetime 2020-01-01 00:00:00 — determinism over provenance
_DOS_DATE = ((2020 - 1980) << 9) | (1 << 5) | 1
_DOS_TIME = 0

_STORED, _DEFLATED = 0, 8


def _deflate_raw(data: bytes, level: int = 6) -> bytes:
    c = zlib.compressobj(level, zlib.DEFLATED, -15)
    return c.compress(data) + c.flush()


def _inflate_raw(data: bytes) -> "bytes | None":
    d = zlib.decompressobj(-15)
    try:
        out = d.decompress(data)
    except zlib.error:
        return None
    if not d.eof or d.unused_data:
        return None
    return out


def build_zip_entries(entries: "list[tuple[str, bytes, int]]") -> bytes:
    """One archive from [(name, data, method)] — local records in
    order, then the central directory, then EOCD. Methods: 0 stored,
    8 deflate."""
    out = bytearray()
    central = bytearray()
    n = 0
    for name, data, method in entries:
        raw_name = name.encode("utf-8")
        if method == _DEFLATED:
            body = _deflate_raw(data)
        elif method == _STORED:
            body = data
        else:
            raise ValueError(f"unsupported method {method}")
        crc = zlib.crc32(data) & 0xFFFFFFFF
        local_off = len(out)
        out += struct.pack(
            "<IHHHHHIIIHH",
            _SIG_LOCAL, 20, 0, method, _DOS_TIME, _DOS_DATE,
            crc, len(body), len(data), len(raw_name), 0,
        )
        out += raw_name
        out += body
        central += struct.pack(
            "<IHHHHHHIIIHHHHHII",
            _SIG_CENTRAL, 20, 20, 0, method, _DOS_TIME, _DOS_DATE,
            crc, len(body), len(data), len(raw_name), 0, 0, 0, 0, 0,
            local_off,
        )
        central += raw_name
        n += 1
    cd_off = len(out)
    out += central
    out += struct.pack(
        "<IHHHHIIH", _SIG_EOCD, 0, 0, n, n, len(central), cd_off, 0
    )
    return bytes(out)


def parse_eocd(tail: bytes, file_size: int) -> "tuple[int, int, int] | None":
    """(cd_offset, cd_size, n_entries) from the archive tail bytes
    (the last min(file_size, 64KB+22) bytes). Searched from the END:
    a comment may follow EOCD, and compressed bodies can contain the
    signature byte pattern. The record's own comment-length field
    must account for exactly the bytes after it."""
    sig = struct.pack("<I", _SIG_EOCD)
    base = file_size - len(tail)
    i = tail.rfind(sig)
    while i >= 0:
        if len(tail) - i >= 22:
            (_, disk, cd_disk, n_disk, n_total, cd_size, cd_off,
             comment_len) = struct.unpack("<IHHHHIIH", tail[i : i + 22])
            if (
                base + i + 22 + comment_len == file_size
                and disk == 0 and cd_disk == 0 and n_disk == n_total
                and cd_off + cd_size == base + i
            ):
                return cd_off, cd_size, n_total
        i = tail.rfind(sig, 0, i)
    return None


def parse_central_directory(cd: bytes, n_entries: int):
    """[(name, method, crc, comp_size, uncomp_size, local_off)] or
    None if the record walk doesn't consume the directory exactly."""
    out = []
    pos = 0
    for _ in range(n_entries):
        if pos + 46 > len(cd):
            return None
        (sig, _vm, _vn, _flags, method, _t, _d, crc, comp, uncomp,
         name_len, extra_len, comment_len, _disk, _ia, _ea,
         local_off) = struct.unpack("<IHHHHHHIIIHHHHHII", cd[pos : pos + 46])
        if sig != _SIG_CENTRAL:
            return None
        name_end = pos + 46 + name_len
        if name_end + extra_len + comment_len > len(cd):
            return None
        try:
            name = cd[pos + 46 : name_end].decode("utf-8")
        except UnicodeDecodeError:
            return None
        out.append((name, method, crc, comp, uncomp, local_off))
        pos = name_end + extra_len + comment_len
    if pos != len(cd):
        return None
    return out


def extract_entry(
    local_bytes: bytes, method: int, crc: int, comp_size: int, uncomp_size: int
) -> "bytes | None":
    """Decode one entry from bytes starting at its local header.
    local_bytes must cover header + name + extra + comp_size body
    (callers over-read; excess is ignored). crc32 and size verified
    against the CENTRAL record's values."""
    if len(local_bytes) < 30:
        return None
    (sig, _v, _flags, l_method, _t, _d, _l_crc, _l_comp, _l_uncomp,
     name_len, extra_len) = struct.unpack("<IHHHHHIIIHH", local_bytes[:30])
    if sig != _SIG_LOCAL or l_method != method:
        return None
    body_off = 30 + name_len + extra_len
    body = local_bytes[body_off : body_off + comp_size]
    if len(body) != comp_size:
        return None
    if method == _STORED:
        data = bytes(body)
    elif method == _DEFLATED:
        data = _inflate_raw(body)
        if data is None:
            return None
    else:
        return None
    if len(data) != uncomp_size or (zlib.crc32(data) & 0xFFFFFFFF) != crc:
        return None
    return data


# --------------------------------------------------------------------------
# distributed write + indexed scan
# --------------------------------------------------------------------------

_WORK = "/tmp/flink_stream_spark/zip"
_N_FILES = 8  # fixture-scale; a real dataset drop has thousands


def _work_dir(spark: SparkSession, sf_dir: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/")) or "root"
    return os.path.join(_WORK, spark.sparkContext.applicationId, tag)


def write_zip_archives(docs: DataFrame, out_dir: str) -> None:
    """(doc_id, text) rows into _N_FILES .zip archives from
    distributed tasks (applyInPandas per doc_id % _N_FILES group;
    only the bounded manifest reaches the driver). Entry name
    doc-<id>.txt, payload UTF-8 text, method alternating stored/
    deflate by doc_id parity so BOTH decode paths run on real data."""
    os.makedirs(out_dir, exist_ok=True)
    d = docs.select(
        "doc_id", "text", (F.col("doc_id") % _N_FILES).alias("grp")
    )

    def _write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        k = int(pdf["grp"].iloc[0])
        pdf = pdf.sort_values("doc_id")
        entries = [
            (
                f"doc-{int(doc_id):010d}.txt",
                str(text).encode("utf-8"),
                _DEFLATED if int(doc_id) % 2 else _STORED,
            )
            for doc_id, text in zip(pdf["doc_id"], pdf["text"])
        ]
        path = os.path.join(out_dir, f"part-{k:04d}.zip")
        with open(path, "wb") as fh:
            fh.write(build_zip_entries(entries))
        return pd.DataFrame(
            {"file": [f"part-{k:04d}.zip"], "n_entries": [len(entries)]}
        )

    manifest = d.groupBy("grp").applyInPandas(
        _write_group, "file string, n_entries bigint"
    )
    n_files = manifest.count()
    if n_files > _N_FILES:
        raise RuntimeError(f"zip write produced {n_files} file groups")


def zip_scan(spark: SparkSession, zip_dir: str) -> DataFrame:
    """Directory of .zip archives -> (doc_id, method, n_bytes,
    text_md5), distributed in two narrow stages: (1) each task reads
    only the TAILS of its archives (EOCD + central directory — the
    index, KBs out of potentially-GB archives) and emits entry index
    rows; (2) entries repartition across the cluster and each task
    seeks + inflates only its own byte ranges. The driver holds file
    NAMES only (at real scale the archive listing itself comes from
    a catalog scan; the bounded fixture listdir stands in for it)."""
    files = sorted(
        f for f in os.listdir(zip_dir) if f.endswith(".zip")
    )
    fdf = spark.createDataFrame(
        [(os.path.join(zip_dir, f),) for f in files], "path string"
    ).repartition(max(1, len(files)))

    def _index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"path": [], "name": [], "method": [], "crc": [],
                    "comp_size": [], "uncomp_size": [], "local_off": []}
            for path in pdf["path"]:
                size = os.path.getsize(path)
                with open(path, "rb") as fh:
                    fh.seek(max(0, size - (22 + (1 << 16))))
                    tail = fh.read()
                    eocd = parse_eocd(tail, size)
                    if eocd is None:
                        raise ValueError(f"bad EOCD in {path}")
                    cd_off, cd_size, n_entries = eocd
                    fh.seek(cd_off)
                    cd = fh.read(cd_size)
                recs = parse_central_directory(cd, n_entries)
                if recs is None:
                    raise ValueError(f"bad central directory in {path}")
                for name, method, crc, comp, uncomp, off in recs:
                    rows["path"].append(path)
                    rows["name"].append(name)
                    rows["method"].append(method)
                    rows["crc"].append(crc)
                    rows["comp_size"].append(comp)
                    rows["uncomp_size"].append(uncomp)
                    rows["local_off"].append(off)
            yield pd.DataFrame(rows)

    idx = fdf.mapInPandas(
        _index,
        "path string, name string, method int, crc bigint, "
        "comp_size bigint, uncomp_size bigint, local_off bigint",
    ).transform(spread)

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = {"doc_id": [], "method": [], "n_bytes": [],
                    "text_md5": []}
            for path, name, method, crc, comp, uncomp, off in zip(
                pdf["path"], pdf["name"], pdf["method"], pdf["crc"],
                pdf["comp_size"], pdf["uncomp_size"], pdf["local_off"],
            ):
                with open(path, "rb") as fh:
                    fh.seek(int(off))
                    # header + max name/extra slack + body, one read
                    blob = fh.read(30 + 1024 + int(comp))
                data = extract_entry(
                    blob, int(method), int(crc), int(comp), int(uncomp)
                )
                if data is None:
                    raise ValueError(f"corrupt entry {name} in {path}")
                if not (name.startswith("doc-") and name.endswith(".txt")):
                    raise ValueError(f"unexpected entry name {name}")
                rows["doc_id"].append(int(name[4:-4]))
                rows["method"].append(int(method))
                rows["n_bytes"].append(len(data))
                rows["text_md5"].append(hashlib.md5(data).hexdigest())
            yield pd.DataFrame(rows)

    return idx.mapInPandas(
        _extract,
        "doc_id bigint, method int, n_bytes bigint, text_md5 string",
    )


@register(
    "scan_zip_roundtrip",
    """
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 2 = 1 THEN 8 ELSE 0 END AS INTEGER)
             AS method,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS text_md5
    FROM documents
    ORDER BY doc_id
    """,
    group="scan",
    doc="ZIP archive round-trip under the oracle: documents written "
    "into real multi-entry .zip archives from distributed tasks "
    "(APPNOTE.TXT local/central/EOCD records, stored and deflate "
    "entries alternating by doc_id), then scanned back the way a "
    "cluster reads a packaged dataset: stage 1 reads only archive "
    "TAILS (the self-indexing central directory), stage 2 "
    "repartitions entries and inflates each task's own byte ranges "
    "with crc32 + size verification. doc_id is parsed back out of "
    "the entry NAME, so the hash proves writer, index, both decode "
    "methods, and integrity checks end-to-end. Narrow stages + one "
    "entry-level repartition; no archive is ever read whole.",
)
def scan_zip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_dir = os.path.join(_work_dir(spark, sf_dir), "roundtrip")
    write_zip_archives(load_table(spark, sf_dir, "documents"), out_dir)
    return sorted_result(zip_scan(spark, out_dir), "doc_id")
