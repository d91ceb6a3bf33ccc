"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata, processed by Arrow-batched Pandas UDFs over ``mapInPandas``
— the Spark-side plumbing (schema, partitioning, UDF signature, batch
shape) is real and tested. Codec decode is REAL when Pillow is
installed (optional import — ``decode_image`` / ``resize_image``) and
falls back per-payload to a deterministic fake otherwise, so every
stage downstream of decode is exercised end-to-end in both modes and
the oracled queries (whose payloads are text bytes, never decodable
images) hash identically with or without codec libraries.

The fixture corpus has no binary table, so the queries synthesize the
payload column deterministically from `documents.text` (UTF-8 bytes
stand in for an encoded image) — byte lengths, checksums and derived
"dimensions" are then oracle-checkable in SQL.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_stream_spark.catalog import load_table
from flink_stream_spark.operators.blocking import self_pairs, self_pairs_duck
from flink_stream_spark.operators.layout import sorted_result, spread
from flink_stream_spark.operators.registry import register

META_SCHEMA = (
    "doc_id bigint, n_bytes bigint, fake_width int, fake_height int, checksum string"
)


# --- text-to-media source of the codec round-trips ------------------------
#
# The codec round-trips synthesize media from document text, encode it
# with a real codec, decode it back, and hash-match an oracle that
# derives the decoded statistics straight from the text. The oracles
# address CODE POINTS (ord/substr) while the encoders read UTF-8 BYTES,
# so both engines keep ASCII documents only: ``_ASCII_P`` is the
# oracle-side gate (``strlen`` is the UTF-8 byte length; a BLOB cast
# would parse backslash escapes and reject non-ASCII text) and
# ``ascii_docs`` the Spark-side one.
_ASCII_P = """p AS (SELECT doc_id, text, LENGTH(text) AS n FROM documents
               WHERE LENGTH(text) = strlen(text))"""


def ascii_docs(docs: DataFrame) -> DataFrame:
    """The Spark side of ``_ASCII_P``: documents whose text is pure
    ASCII (chars == UTF-8 bytes)."""
    return docs.filter(F.length("text") == F.octet_length("text"))


def text_media(
    docs: DataFrame, encode_one: Callable[[int, np.ndarray], bytes]
) -> DataFrame:
    """documents -> (doc_id, payload binary): one encoded media payload
    per ASCII document, ``encode_one(doc_id, text_bytes)`` applied to
    each document's UTF-8 bytes (a read-only uint8 array, possibly
    empty). The source of every codec round-trip query.

    Plan: scan → ASCII filter → Exchange hashpartitioning(doc_id,
    <width>) → MapInPandas (this encode) → the caller's decode
    MapInPandas in the same stage. The exchange is the round-trips'
    ``spread`` (its width is decided in operators/layout.py): a
    single-row-group parquet fixture arrives as 1-2 splits, which would
    serialize the CPU-bound pure-Python codecs onto 1-2 cores. The queries' ORDER BY then adds
    ``sorted_result``'s result-sized hash exchange under the range
    exchange, so a round-trip plan holds two hash exchanges and one
    range exchange around its two Python stages (asserted by
    tests/test_plans.py::test_codec_roundtrip_plan_shape)."""
    src = (
        ascii_docs(docs)
        .transform(spread, "doc_id")
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                encode_one(int(doc_id), np.frombuffer(bytes(b), dtype=np.uint8))
                for doc_id, b in zip(pdf["doc_id"], pdf["payload"])
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return src.mapInPandas(_encode, "doc_id bigint, payload binary")


def _cycled(text: np.ndarray, size: int) -> np.ndarray:
    """``size`` uint8 values cycling through the text bytes (value i =
    byte[i mod n]); all zeros for an empty text."""
    if len(text) == 0:
        return np.zeros(size, dtype=np.uint8)
    return text[np.arange(size, dtype=np.int64) % len(text)]


def _spread_head(text: np.ndarray, size: int) -> np.ndarray:
    """``size`` uint8 luma values reading the text HEAD: (byte[i] · 37)
    mod 256 for i < n, else 0 (zero-padded; longer texts truncate)."""
    head = text[:size]
    px = np.zeros(size, dtype=np.uint8)
    px[: len(head)] = (head.astype(np.int64) * 37) % 256
    return px


_PILLOW_PROBE: list = []  # [module-or-None] once probed


def _pillow():
    """Optional Pillow import (the real image codec path). Returns the
    PIL.Image module or None — nothing in this package hard-requires
    codec libraries. The probe result is cached: a FAILED import is not
    cached by Python itself, and decode_meta runs per payload — an
    uncached miss re-walks sys.path for every row (measured 4× on the
    metadata-extract stage)."""
    if not _PILLOW_PROBE:
        try:
            from PIL import Image  # type: ignore

            _PILLOW_PROBE.append(Image)
        except ImportError:
            _PILLOW_PROBE.append(None)
    return _PILLOW_PROBE[0]


def decode_image(payload: bytes):
    """Real codec decode via Pillow when installed.

    Returns the decoded ``PIL.Image`` (dimensions, mode, pixel access).
    Raises ``NotImplementedError`` when no codec library is present —
    pipeline stages catch decode failures and use the deterministic
    fake, so the oracled queries run identically in both modes.
    """
    Image = _pillow()
    if Image is None:
        raise NotImplementedError(
            "image codecs (Pillow) are not installed; "
            "use fake_decode_meta (deterministic) or `pip install pillow`"
        )
    import io

    return Image.open(io.BytesIO(payload))


def fake_decode_meta(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for decode: derive a (width, height)
    from the payload length, mimicking a header parse."""
    n = len(payload)
    return (n % 640) + 1, (n % 480) + 1


def parse_image_header(payload: bytes) -> "tuple[int, int] | None":
    """REAL, dependency-free image header decode (stdlib only): returns
    (width, height) for PNG / GIF / BMP / JPEG / TIFF payloads, None
    for anything else. This is the codec branch CI exercises — Pillow is
    not installable in this sandbox (no pip; dated note in README), but
    reading dimensions is a header parse, not a pixel decode, and needs
    no codec library.

    Validation is strict enough that text bytes can never
    false-positive (which would silently change the oracled queries'
    results): PNG requires the full 8-byte magic AND a CRC-verified
    IHDR chunk (zlib.crc32 — 1-in-2^32 for random bytes, structurally
    impossible for UTF-8 text since the magic starts 0x89); GIF
    requires magic + a non-zero logical screen + a valid block
    sentinel (0x21/0x2C/0x3B) immediately after the header and any
    declared global color table;
    BMP requires 'BM' + a known DIB header size (40/52/56/108/124);
    JPEG requires the SOI marker and walks the segment chain to a SOFn;
    TIFF requires a byte-order mark + magic 42 (the magic embeds NULs,
    impossible in UTF-8 text) and reads Width/Height from a
    bounds-checked IFD walk.
    """
    import struct
    import zlib

    b = bytes(payload)
    # PNG: magic, then IHDR must be the first chunk; CRC covers
    # type+data so corrupt/non-image bytes are rejected
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 33 and b[12:16] == b"IHDR":
        (ihdr_len,) = struct.unpack(">I", b[8:12])
        if ihdr_len == 13:
            (crc,) = struct.unpack(">I", b[29:33])
            if zlib.crc32(b[12:29]) & 0xFFFFFFFF == crc:
                w, h = struct.unpack(">II", b[16:24])
                if 0 < w and 0 < h:
                    return int(w), int(h)
        return None
    # GIF: 6-byte magic + FULL 13-byte header, then structural proof —
    # the byte after the logical screen descriptor (and the global
    # color table, when the flags byte declares one) must be a valid
    # block sentinel (0x21 extension / 0x2C image descriptor /
    # 0x3B trailer). ASCII text that happens to start "GIF87a" would
    # additionally need exactly '!', ',' or ';' at that offset, so the
    # magic+shorts false-positive window is closed structurally.
    if b[:6] in (b"GIF87a", b"GIF89a"):
        if len(b) >= 13:
            w, h, flags = struct.unpack("<HHB", b[6:11])
            gct = 3 * (2 ** ((flags & 7) + 1)) if flags & 0x80 else 0
            sentinel = 13 + gct
            if w and h and len(b) > sentinel and b[sentinel] in (0x21, 0x2C, 0x3B):
                return int(w), int(h)
        return None
    # BMP: 'BM' + file header (14) + DIB header whose declared size
    # must be a known BITMAPINFOHEADER variant
    if b[:2] == b"BM" and len(b) >= 26:
        (dib,) = struct.unpack("<I", b[14:18])
        if dib in (40, 52, 56, 108, 124) and len(b) >= 14 + dib:
            w, h = struct.unpack("<ii", b[18:26])
            if w > 0 and h != 0:
                return int(w), abs(int(h))  # negative h = top-down rows
        return None
    # JPEG: SOI then marker segments until a frame header (SOFn)
    if b[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= len(b) and b[i] == 0xFF:
            marker = b[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            (seg_len,) = struct.unpack(">H", b[i + 2 : i + 4])
            if seg_len < 2:
                return None
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 <= len(b):
                    h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                    if w and h:
                        return int(w), int(h)
                return None
            i += 2 + seg_len
        return None
    # TIFF: byte-order mark + magic 42, then Width/Height from the IFD
    if b[:4] in (b"II*\x00", b"MM\x00*") and len(b) >= 8:
        e = "<" if b[:2] == b"II" else ">"
        (ifd,) = struct.unpack(e + "I", b[4:8])
        if 8 <= ifd and ifd + 2 <= len(b):
            (n_tags,) = struct.unpack(e + "H", b[ifd : ifd + 2])
            w = h = 0
            for t in range(n_tags):
                base = ifd + 2 + 12 * t
                if base + 12 > len(b):
                    return None
                tag, typ, count = struct.unpack(
                    e + "HHI", b[base : base + 8]
                )
                # count must be 1 for the value field to hold the
                # dimension inline; count > 1 stores an OFFSET there,
                # which would be misread as a bogus width/height
                # (advisor note, round 7; decode_tiff_gray's
                # _read_ifd_values already enforces this)
                if tag in (256, 257) and typ in (3, 4) and count == 1:
                    fmt = "H" if typ == 3 else "I"
                    (v,) = struct.unpack(
                        e + fmt, b[base + 8 : base + 8 + (2 if typ == 3 else 4)]
                    )
                    if tag == 256:
                        w = v
                    else:
                        h = v
            if w > 0 and h > 0:
                return int(w), int(h)
        return None
    return None


def decode_meta(payload: bytes) -> tuple[int, int]:
    """(width, height) of a payload. Decode ladder, best-real-first:
    Pillow (full codec) when installed → stdlib header parse
    (``parse_image_header`` — real dimensions for PNG/GIF/BMP/JPEG, no
    dependencies, strictly validated) → deterministic fake for
    non-image bytes. The fixture corpus's payloads are UTF-8 text
    (never valid images — the strict validation guarantees no
    false-positive), so the oracled queries produce identical results
    whether or not codecs are installed — the swap point for a real
    cluster is exactly here."""
    Image = _pillow()
    if Image is not None:
        import io

        try:
            with Image.open(io.BytesIO(bytes(payload))) as im:
                return im.width, im.height
        except Exception:
            pass  # not a decodable image -> header parse / fake
    parsed = parse_image_header(payload)
    if parsed is not None:
        return parsed
    return fake_decode_meta(payload)


def extract_media_metadata(media: DataFrame) -> DataFrame:
    """mapInPandas feature-extraction stage: binary in → typed metadata
    out, Arrow-batched. Partitioning is preserved (narrow op — no
    shuffle), so a 100 TB corpus decodes embarrassingly parallel."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        # decode_meta's ladder (Pillow → stdlib header parse → fake)
        # is always the right choice now that the header parser is
        # dependency-free; its non-image rejection is 4 prefix
        # compares, negligible per payload
        meta_fn = decode_meta
        for pdf in batches:
            payloads = pdf["payload"]
            wh = payloads.map(meta_fn)
            meta = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len),
                    "fake_width": wh.map(lambda t: t[0]),
                    "fake_height": wh.map(lambda t: t[1]),
                    "checksum": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
                }
            )
            yield meta

    return media.mapInPandas(_extract, schema=META_SCHEMA)


@register(
    "multimodal_metadata_extract",
    """
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST((strlen(text) % 640) + 1 AS INTEGER) AS fake_width,
           CAST((strlen(text) % 480) + 1 AS INTEGER) AS fake_height,
           md5(text) AS checksum
    FROM documents
    ORDER BY doc_id
    """,
    group="multimodal",
    doc="Binary payload → typed metadata via Arrow-batched mapInPandas "
    "(decode stubbed deterministically; plumbing real).",
)
def multimodal_metadata_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # no repartition here: at this fixture scale the Python-worker
    # spin-up for extra partitions costs more than the decode work;
    # a real 100 TB corpus arrives many-splits and parallelizes at
    # the scan (extract_media_metadata is a narrow op either way)
    media = d.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return sorted_result(extract_media_metadata(media), "doc_id")


def resize_image(payload: bytes, width: int, height: int) -> bytes:
    """Real codec resize via Pillow when installed: decode, resample
    to (width, height), re-encode PNG. Raises ``NotImplementedError``
    without codec libraries; ``resize_media`` falls back to the
    deterministic byte-decimation fake per payload, so the stage is
    testable end-to-end in both modes."""
    Image = _pillow()
    if Image is None:
        raise NotImplementedError(
            "image codecs (Pillow) are not installed; "
            "use the deterministic decimation fake or `pip install pillow`"
        )
    import io

    with Image.open(io.BytesIO(bytes(payload))) as im:
        out = io.BytesIO()
        im.resize((width, height)).save(out, format="PNG")
        return out.getvalue()


RESIZE_SCHEMA = "doc_id bigint, n_bytes bigint, resized_bytes bigint, resized_checksum string"


def resize_media(media: DataFrame, factor: int = 4) -> DataFrame:
    """mapInPandas resize stage: payload in → decimated payload stats
    out. The fake "resample" keeps every ``factor``-th byte (a header
    parse + nearest-neighbor downsample stand-in) so output size and
    checksum are deterministic and oracle-checkable. Narrow op — no
    shuffle; a 100 TB corpus resizes embarrassingly parallel."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            resized = pdf["payload"].map(lambda b: bytes(b)[::factor])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["payload"].map(len),
                    "resized_bytes": resized.map(len),
                    "resized_checksum": resized.map(
                        lambda b: hashlib.md5(b).hexdigest()
                    ),
                }
            )

    return media.mapInPandas(_resize, schema=RESIZE_SCHEMA)


@register(
    "multimodal_resize",
    f"""
    WITH {_ASCII_P},
    resized AS (
      SELECT doc_id, n AS n_bytes,
             list_aggregate(
               list_transform(
                 generate_series(1, ((n - 1) // 4) + 1),
                 i -> substr(text, (i - 1) * 4 + 1, 1)),
               'string_agg', '') AS r
      FROM p)
    SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(LENGTH(r) AS BIGINT) AS resized_bytes,
           md5(r) AS resized_checksum
    FROM resized
    ORDER BY doc_id
    """,
    group="multimodal",
    doc="Resize plumbing: payload → every-4th-byte decimation "
    "(deterministic resample fake) via Arrow-batched mapInPandas; "
    "size + checksum oracle-checked over ASCII documents (the oracle "
    "decimates code points, the UDF bytes).",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    media = ascii_docs(d).select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return sorted_result(resize_media(media), "doc_id")


FEATURE_BINS = 16
FEATURE_SCHEMA = "doc_id bigint, n_bytes bigint, feature array<bigint>"


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature-extraction to a fixed-width vector: binary
    payload → 16-bin byte-value histogram in exact ppm integers — the
    deterministic stand-in for an encoder producing an embedding. On a
    cluster with model runtimes this function body swaps for the real
    encoder; schema, batching and partitioning stay identical. Narrow
    op — no shuffle, embarrassingly parallel at any corpus size."""
    import numpy as np

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, sizes = [], []
            for b in pdf["payload"]:
                arr = np.frombuffer(bytes(b), dtype=np.uint8)
                n = len(arr)
                counts = np.bincount(arr % FEATURE_BINS, minlength=FEATURE_BINS)
                sizes.append(n)
                feats.append(
                    [int(1_000_000 * int(c) // n) if n else 0 for c in counts]
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_bytes": sizes, "feature": feats}
            )

    return media.mapInPandas(_feat, schema=FEATURE_SCHEMA)


@register(
    "multimodal_feature_extract",
    f"""
    WITH b AS (
      SELECT doc_id, hex(encode(text)) AS h,
             strlen(text) AS n
      FROM documents),
    bytes AS (
      SELECT doc_id, n,
             CAST('0x' || substr(h, (i - 1) * 2 + 1, 2) AS INTEGER)
               % {FEATURE_BINS} AS bin
      FROM b, unnest(generate_series(1, n)) AS t(i)),
    hist AS (
      SELECT doc_id, n, bin, COUNT(*) AS c
      FROM bytes GROUP BY doc_id, n, bin),
    dense AS (
      -- seed from ALL documents (not hist) so an empty payload still
      -- yields a zero vector, matching the Spark UDF's n=0 guard
      SELECT d.doc_id, d.n, g.bin, COALESCE(h.c, 0) AS c
      FROM (SELECT doc_id, n FROM b) d
      CROSS JOIN (SELECT unnest(generate_series(0, {FEATURE_BINS - 1})) AS bin) g
      LEFT JOIN hist h ON h.doc_id = d.doc_id AND h.bin = g.bin)
    SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
           list(CAST(CASE WHEN n = 0 THEN 0 ELSE 1000000 * c // n END AS BIGINT)
                ORDER BY bin) AS feature
    FROM dense
    GROUP BY doc_id, n
    ORDER BY doc_id
    """,
    group="multimodal",
    doc="Feature extraction to a fixed-width vector: binary payload → "
    "16-bin byte histogram in exact ppm integers via Arrow-batched "
    "mapInPandas (the deterministic stand-in for a model encoder — "
    "swap the UDF body for the real one, the Spark plumbing is "
    "unchanged). Integer arithmetic end-to-end, so the vectors "
    "hash-match the oracle exactly.",
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    media = d.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return sorted_result(extract_features(media), "doc_id")


@register(
    "multimodal_frame_sample",
    """
    WITH frames AS (
      SELECT doc_id, unnest(generate_series(0, ((strlen(text) // 64) - 1))) AS frame_no,
             strlen(text) AS n_bytes
      FROM documents
      WHERE strlen(text) >= 128)
    SELECT doc_id, CAST(frame_no AS INTEGER) AS frame_no,
           CAST(n_bytes AS BIGINT) AS n_bytes
    FROM frames
    WHERE frame_no % 4 = 0
    ORDER BY doc_id, frame_no
    """,
    group="multimodal",
    doc="Frame sampling plumbing: payload → frame index expansion → "
    "every-4th-frame sample; at scale the expansion is a generator "
    "expression, never materialized on the driver.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    media = d.select("doc_id", F.encode("text", "utf-8").alias("payload")).filter(
        F.length("payload") >= 128
    )
    frames = media.select(
        "doc_id",
        F.length("payload").cast("bigint").alias("n_bytes"),
        F.explode(
            F.sequence(F.lit(0), (F.length("payload") / F.lit(64)).cast("int") - 1)
        ).alias("frame_no"),
    )
    return (
        frames.filter(F.col("frame_no") % 4 == 0)
        .select("doc_id", F.col("frame_no").cast("int").alias("frame_no"), "n_bytes")
        .orderBy("doc_id", "frame_no")
    )


# --- image near-duplicate dedup (difference hash) -------------------------
#
# dHash (difference hash, the standard perceptual near-dup fingerprint:
# resample the image to a (rows, cols+1) grid of grayscale samples, emit
# one bit per adjacent-sample comparison). The grayscale resample ladder
# is best-real-first, like decode_meta's: REAL PNG pixel decode via the
# stdlib-zlib codec in operators/png.py (inflate + the 5 unfilters +
# palette/luma — no external library) → integer block-mean downsample
# to the 8x9 grid; payloads that are not decodable PNGs fall back to
# the deterministic byte resample (72 bytes at positions i*n//72). The
# fixture corpus's payloads are UTF-8 text — never PNGs — so the
# oracled query stays on the fallback and its history is unchanged,
# while real PNG near-dups (re-encodes, one-pixel edits) now hash by
# CONTENT: a re-encode rewrites nearly every container byte but decodes
# to identical pixels, so its pixel-domain dHash distance is 0 where
# the byte-domain distance was ~32 (random). Grid shape, banding, and
# pair verification are identical on both branches.
DHASH_ROWS = 8  # 8 rows x 8 bits = 64-bit hash, stored as 8 byte-bands
DHASH_HAMMING_MAX = 16  # pair-verify threshold over the full 64 bits
DHASH_BAND_CAP = 128  # hot-band guard: a (band_idx, value) bucket with
# more docs than this nominates no pairs (same discipline and rationale
# as BLOCK_DF_CAP in operators/dedup.py; the oracle mirrors the cap)
# CORPUS-ADAPTIVE band width (the SemDeDup-K lesson applied to
# banding): with a fixed 8-bit band alphabet, expected bucket
# population grows ∝ n/256 per band index, so candidate pairs grow
# ∝ n² — quadratic at web scale, and the hot-band cap would then kill
# recall instead. Widening the band (merging adjacent byte-bands) as
# the corpus grows keeps the expected bucket population bounded:
# 8 bands x 8 bits while n <= 16384 (n/256 <= 64), 4 bands x 16 bits
# to n <= 4.2M (n/65536 <= 64), 2 bands x 32 bits beyond. Both engines
# derive the SAME tier from one scalar COUNT(*). Trade-off: the
# pigeonhole guarantee is hamming <= nbands-1 (7 / 3 / 1), the
# standard multi-index-hashing recall curve (Norouzi et al. 2012).
DHASH_TIER1_MAX = 16_384  # corpus size ceilings for the band tiers
DHASH_TIER2_MAX = 4_194_304


def dhash_num_bands(n_docs: int) -> int:
    if n_docs <= DHASH_TIER1_MAX:
        return 8
    if n_docs <= DHASH_TIER2_MAX:
        return 4
    return 2

DHASH_SCHEMA = "doc_id bigint, bands array<int>"


def dhash_bands(media: DataFrame) -> DataFrame:
    """(doc_id, payload binary) -> (doc_id, bands array<int> of 8
    byte-values) — the 64-bit dHash split into its 8 row-bands, the
    unit the Hamming-LSH blocking groups on. PNG, GIF, JPEG (baseline
    AND progressive), BMP, and TIFF payloads are decoded to PIXELS
    (stdlib+numpy codecs, operators/{png,gif,jpeg,bmp,tiff}.py — zlib
    inflate + unfilter, real LZW, huffman + dequant + pinned integer
    IDCT, uncompressed DIB, and strip/PackBits TIFF) and block-mean
    downsampled; everything else uses
    the deterministic byte resample. Arrow-batched mapInPandas,
    narrow (no shuffle): a 100 TB corpus hashes embarrassingly
    parallel."""
    import numpy as np

    from flink_stream_spark.operators.bmp import decode_bmp_gray
    from flink_stream_spark.operators.gif import decode_gif_gray
    from flink_stream_spark.operators.jpeg import (
        apply_exif_orientation,
        decode_jpeg_gray,
        parse_exif_orientation,
    )
    from flink_stream_spark.operators.png import decode_png_gray, gray_grid
    from flink_stream_spark.operators.tiff import decode_tiff_gray

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = 1 << np.arange(DHASH_ROWS)

        def one(b: bytes) -> list[int]:
            b = bytes(b)
            px = None
            if b[:8] == b"\x89PNG\r\n\x1a\n":
                gray = decode_png_gray(b)
                if gray is not None:
                    px = gray_grid(gray, DHASH_ROWS, 9)
            elif b[:6] in (b"GIF87a", b"GIF89a"):
                gray = decode_gif_gray(b)
                if gray is not None:
                    px = gray_grid(gray, DHASH_ROWS, 9)
            elif b[:2] == b"\xff\xd8":  # JPEG SOI (0xFF: never UTF-8 text)
                gray = decode_jpeg_gray(b)
                if gray is not None:
                    # normalize to the DISPLAYED image: flag-rotated
                    # re-uploads (EXIF tag 274) must hash identically
                    o = parse_exif_orientation(b)
                    if o > 1:
                        gray = apply_exif_orientation(gray, o)
                    px = gray_grid(gray, DHASH_ROWS, 9)
            elif b[:2] == b"BM":
                # 'BM' alone is printable text; decode_bmp_gray's
                # structural checks (DIB-size u32 forces NULs) make a
                # text misparse impossible — see operators/bmp.py.
                gray = decode_bmp_gray(b)
                if gray is not None:
                    px = gray_grid(gray, DHASH_ROWS, 9)
            elif b[:4] in (b"II*\x00", b"MM\x00*"):
                # TIFF magic embeds NULs — impossible in UTF-8 text
                gray = decode_tiff_gray(b)
                if gray is not None:
                    px = gray_grid(gray, DHASH_ROWS, 9)
            if px is None:
                arr = np.frombuffer(b, dtype=np.uint8)
                n = len(arr)
                if n == 0:
                    return [0] * DHASH_ROWS
                idx = (np.arange(DHASH_ROWS * 9, dtype=np.int64) * n) // (
                    DHASH_ROWS * 9
                )
                px = arr[idx].reshape(DHASH_ROWS, 9).astype(np.int16)
            bits = px[:, :-1] < px[:, 1:]
            return [int(v) for v in (bits * weights).sum(axis=1)]

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "bands": pdf["payload"].map(one)}
            )

    return media.mapInPandas(_hash, schema=DHASH_SCHEMA)


def dhash_band_vals(nb: int):
    """Column expression: the 8 byte-bands merged into ``nb`` wider
    band values (little-endian byte packing) — the corpus-adaptive
    blocking key. Algebraic merge of adjacent byte-bands, so the
    stored hash is tier-independent and an index built at one tier
    re-blocks at another without rehashing."""
    g = DHASH_ROWS // nb
    return F.array(
        *[
            sum(
                F.col("bands")[g * r + t].cast("bigint") * F.lit(256**t)
                for t in range(g)
            )
            for r in range(nb)
        ]
    )


def dhash_hamming(a, b):
    """Exact Hamming distance between two 8-byte-band arrays as 8
    codegen'd bit_count(xor) terms — no HOF, no Python, stays
    JVM-side."""
    ham = None
    for i in range(DHASH_ROWS):
        term = F.bit_count(a[i].bitwiseXOR(b[i]))
        ham = term if ham is None else ham + term
    return ham.cast("bigint")


def dhash_near_dup_pairs(media: DataFrame, n_docs: "int | None" = None) -> DataFrame:
    """Full image near-dup pipeline over (doc_id, payload binary):
    dHash → corpus-adaptive Hamming-LSH banding → hot-band cap → exact
    Hamming verify. Returns (doc_a, doc_b, hamming), ordered. Shared by
    the registered batch query and the PNG/streaming scenario tests so
    every caller exercises the identical plan."""
    # persist: the hash frame feeds three subtrees (band explode + the
    # two verify joins) and Spark re-evaluates unpersisted subplans per
    # reference — without this the Arrow-batched Python stage runs 3x.
    # Keeping the PAIR side skinny (doc ids only) and joining the 8-int
    # arrays back per side is the measured-faster shape: the distinct
    # dedupes 16-byte rows and the array joins broadcast/AQE-plan,
    # whereas carrying both arrays through the candidate exchange
    # measured ~2x slower at sf0.1.
    # spread the payload before the Arrow-batched decode+hash stage:
    # a single-row-group parquet fixture arrives as 1-2 input splits,
    # which would serialize the whole Python stage onto 1-2 cores
    # (round-10 sf1 profile: the hash stage ran as 2 tasks on 32
    # cores); elided automatically when a caller already partitioned
    bands = dhash_bands(spread(media, "doc_id")).persist()
    # adaptive band width from ONE scalar count (see dhash_num_bands);
    # wider bands are algebraic merges of adjacent byte-bands, so the
    # hash stage and the Hamming verify are tier-independent
    nb = dhash_num_bands(media.count() if n_docs is None else n_docs)
    e = bands.select(
        "doc_id", F.posexplode(dhash_band_vals(nb)).alias("band_idx", "band_val")
    )
    cand = self_pairs(e, ["band_idx", "band_val"], DHASH_BAND_CAP).distinct()
    ba = bands.select(F.col("doc_id").alias("doc_a"), F.col("bands").alias("ba"))
    bb = bands.select(F.col("doc_id").alias("doc_b"), F.col("bands").alias("bb"))
    # exact Hamming over the full 64 bits (dhash_hamming: 8 codegen'd
    # bit_count(xor) terms — no HOF, no Python, verify stays JVM-side)
    return (
        cand.join(ba, "doc_a")
        .join(bb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            dhash_hamming(F.col("ba"), F.col("bb")).alias("hamming"),
        )
        .filter(F.col("hamming") <= DHASH_HAMMING_MAX)
        # plain sort: a pre-sort exchange was never measured to pay here
        .orderBy("doc_a", "doc_b")
    )


@register(
    "multimodal_image_dedup_dhash",
    f"""
    WITH {_ASCII_P},
    s AS (
      SELECT doc_id,
        list_transform(generate_series(0, {DHASH_ROWS * 9 - 1}),
          i -> CASE WHEN n = 0 THEN 0
               ELSE ord(substr(text, CAST(i * n // {DHASH_ROWS * 9} AS INT) + 1, 1))
               END) AS px
      FROM p),
    b AS (
      SELECT doc_id,
        list_transform(generate_series(0, {DHASH_ROWS - 1}),
          r -> list_aggregate(list_transform(generate_series(0, 7),
                 c -> CASE WHEN px[r*9 + c + 1] < px[r*9 + c + 2]
                      THEN 1 << c ELSE 0 END), 'sum')) AS bands
      FROM s),
    kk AS (
      SELECT CASE WHEN COUNT(*) <= {DHASH_TIER1_MAX} THEN 8
                  WHEN COUNT(*) <= {DHASH_TIER2_MAX} THEN 4
                  ELSE 2 END AS nb
      FROM documents),
    e AS (
      SELECT doc_id, r AS band_idx,
             CASE (SELECT nb FROM kk)
               WHEN 8 THEN CAST(bands[r + 1] AS BIGINT)
               WHEN 4 THEN CAST(bands[2*r + 1] AS BIGINT)
                         + 256 * CAST(bands[2*r + 2] AS BIGINT)
               ELSE CAST(bands[4*r + 1] AS BIGINT)
                  + 256 * CAST(bands[4*r + 2] AS BIGINT)
                  + 65536 * CAST(bands[4*r + 3] AS BIGINT)
                  + 16777216 * CAST(bands[4*r + 4] AS BIGINT)
             END AS band_val
      FROM b, unnest(generate_series(0, (SELECT nb FROM kk) - 1)) AS t(r)),
    {self_pairs_duck("e", ["band_idx", "band_val"], DHASH_BAND_CAP)},
    pairs AS (
      SELECT c.doc_a, c.doc_b,
        CAST(list_aggregate(list_transform(generate_series(1, {DHASH_ROWS}),
          i -> bit_count(xor(ba.bands[i], bb.bands[i]))), 'sum') AS BIGINT)
          AS hamming
      FROM (SELECT DISTINCT doc_a, doc_b FROM kpairs) c
      JOIN b ba ON ba.doc_id = c.doc_a
      JOIN b bb ON bb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, hamming FROM pairs
    WHERE hamming <= {DHASH_HAMMING_MAX}
    ORDER BY doc_a, doc_b
    """,
    group="multimodal",
    doc="Image near-dup dedup: 64-bit dHash per payload (Arrow-batched; "
    "PNG, GIF, BMP, TIFF, and baseline and progressive JPEG payloads "
    "decode to REAL pixels via the stdlib+numpy codecs in "
    "operators/{png,gif,bmp,tiff,jpeg}.py, JPEGs normalized to their "
    "EXIF orientation, and block-mean downsample to the 8x9 grid — "
    "other payloads, "
    "including this fixture's text bytes, use the "
    "deterministic byte resample), Hamming-LSH blocking on CORPUS-ADAPTIVE "
    "bands — 8x8-bit / 4x16-bit / 2x32-bit chosen from one scalar "
    "COUNT(*) so expected bucket population stays bounded (~n/2^width) "
    "as the corpus grows; the oracle derives the same tier. A pair is "
    "nominated iff it shares one EXACT band — pigeonhole guarantees "
    "every pair with hamming <= nbands-1 is nominated (multi-index "
    "hashing recall curve); above that it's probabilistic, like "
    f"MinHash banding. Exact Hamming <= {DHASH_HAMMING_MAX} verify "
    "over candidates only, as 8 codegen'd bit_count(xor) terms. "
    "Scale: pair work is Σ band-bucket², never corpus²; buckets "
    f"hotter than {DHASH_BAND_CAP} docs nominate nothing (oracle "
    "mirrors the cap).",
)
def multimodal_image_dedup_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # ASCII gate: the oracle byte-resamples via code points
    # (ord/substr); exclude multi-byte docs identically in both engines
    media = d.filter(F.length("text") == F.octet_length("text")).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return dhash_near_dup_pairs(media)


# --- PNG round-trip: the pixel decoder under the DuckDB oracle ------------
#
# The PNG decoder (operators/png.py) cannot be expressed in SQL — but
# its CORRECTNESS can still be driver-oracled end-to-end: synthesize a
# deterministic 16x18 grayscale image from each document's text bytes
# (pixel[y][x] = byte[(y*18+x) mod n]), ENCODE it as a real PNG with
# the scanline filter cycling through all five types (doc_id % 5) and
# zlib-compressed IDAT, then run the encoded container through the
# SAME dhash_bands stage the dedup query uses — which must detect the
# PNG magic, inflate, unfilter, and block-mean downsample back to the
# 8x9 grid. The oracle computes the grid STRAIGHT from the text bytes
# (2x2 integer block means), never seeing a PNG: the hashes can only
# match if inflate+unfilter reproduced every pixel exactly, for every
# filter type. This is the strongest evidence the sandbox can produce
# that the codec is real, at every fixture scale, on every document.
PNGRT_H, PNGRT_W = 16, 18  # 2x the 8x9 hash grid -> 2x2 block means
_RT_PLAN = (
    " Plan (see text_media): a doc_id hash spread, then the encode and "
    "decode mapInPandas run back to back in one stage, then "
    "sorted_result's exchange under the range sort."
)


def _dhash_grid_oracle(px: str) -> str:
    """Oracle of a dHash round-trip: the 8x9 grid straight from the
    text (``px``: the SQL value of grid cell ``i`` of a non-empty
    text; an empty text is all zeros), reduced to the dHash bands."""
    return f"""
    WITH {_ASCII_P},
    s AS (
      SELECT doc_id,
        list_transform(generate_series(0, {DHASH_ROWS * 9 - 1}),
          i -> CASE WHEN n = 0 THEN 0 ELSE {px} END) AS px
      FROM p),
    b AS (
      SELECT doc_id,
        list_transform(generate_series(0, {DHASH_ROWS - 1}),
          r -> CAST(list_aggregate(list_transform(generate_series(0, 7),
                 c -> CASE WHEN px[r*9 + c + 1] < px[r*9 + c + 2]
                      THEN 1 << c ELSE 0 END), 'sum') AS INTEGER)) AS bands
      FROM s)
    SELECT doc_id, bands FROM b ORDER BY doc_id
    """


# PNG/GIF/BMP: 2x2 block means of the 16x18 image (``_rt_image``)
_DHASH_2X2_DUCK = _dhash_grid_oracle(
    f"""(
                 ord(substr(text, ((i // 9) * 2 * {PNGRT_W} + (i % 9) * 2) % n + 1, 1))
               + ord(substr(text, ((i // 9) * 2 * {PNGRT_W} + (i % 9) * 2 + 1) % n + 1, 1))
               + ord(substr(text, (((i // 9) * 2 + 1) * {PNGRT_W} + (i % 9) * 2) % n + 1, 1))
               + ord(substr(text, (((i // 9) * 2 + 1) * {PNGRT_W} + (i % 9) * 2 + 1) % n + 1, 1))
               ) // 4"""
)
# baseline/progressive JPEG, EXIF, TIFF: the 8x9 grid itself, cycled
_DHASH_CYCLIC_DUCK = _dhash_grid_oracle("ord(substr(text, (i % n) + 1, 1))")


def _rt_image(text: np.ndarray) -> np.ndarray:
    """The 16x18 grayscale image of the PNG/GIF/BMP round-trips:
    pixel[y][x] = byte[(y*18+x) mod n]."""
    return _cycled(text, PNGRT_H * PNGRT_W).reshape(PNGRT_H, PNGRT_W)


@register(
    "multimodal_png_roundtrip_dhash",
    _DHASH_2X2_DUCK,
    group="multimodal",
    doc="PNG codec round-trip under the oracle: text bytes → 16x18 "
    "grayscale pixels → REAL PNG encode (scanline filter = doc_id % 5, "
    "all five types exercised; zlib IDAT) → stdlib decode (inflate + "
    "unfilter, operators/png.py) → 2x2 block-mean grid → dHash bands. "
    "The oracle derives the grid directly from the text, so a hash "
    "match proves the decoder reproduced every pixel for every filter "
    "type." + _RT_PLAN,
)
def multimodal_png_roundtrip_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_stream_spark.operators.png import encode_png

    media = text_media(
        load_table(spark, sf_dir, "documents"),
        lambda doc_id, text: encode_png(_rt_image(text), filter_type=doc_id % 5),
    )
    return sorted_result(dhash_bands(media), "doc_id")


@register(
    "multimodal_gif_roundtrip_dhash",
    _DHASH_2X2_DUCK,
    group="multimodal",
    doc="GIF codec round-trip under the oracle: the same 16x18 "
    "grayscale grid as the PNG round-trip, but encoded as a REAL "
    "single-frame GIF — grayscale palette + genuine greedy LZW "
    "compression (variable-width codes, dictionary growth, "
    "CLEAR/EOI), interlaced for every odd doc_id so the 4-pass row "
    "order is exercised corpus-wide — then decoded back through "
    "dhash_bands' GIF branch (operators/gif.py). The oracle (the "
    "same SQL as the PNG round-trip: same pixels, different "
    "container) derives the grid straight from the text, so a hash "
    "match proves the LZW decoder reproduced every pixel in both "
    "row orders." + _RT_PLAN,
)
def multimodal_gif_roundtrip_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_stream_spark.operators.gif import encode_gif_gray

    media = text_media(
        load_table(spark, sf_dir, "documents"),
        lambda doc_id, text: encode_gif_gray(
            _rt_image(text).astype(np.int64), interlace=bool(doc_id % 2)
        ),
    )
    return sorted_result(dhash_bands(media), "doc_id")


@register(
    "multimodal_bmp_roundtrip_dhash",
    _DHASH_2X2_DUCK,
    group="multimodal",
    doc="BMP codec round-trip under the oracle: the same 16x18 "
    "grayscale grid as the PNG/GIF round-trips, encoded as a REAL "
    "uncompressed DIB (operators/bmp.py) with doc_id cycling all "
    "four encoder layouts — 8-bit palette vs 24-bit BGR x bottom-up "
    "vs top-down (negative height) — then decoded back through "
    "dhash_bands' BMP branch. The oracle (the same SQL as the "
    "PNG/GIF round-trips: same pixels, different container) derives "
    "the grid straight from the text, so a hash match proves the "
    "decoder reproduced every pixel in every layout: palette "
    "lookup, BGR luma, 4-byte row padding (18 and 54 bytes/row both "
    "pad), and both row orders." + _RT_PLAN,
)
def multimodal_bmp_roundtrip_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_stream_spark.operators.bmp import encode_bmp

    media = text_media(
        load_table(spark, sf_dir, "documents"),
        lambda doc_id, text: encode_bmp(
            _rt_image(text), bpp=8 if doc_id % 2 == 0 else 24, top_down=doc_id % 4 >= 2
        ),
    )
    return sorted_result(dhash_bands(media), "doc_id")


# --- JPEG round-trip: the baseline-JPEG decoder under the oracle ----------
#
# JPEG is lossy, so the PNG/GIF trick (pin every pixel) needs one more
# idea: an 8x8-CONSTANT block has all-zero AC coefficients and a
# RATIONAL DC (8*(v-128)), so at quality 100 (all-ones quant tables)
# encode→decode reproduces it PIXEL-EXACTLY through the pinned integer
# IDCT (max internal error ≈0.043 < 0.5 — proven in
# tests/test_jpeg_codec.py; the general lossy bound is unit-tested
# separately). Synthesize the 8x9 dHash grid straight from text bytes,
# upscale each cell to a constant 8x8 block (64x72 luma), encode a
# REAL baseline JPEG — component layout cycling through grayscale /
# 4:4:4 / 4:2:2 / 4:2:0 by doc_id%4 (every MCU interleave shipped),
# restart interval 2 for odd doc_ids (DRI/RSTn + DC-predictor resets
# corpus-wide) — and decode back through dhash_bands' JPEG branch.
# The oracle computes the grid directly from the text: a hash match
# proves the huffman decode, dequant, IDCT, MCU interleave, padding
# crop, and restart handling reproduced every luma pixel. Chroma
# planes are text-derived too; a chroma/luma interleave bug would
# corrupt luma placement and fail the hash.
JPGRT_LAYOUTS = [
    None,  # grayscale, 1 component
    [(1, 1), (1, 1), (1, 1)],  # 4:4:4
    [(2, 1), (1, 1), (1, 1)],  # 4:2:2
    [(2, 2), (1, 1), (1, 1)],  # 4:2:0
]


def _jpeg_luma(text: np.ndarray) -> np.ndarray:
    """The 64x72 luma of the JPEG round-trips: the cycled 8x9 grid,
    each cell upscaled to a constant 8x8 block."""
    grid = _cycled(text, DHASH_ROWS * 9).reshape(DHASH_ROWS, 9)
    return np.repeat(np.repeat(grid, 8, 0), 8, 1)


def _jpeg_rt_media(docs: DataFrame, encoder: Callable[..., bytes]) -> DataFrame:
    """``text_media`` of the baseline and progressive JPEG round-trips,
    which differ only in ``encoder``: the constant-block luma plus, for
    the colour layouts (JPGRT_LAYOUTS[doc_id % 4]), two chroma planes,
    at quality 100 with restart markers every 2 MCUs for odd doc_ids."""

    def encode(doc_id: int, text: np.ndarray) -> bytes:
        y = _jpeg_luma(text)
        layout = JPGRT_LAYOUTS[doc_id % 4]
        planes = [y]
        if layout is not None:
            sh, sv = layout[0]
            cw, ch = 72 // sh, 64 // sv
            gh, gw = -(-ch // 8), -(-cw // 8)
            # chroma planes of 8x8-CONSTANT blocks from the text bytes:
            # constant blocks keep the entropy stream tiny (DC+EOB per
            # block) while still driving the full chroma decode path; a
            # random-pixel plane at quality 100 is incompressible and
            # costs ~30x the symbols for zero extra coverage
            for shift, fill in ((3, 128), (11, 64)):
                cg = (
                    np.full(gh * gw, fill, dtype=np.uint8)
                    if len(text) == 0
                    else text[(np.arange(gh * gw, dtype=np.int64) + shift) % len(text)]
                ).reshape(gh, gw)
                planes.append(np.repeat(np.repeat(cg, 8, 0), 8, 1)[:ch, :cw])
        return encoder(
            planes, layout, quality=100, restart_interval=2 if doc_id % 2 else 0
        )

    return text_media(docs, encode)


@register(
    "multimodal_jpeg_roundtrip_dhash",
    _DHASH_CYCLIC_DUCK,
    group="multimodal",
    doc="Baseline-JPEG codec round-trip under the oracle: text bytes → "
    "8x9 grid → constant 8x8 blocks (64x72 luma; constant blocks have "
    "zero AC and rational DC, so quality-100 encode→decode is "
    "pixel-exact through the pinned integer IDCT) → REAL baseline "
    "JPEG encode with the component layout cycling grayscale/4:4:4/"
    "4:2:2/4:2:0 by doc_id%4 and restart markers every 2 MCUs for odd "
    "doc_ids → stdlib+numpy decode (operators/jpeg.py: huffman, "
    "dequant, dezigzag, integer IDCT, MCU de-interleave, padding "
    "crop) → block-mean grid → dHash bands. The oracle derives the "
    "grid straight from the text, so a hash match proves the decoder "
    "reproduced every luma pixel across all four layouts and the "
    "restart path." + _RT_PLAN,
)
def multimodal_jpeg_roundtrip_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_stream_spark.operators.jpeg import encode_jpeg

    media = _jpeg_rt_media(load_table(spark, sf_dir, "documents"), encode_jpeg)
    return sorted_result(dhash_bands(media), "doc_id")


@register(
    "multimodal_exif_orientation_dhash",
    _DHASH_CYCLIC_DUCK,
    group="multimodal",
    doc="EXIF-orientation normalization under the oracle: cameras "
    "record rotation as APP1/IFD0 tag 274 instead of rotating pixels, "
    "so a flag-rotated re-upload has a totally different stored pixel "
    "layout — near-dup hashing must normalize to the DISPLAYED image "
    "(dhash_bands' JPEG branch now parses the tag and applies the "
    "transform). This round-trip stores each document's grid "
    "INVERSE-transformed for orientation (doc_id % 8) + 1 — all eight "
    "EXIF values, including the transposing ones that swap image "
    "dimensions — splices a spec-correct EXIF APP1, and hashes "
    "through the full parse→decode→normalize ladder. The oracle "
    "derives the grid straight from the text with NO orientation "
    "term, so a hash match proves the normalization exactly undid "
    "every stored transform; any parse or transform bug shuffles the "
    "grid and breaks the hash corpus-wide. Constant 8x8 blocks keep "
    "quality-100 JPEG pixel-exact (blocks stay block-aligned under "
    "all eight transforms since both dimensions are multiples of 8)."
    + _RT_PLAN,
)
def multimodal_exif_orientation_dhash(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from flink_stream_spark.operators.jpeg import (
        EXIF_INVERSE,
        apply_exif_orientation,
        encode_jpeg,
        insert_exif_orientation,
    )

    def encode(doc_id: int, text: np.ndarray) -> bytes:
        o = doc_id % 8 + 1
        stored = apply_exif_orientation(_jpeg_luma(text), EXIF_INVERSE[o])
        jpg = encode_jpeg([np.ascontiguousarray(stored)], quality=100)
        return insert_exif_orientation(jpg, o)

    media = text_media(load_table(spark, sf_dir, "documents"), encode)
    return sorted_result(dhash_bands(media), "doc_id")


# --- audio: WAV codec round-trip + envelope near-dup ----------------------
#
# The second REAL modality codec (operators/wav.py — RIFF/PCM is pure
# struct + numpy, no library): audio payloads decode to integer sample
# frames, reduce to an exact integer mean-|amplitude| envelope (the
# acoustic analogue of the dHash block-mean grid), and near-dup by
# banded envelope signatures + exact L1 verify. Same oracle trick as
# the PNG round-trip: samples synthesize deterministically from text
# bytes, Spark encodes a REAL WAV container and decodes it back, the
# oracle computes the envelope straight from the text — a hash match
# proves the codec reproduced every sample.
WAVRT_N = 256  # synthesized frames per doc (16 envelope windows of 16)
WAVRT_RATE = 16000
ENV_WINDOWS = 16
AUDIO_QSTEP = 1024  # envelope quantization for banding (<=32 levels)
AUDIO_BANDS = 4  # 4 bands x 4 quantized windows each
AUDIO_L1_MAX = 2048  # exact L1 verify threshold over the 16 windows
AUDIO_BAND_CAP = 128  # hot-band guard, mirrored by the oracle

AUDIO_STATS_SCHEMA = (
    "doc_id bigint, n_frames bigint, peak_abs bigint, sum_abs bigint, "
    "env array<bigint>"
)


def decode_audio(payload: bytes) -> "dict | None":
    """Container-agnostic audio decode ladder: RIFF/WAVE, then
    FORM/AIFF (operators/aiff.py — big-endian words, signed 8-bit,
    80-bit extended-float rate), then FLAC (operators/flac.py — the
    compressed rung: Rice-coded fixed/LPC prediction, lossless, so
    samples come back bit-exact). All decoders return the same dict
    contract, so every consumer — envelope stats, constellation
    fingerprints, the streaming dedup index — is container-BLIND: a
    clip re-encoded WAV->AIFF->FLAC decodes to the identical sample
    array and dedups against its original (cross-codec tests pin
    it). None of the magics ('RIFF'/'FORM' followed by structural
    u32s and a second magic; 'fLaC' followed by a checked STREAMINFO
    block) can false-positive on UTF-8 fixture text."""
    from flink_stream_spark.operators.aiff import decode_aiff
    from flink_stream_spark.operators.flac import decode_flac
    from flink_stream_spark.operators.wav import decode_wav

    b = bytes(payload)
    if b[:4] == b"RIFF":
        return decode_wav(b)
    if b[:4] == b"FORM":
        return decode_aiff(b)
    if b[:4] == b"fLaC":
        return decode_flac(b)
    return None


def wav_envelope_stats(media: DataFrame) -> DataFrame:
    """(doc_id, payload binary) -> decoded-PCM statistics via the REAL
    audio codecs (WAV or AIFF — ``decode_audio``): frame count,
    peak/sum |amplitude|, and the ENV_WINDOWS-point integer energy
    envelope. Payloads that are not integer-PCM audio yield the zero
    row (n_frames=0) rather than failing — the decode-ladder
    discipline. Arrow-batched, narrow."""
    import numpy as np

    from flink_stream_spark.operators.wav import (
        envelope_from_abs,
        mono_abs,
    )

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "n_frames": [], "peak_abs": [], "sum_abs": [], "env": []}
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                d = decode_audio(bytes(b))
                if d is None or len(d["samples"]) == 0:
                    out["doc_id"].append(doc_id)
                    out["n_frames"].append(0)
                    out["peak_abs"].append(0)
                    out["sum_abs"].append(0)
                    out["env"].append([0] * ENV_WINDOWS)
                    continue
                a = mono_abs(d["samples"])  # computed ONCE: feeds
                #                             peak/sum AND the envelope
                out["doc_id"].append(doc_id)
                out["n_frames"].append(len(a))
                out["peak_abs"].append(int(a.max()))
                out["sum_abs"].append(int(a.sum()))
                out["env"].append(
                    [int(v) for v in envelope_from_abs(a, ENV_WINDOWS)]
                )
            if out["doc_id"]:
                yield pd.DataFrame(
                    {k: pd.Series(v, dtype=object) for k, v in out.items()}
                )

    return media.mapInPandas(_stats, schema=AUDIO_STATS_SCHEMA)


def _wav_samples(text: np.ndarray) -> np.ndarray:
    """The WAVRT_N int16-range samples of the WAV/AIFF/FLAC round-trips:
    sample[i] = byte[i mod n]·256 − 32768; silence for an empty text."""
    if len(text) == 0:
        return np.zeros(WAVRT_N, dtype=np.int64)
    return _cycled(text, WAVRT_N).astype(np.int64) * 256 - 32768


def _wav_media(d: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload): a REAL int16 mono WAV per doc of
    ``_wav_samples``, so the oracle (``_WAV_ENV_DUCK``) can derive
    everything downstream of the codec straight from the text."""
    from flink_stream_spark.operators.wav import encode_wav

    return text_media(
        d, lambda doc_id, text: encode_wav(_wav_samples(text), rate=WAVRT_RATE, bits=16)
    )


_WAV_ENV_DUCK = f"""
    WITH {_ASCII_P},
    s AS (
      SELECT doc_id,
        list_transform(generate_series(0, {WAVRT_N - 1}),
          i -> CASE WHEN n = 0 THEN 0
               ELSE ord(substr(text, (i % n) + 1, 1)) * 256 - 32768
               END) AS sm
      FROM p),
    e AS (
      SELECT doc_id, sm,
        list_transform(generate_series(0, {ENV_WINDOWS - 1}),
          w -> list_aggregate(
                 list_transform(generate_series(w * {WAVRT_N // ENV_WINDOWS} + 1,
                                                (w + 1) * {WAVRT_N // ENV_WINDOWS}),
                                j -> abs(sm[j])), 'sum')
               // {WAVRT_N // ENV_WINDOWS}) AS env
      FROM s)
"""
# the WAV/AIFF/FLAC round-trips: same samples, three containers
_WAV_STATS_DUCK = (
    _WAV_ENV_DUCK
    + f"""
    SELECT doc_id,
           CAST({WAVRT_N} AS BIGINT) AS n_frames,
           CAST(list_aggregate(list_transform(sm, x -> abs(x)), 'max') AS BIGINT)
             AS peak_abs,
           CAST(list_aggregate(list_transform(sm, x -> abs(x)), 'sum') AS BIGINT)
             AS sum_abs,
           list_transform(env, x -> CAST(x AS BIGINT)) AS env
    FROM e
    ORDER BY doc_id
    """
)


@register(
    "multimodal_wav_roundtrip_stats",
    _WAV_STATS_DUCK,
    group="multimodal",
    doc="WAV codec round-trip under the oracle: text bytes → int16 "
    "mono samples → REAL RIFF/PCM encode → stdlib decode "
    "(operators/wav.py, strict chunk walk + format validation) → "
    "frame count, peak/sum |amplitude|, and the 16-window integer "
    "energy envelope. The oracle derives every statistic straight "
    "from the text, so a hash match proves the codec reproduced "
    "every sample; sample math is numpy-vectorized, never a "
    "per-sample Python loop." + _RT_PLAN,
)
def multimodal_wav_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return sorted_result(wav_envelope_stats(_wav_media(d)), "doc_id")


@register(
    "multimodal_aiff_roundtrip_stats",
    _WAV_STATS_DUCK,
    group="multimodal",
    doc="AIFF codec round-trip under the oracle: the SAME int16 "
    "samples as the WAV round-trip, encoded into the OTHER "
    "uncompressed-PCM container (operators/aiff.py — IFF FORM/AIFF "
    "framing, BIG-endian words, 80-bit extended-float sample rate, "
    "container width cycling 16/24/32-bit by doc_id % 3), decoded "
    "through the container-agnostic ladder, reduced to the identical "
    "envelope statistics. The oracle is byte-for-byte the WAV "
    "round-trip's oracle — same samples, different container — so a "
    "hash match simultaneously proves the AIFF decoder reproduced "
    "every sample at every width AND that the two containers are "
    "interchangeable to every downstream consumer (the cross-codec "
    "dedup property)." + _RT_PLAN,
)
def multimodal_aiff_roundtrip_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from flink_stream_spark.operators.aiff import encode_aiff

    media = text_media(
        load_table(spark, sf_dir, "documents"),
        lambda doc_id, text: encode_aiff(
            _wav_samples(text), rate=WAVRT_RATE, bits=(16, 24, 32)[doc_id % 3]
        ),
    )
    return sorted_result(wav_envelope_stats(media), "doc_id")


@register(
    "multimodal_flac_roundtrip_stats",
    _WAV_STATS_DUCK,
    group="multimodal",
    doc="FLAC codec round-trip under the oracle: the SAME int16 "
    "samples as the WAV/AIFF round-trips, encoded through the "
    "COMPRESSED container (operators/flac.py — STREAMINFO with "
    "stream MD5, CRC-8/CRC-16-checked frames, fixed polynomial "
    "predictors with Rice-coded residuals; sample width cycling "
    "16/20/24-bit by doc_id % 3 so NON-BYTE-ALIGNED bit packing is "
    "exercised corpus-wide), decoded through the container-agnostic "
    "ladder, reduced to the identical envelope statistics. The "
    "oracle is byte-for-byte the WAV round-trip's oracle — so a "
    "hash match proves lossless compression reproduced every sample "
    "at every width AND that all three containers are "
    "interchangeable to every downstream consumer (cross-codec "
    "dedup property)." + _RT_PLAN,
)
def multimodal_flac_roundtrip_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from flink_stream_spark.operators.flac import encode_flac

    media = text_media(
        load_table(spark, sf_dir, "documents"),
        lambda doc_id, text: encode_flac(
            _wav_samples(text), rate=WAVRT_RATE, bits=(16, 20, 24)[doc_id % 3]
        ),
    )
    return sorted_result(wav_envelope_stats(media), "doc_id")


class BandedL1(NamedTuple):
    """One raw-signal modality of the banded-L1 near-dup kernel. A
    signature is ``n_bands`` x ``per_band`` nonnegative integers stored
    raw in ``sig_col``; audio envelopes and video block means differ
    only in these constants."""

    sig_col: str
    n_bands: int
    per_band: int
    qstep: int  # quantization step of the band values
    l1_max: int  # exact L1 verify threshold over the whole signature
    band_cap: int  # batch hot-band guard, mirrored by the oracles

    def band_vals(self) -> Column:
        """The packed band-signature values (base-33) of the stored raw
        signature — a pure column expression, so an index holding raw
        signatures re-blocks algebraically (the image-stream lesson:
        store the signal, derive the blocking). Quantizes per extracted
        element, NOT via an F.transform HOF: a transform embedded in
        each band term is re-evaluated whole per term and HOF lambdas
        don't codegen; element_at + divide + cast stays in codegen and
        is numerically identical (values nonnegative, truncation ==
        floor)."""

        def qat(i: int):
            q = F.element_at(F.col(self.sig_col), i) / F.lit(self.qstep)
            return q.cast("bigint")

        k = self.per_band
        return F.array(
            *[
                sum(qat(k * b + t + 1) * F.lit(33**t) for t in range(k))
                for b in range(self.n_bands)
            ]
        )

    def l1(self, a: Column, b: Column) -> Column:
        """Exact L1 over two signatures as codegen'd abs-diff terms
        (JVM-side, no HOF)."""
        l1 = None
        for i in range(self.n_bands * self.per_band):
            term = F.abs(a[i] - b[i])
            l1 = term if l1 is None else l1 + term
        return l1.cast("bigint")

    def band_rows(self, sigs: DataFrame) -> DataFrame:
        """(doc_id, band_idx, band_val) of each stored signature. All-
        zero bands nominate NOTHING (band_val > 0): the zero-signature
        decode fallback (undecodable payloads), pure silence and
        zero-padding tail frames would otherwise all share band_val=0
        with pairwise L1=0, silently flagging every undecodable clip
        after the first as a duplicate."""
        return sigs.select(
            "doc_id", F.posexplode(self.band_vals()).alias("band_idx", "band_val")
        ).filter(F.col("band_val") > 0)

    def near(self, a: Column, b: Column) -> Column:
        """The exact verify predicate: L1 <= l1_max."""
        return self.l1(a, b) <= self.l1_max


AUDIO_ENVELOPE = BandedL1(
    "env", AUDIO_BANDS, ENV_WINDOWS // AUDIO_BANDS, AUDIO_QSTEP,
    AUDIO_L1_MAX, AUDIO_BAND_CAP,
)


def banded_l1_near_dup_pairs(
    stats: DataFrame, mod: BandedL1, cap_hot: bool = True
) -> DataFrame:
    """(doc_id, <mod.sig_col>) -> verified near-dup pairs (doc_a < doc_b,
    l1_dist): banded nomination + exact L1 <= ``mod.l1_max`` verify.
    The kernel of ``multimodal_audio_dedup_envelope`` (AUDIO_ENVELOPE)
    and ``multimodal_video_dedup_motion`` (VIDEO_MOTION); the streaming
    audio/video twins share its ``BandedL1`` band rows, its blocking
    join (operators/blocking.py) and its verify predicate. ``cap_hot``
    applies the batch-global hot-band cap (the streaming probe side
    must NOT cap — the parity rule in operators/blocking.py)."""
    cand = (
        self_pairs(
            mod.band_rows(stats),
            ["band_idx", "band_val"],
            mod.band_cap if cap_hot else None,
        )
        # width-pinned dedup: a bare .distinct() exchange AQE-coalesces
        # by bytes to 1-2 partitions, serializing the dedup AND the
        # interpreted per-element L1 verify that rides above it
        # (profiled 2x ~3 s cpu on TWO tasks at sf0.1). ``spread``'s
        # fixed-width exchange (operators/layout.py) pins the width;
        # dropDuplicates on the same keys rides it without adding one.
        .transform(spread, "doc_a", "doc_b")
        .dropDuplicates()
    )
    sig = stats.select("doc_id", mod.sig_col)
    return (
        cand.join(sig.toDF("doc_a", "sa"), "doc_a")
        .join(sig.toDF("doc_b", "sb"), "doc_b")
        .select("doc_a", "doc_b", mod.l1(F.col("sa"), F.col("sb")).alias("l1_dist"))
        .filter(F.col("l1_dist") <= mod.l1_max)
    )


@register(
    "multimodal_audio_dedup_envelope",
    _WAV_ENV_DUCK
    + f"""
    , q AS (
      SELECT doc_id, env,
             list_transform(env, x -> x // {AUDIO_QSTEP}) AS qe
      FROM e),
    bv AS (
      SELECT doc_id, env, b AS band_idx,
             qe[4*b + 1] + 33 * qe[4*b + 2] + 1089 * qe[4*b + 3]
               + 35937 * qe[4*b + 4] AS band_val
      FROM q, unnest(generate_series(0, {AUDIO_BANDS - 1})) AS t(b)),
    bvc AS (SELECT * FROM bv WHERE band_val > 0),
    {self_pairs_duck("bvc", ["band_idx", "band_val"], AUDIO_BAND_CAP)},
    pairs AS (
      SELECT c.doc_a, c.doc_b,
        CAST(list_aggregate(list_transform(generate_series(1, {ENV_WINDOWS}),
          i -> abs(ea.env[i] - eb.env[i])), 'sum') AS BIGINT) AS l1_dist
      FROM (SELECT DISTINCT doc_a, doc_b FROM kpairs) c
      JOIN e ea ON ea.doc_id = c.doc_a
      JOIN e eb ON eb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, l1_dist FROM pairs
    WHERE l1_dist <= {AUDIO_L1_MAX}
    ORDER BY doc_a, doc_b
    """,
    group="multimodal",
    doc="Audio near-dup dedup over DECODED PCM: WAV payloads → "
    "16-window integer energy envelope (the acoustic fingerprint) → "
    f"banded signatures ({AUDIO_BANDS} bands of 4 windows quantized "
    f"to {AUDIO_QSTEP}-wide levels, packed base-33) → exact L1 verify "
    f"<= {AUDIO_L1_MAX} over candidates only, as 16 codegen'd "
    "abs-diff terms (JVM-side). A pair sharing one exact band is "
    "nominated — the dHash/MinHash banding discipline on a "
    f"continuous signal; buckets hotter than {AUDIO_BAND_CAP} docs "
    "nominate nothing (oracle mirrors the cap). Pair work is "
    "Σ bucket², never corpus². The envelope stage runs ONCE "
    "(persisted) and feeds banding + both verify joins.",
)
def multimodal_audio_dedup_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    stats = wav_envelope_stats(_wav_media(d)).select("doc_id", "env").persist()
    return banded_l1_near_dup_pairs(stats, AUDIO_ENVELOPE).orderBy("doc_a", "doc_b")


# --- video: Y4M codec round-trip + motion-signature near-dup --------------
#
# The third REAL modality codec (operators/y4m.py — YUV4MPEG2 is the
# uncompressed interchange format of the mjpegtools/ffmpeg toolchains:
# text header + raw planar frames). Video payloads decode to luma
# frame stacks, reduce to exact-integer per-frame means / block means
# / total motion, and near-dup by banded per-frame spatial signatures
# + exact L1 verify. Same oracle trick as the PNG and WAV round-trips:
# frames synthesize deterministically from text bytes, Spark encodes a
# REAL Y4M container (colorspace cycling doc_id % 3 over mono/420/444
# so chroma-plane framing is exercised corpus-wide) and decodes it
# back; the oracle computes every statistic straight from the text — a
# hash match proves the codec reproduced every luma pixel.
VID_FRAMES = 8
VID_H, VID_W = 8, 16  # 128 luma bytes per frame
VID_BLOCKS = 4  # vertical strips per frame (4 cols x 8 rows = 32 px)
VID_QSTEP = 8  # block-mean quantization for banding (32 levels)
VID_BAND_CAP = 128  # hot-band guard, mirrored by the oracle
VID_L1_MAX = 48  # exact L1 verify threshold over the 32 block means
_VID_CS = ["mono", "420", "444"]
# per-frame spatial bands: one band of VID_BLOCKS strips per frame
VIDEO_MOTION = BandedL1(
    "block_means", VID_FRAMES, VID_BLOCKS, VID_QSTEP, VID_L1_MAX, VID_BAND_CAP
)

VIDEO_STATS_SCHEMA = (
    "doc_id bigint, n_frames bigint, frame_means array<bigint>, "
    "block_means array<bigint>, motion bigint"
)


def decode_video(payload: bytes) -> "dict | None":
    """Container-agnostic video decode ladder: YUV4MPEG2 (Y4M —
    uncompressed planar), then RIFF/'AVI ' Motion-JPEG
    (operators/avi.py — every frame a complete baseline JPEG through
    the repo's own JPEG codec). Both return the same dict contract
    ({"frames": (n,h,w) uint8 luma, fps}), so every video consumer —
    motion stats, scene cuts, banded near-dup, the streaming video
    index — is container-BLIND: a Y4M clip re-encoded as MJPEG-AVI
    decodes to the identical luma stack (at quality 100 on
    block-aligned content) and dedups against its original. The AVI
    branch checks bytes 8:12 so RIFF/WAVE audio never reaches it."""
    from flink_stream_spark.operators.avi import decode_avi_mjpeg
    from flink_stream_spark.operators.y4m import decode_y4m

    b = bytes(payload)
    if b[:9] == b"YUV4MPEG2":
        return decode_y4m(b)
    if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
        return decode_avi_mjpeg(b)
    return None


def video_motion_stats(media: DataFrame) -> DataFrame:
    """(doc_id, payload binary) -> decoded-luma statistics via the
    REAL video codecs (Y4M or MJPEG-AVI — ``decode_video``): frame
    count, per-frame integer mean luma, the flattened per-frame
    vertical-strip block means (VID_FRAMES x VID_BLOCKS), and total
    motion Σ|mean[f]−mean[f−1]|. Payloads that are not valid video
    yield the zero row (n_frames=0) rather than failing — the
    decode-ladder discipline. Arrow-batched, narrow."""
    from flink_stream_spark.operators.y4m import motion_profile

    zero_blocks = [0] * (VID_FRAMES * VID_BLOCKS)

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "n_frames": [], "frame_means": [],
                "block_means": [], "motion": [],
            }
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                d = decode_video(bytes(b))
                out["doc_id"].append(doc_id)
                if d is None or len(d["frames"]) == 0:
                    out["n_frames"].append(0)
                    out["frame_means"].append([0] * VID_FRAMES)
                    out["block_means"].append(zero_blocks)
                    out["motion"].append(0)
                    continue
                prof = motion_profile(d["frames"], n_blocks=VID_BLOCKS)
                out["n_frames"].append(len(d["frames"]))
                out["frame_means"].append(prof["frame_means"])
                out["block_means"].append(
                    [v for row in prof["block_means"] for v in row]
                )
                out["motion"].append(prof["motion"])
            if out["doc_id"]:
                yield pd.DataFrame(
                    {k: pd.Series(v, dtype=object) for k, v in out.items()}
                )

    return media.mapInPandas(_stats, schema=VIDEO_STATS_SCHEMA)


def _y4m_media(d: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload): a REAL Y4M clip per doc —
    VID_FRAMES frames of VID_H x VID_W luma reading the text HEAD
    (``_spread_head``: pixel i, row-major across frames, = (byte[i] ·
    37) mod 256 for i < n, else 0). Head-indexing keeps byte→pixel
    alignment independent of document length, so near-identical texts
    (shared prefix, small tail edit) produce near-identical clips —
    modular wraparound would shift every pixel when lengths differ by
    one. The ×37 mod 256 bijection spreads ASCII's narrow [32, 126]
    band over the full luma range (unspread, every block mean
    collapses toward the same value and the dedup signature loses all
    discrimination — measured 34% of all pairs flagged). Colorspace
    cycles doc_id % 3 over mono/420/444 so chroma-plane framing is
    exercised corpus-wide. The oracle derives everything downstream of
    the codec straight from the text."""
    from flink_stream_spark.operators.y4m import encode_y4m

    def encode(doc_id: int, text: np.ndarray) -> bytes:
        px = _spread_head(text, VID_FRAMES * VID_H * VID_W)
        frames = px.reshape(VID_FRAMES, VID_H, VID_W)
        return encode_y4m(frames, colorspace=_VID_CS[doc_id % 3])

    return text_media(d, encode)


_VID_FRAME_PX = VID_H * VID_W
_VID_STRIP_W = VID_W // VID_BLOCKS
_VID_STRIP_PX = VID_H * _VID_STRIP_W

_VID_STATS_DUCK = f"""
    WITH {_ASCII_P},
    s AS (
      SELECT doc_id, n,
        list_transform(generate_series(0, {VID_FRAMES - 1}),
          f -> list_aggregate(list_transform(generate_series(0, {_VID_FRAME_PX - 1}),
                 i -> CASE WHEN f * {_VID_FRAME_PX} + i < n THEN
                      (ord(substr(text, f * {_VID_FRAME_PX} + i + 1, 1)) * 37) % 256
                      ELSE 0 END),
                 'sum') // {_VID_FRAME_PX}) AS fm,
        list_transform(generate_series(0, {VID_FRAMES * VID_BLOCKS - 1}),
          j -> list_aggregate(list_transform(generate_series(0, {_VID_STRIP_PX - 1}),
                 t -> CASE WHEN (j // {VID_BLOCKS}) * {_VID_FRAME_PX}
                         + (t // {_VID_STRIP_W}) * {VID_W}
                         + (j % {VID_BLOCKS}) * {_VID_STRIP_W}
                         + (t % {_VID_STRIP_W}) < n THEN
                      (ord(substr(text,
                        (j // {VID_BLOCKS}) * {_VID_FRAME_PX}
                         + (t // {_VID_STRIP_W}) * {VID_W}
                         + (j % {VID_BLOCKS}) * {_VID_STRIP_W}
                         + (t % {_VID_STRIP_W}) + 1, 1)) * 37) % 256
                      ELSE 0 END),
                 'sum') // {_VID_STRIP_PX}) AS bm
      FROM p)
"""


def _vid_stats_select(frm: str) -> str:
    """Final SELECT of the video round-trip oracles over the CTE
    ``frm`` holding the frame means ``fm`` and block means ``bm``."""
    return f"""
    SELECT doc_id,
           CAST({VID_FRAMES} AS BIGINT) AS n_frames,
           list_transform(fm, x -> CAST(x AS BIGINT)) AS frame_means,
           list_transform(bm, x -> CAST(x AS BIGINT)) AS block_means,
           CAST(list_aggregate(list_transform(generate_series(2, {VID_FRAMES}),
                  f -> abs(fm[f] - fm[f - 1])), 'sum') AS BIGINT) AS motion
    FROM {frm}
    ORDER BY doc_id
    """


@register(
    "multimodal_y4m_roundtrip_stats",
    _VID_STATS_DUCK + _vid_stats_select("s"),
    group="multimodal",
    doc="Y4M video codec round-trip under the oracle: text bytes → "
    f"{VID_FRAMES} frames of {VID_H}x{VID_W} luma → REAL YUV4MPEG2 "
    "encode (colorspace cycling doc_id % 3 over mono/420/444, so "
    "chroma-plane framing is exercised corpus-wide) → stdlib decode "
    "(operators/y4m.py, strict header + per-frame size validation) → "
    "per-frame integer mean luma, per-frame vertical-strip block "
    "means, and total motion Σ|mean[f]−mean[f−1]|. The oracle derives "
    "every statistic straight from the text, so a hash match proves "
    "the codec reproduced every luma pixel for every colorspace; "
    "plane math is numpy-vectorized." + _RT_PLAN,
)
def multimodal_y4m_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return sorted_result(video_motion_stats(_y4m_media(d)), "doc_id")


@register(
    "multimodal_avi_mjpeg_roundtrip",
    f"""
    WITH {_ASCII_P},
    s AS (
      SELECT doc_id,
        list_transform(generate_series(0, {VID_FRAMES * 2 - 1}),
          i -> CASE WHEN i < n
               THEN (ord(substr(text, i + 1, 1)) * 37) % 256
               ELSE 0 END) AS v
      FROM p),
    t AS (
      SELECT doc_id,
        list_transform(generate_series(1, {VID_FRAMES}),
          f -> (v[2*f - 1] + v[2*f]) // 2) AS fm,
        list_transform(generate_series(0, {VID_FRAMES * VID_BLOCKS - 1}),
          j -> CASE WHEN j % {VID_BLOCKS} < 2
               THEN v[2*(j // {VID_BLOCKS}) + 1]
               ELSE v[2*(j // {VID_BLOCKS}) + 2] END) AS bm
      FROM s)
    """
    + _vid_stats_select("t"),
    group="multimodal",
    doc="MJPEG-AVI video container round-trip under the oracle — the "
    "COMPRESSED video rung (operators/avi.py): text bytes plant two "
    f"8x8-constant blocks per frame ({VID_FRAMES} frames of "
    f"{VID_H}x{VID_W} luma; constant blocks keep quality-100 JPEG "
    "pixel-exact, the established oracle-pinning trick), each frame "
    "encodes as a complete baseline JPEG inside a real RIFF/AVI "
    "container (avih/strh/strf headers, 00dc movi chunks, idx1 "
    "keyframe index — all verified on decode), and the container-"
    "agnostic decode_video ladder reduces the decoded luma to the "
    "same frame/block/motion statistics as the Y4M round-trip. The "
    "oracle derives every value straight from the text, so a hash "
    "match proves RIFF framing + per-frame JPEG entropy decode + "
    "index cross-check reproduced every pixel corpus-wide." + _RT_PLAN,
)
def multimodal_avi_mjpeg_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from flink_stream_spark.operators.avi import encode_avi_mjpeg

    def encode(doc_id: int, text: np.ndarray) -> bytes:
        grid = _spread_head(text, VID_FRAMES * 2).reshape(VID_FRAMES, 1, 2)
        frames = np.repeat(np.repeat(grid, VID_H, 1), VID_W // 2, 2)
        return encode_avi_mjpeg(frames, fps=(30, 1))

    media = text_media(load_table(spark, sf_dir, "documents"), encode)
    return sorted_result(video_motion_stats(media), "doc_id")


@register(
    "multimodal_video_dedup_motion",
    _VID_STATS_DUCK
    + f"""
    , q AS (
      SELECT doc_id, bm,
             list_transform(bm, x -> x // {VID_QSTEP}) AS qb
      FROM s),
    bv AS (
      SELECT doc_id, bm, f AS band_idx,
             qb[{VID_BLOCKS}*f + 1] + 33 * qb[{VID_BLOCKS}*f + 2]
               + 1089 * qb[{VID_BLOCKS}*f + 3]
               + 35937 * qb[{VID_BLOCKS}*f + 4] AS band_val
      FROM q, unnest(generate_series(0, {VID_FRAMES - 1})) AS t(f)),
    bvc AS (SELECT * FROM bv WHERE band_val > 0),
    {self_pairs_duck("bvc", ["band_idx", "band_val"], VID_BAND_CAP)},
    pairs AS (
      SELECT c.doc_a, c.doc_b,
        CAST(list_aggregate(list_transform(
               generate_series(1, {VID_FRAMES * VID_BLOCKS}),
               i -> abs(sa.bm[i] - sb.bm[i])), 'sum') AS BIGINT) AS l1_dist
      FROM (SELECT DISTINCT doc_a, doc_b FROM kpairs) c
      JOIN s sa ON sa.doc_id = c.doc_a
      JOIN s sb ON sb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, l1_dist FROM pairs
    WHERE l1_dist <= {VID_L1_MAX}
    ORDER BY doc_a, doc_b
    """,
    group="multimodal",
    doc="Video near-dup dedup over DECODED luma: Y4M payloads → "
    f"per-frame {VID_BLOCKS}-strip block means (the spatial layout "
    f"signature) → {VID_FRAMES} banded signatures (one per frame: its "
    f"strip means quantized to {VID_QSTEP}-wide levels, packed "
    "base-33) → exact L1 verify <= "
    f"{VID_L1_MAX} over the full {VID_FRAMES * VID_BLOCKS}-value "
    "signature, candidates only, as codegen'd abs-diff terms "
    "(JVM-side). A pair sharing ANY one frame's exact spatial band is "
    "nominated — temporal misalignment of the other frames doesn't "
    "kill recall (the dHash/MinHash banding discipline, banded over "
    "TIME). All-zero bands (pure zero-padding tail frames — clips "
    "shorter than the container) nominate nothing: a shared EMPTY "
    "frame is no evidence of similarity, and structurally every "
    "short clip would collide there (measured: the filter plus this "
    "threshold cuts 1658 promiscuous pairs to 34 while keeping all "
    "17 planted near-dups at sf0.01); buckets hotter than "
    f"{VID_BAND_CAP} videos nominate nothing (oracle mirrors the "
    "cap). Pair work is Σ bucket², never corpus². The decode stage "
    "runs ONCE (persisted) and feeds banding + both verify joins.",
)
def multimodal_video_dedup_motion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    stats = (
        video_motion_stats(_y4m_media(d))
        .select("doc_id", "block_means")
        .persist()
    )
    return banded_l1_near_dup_pairs(stats, VIDEO_MOTION).orderBy("doc_a", "doc_b")


# --- video scene-cut detection --------------------------------------------

VID_SCENE_LEN = 3  # frames per planted scene (scene of frame f = f//3)
VID_CUT_THRESH = 8  # block-delta threshold: a cut is a frame whose
# summed per-strip |block-mean delta| vs the previous frame reaches
# this; frames inside a static scene delta to exactly 0, so any
# genuine content change clears it while codec-exact decode noise
# (there is none — the codec is lossless) cannot false-positive
_VID_SCENE_CS = ["mono", "420", "422", "444"]


def _y4m_scene_media(d: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload): a REAL Y4M clip with PLANTED
    scene structure — frames 0-2 render text segment 0, frames 3-5
    segment 1, frames 6-7 segment 2 (segment s = bytes
    [s*128, s*128+128) of the text, head-indexed like _y4m_media, the
    same x37 mod 256 luma bijection). Frames within a scene are
    IDENTICAL, so the inter-frame delta is exactly zero except at the
    two scene boundaries — ground truth for cut detection lives in
    the text itself. Colorspace cycles doc_id % 4 over
    mono/420/422/444 — one more than the round-trip query covers, so
    C422 chroma framing is exercised corpus-wide here."""
    from flink_stream_spark.operators.y4m import encode_y4m

    seg_px = VID_H * VID_W

    def encode(doc_id: int, text: np.ndarray) -> bytes:
        segs = [
            _spread_head(text[s * seg_px :], seg_px).reshape(VID_H, VID_W)
            for s in range(VID_FRAMES // VID_SCENE_LEN + 1)
        ]
        frames = np.stack([segs[f // VID_SCENE_LEN] for f in range(VID_FRAMES)])
        return encode_y4m(frames, colorspace=_VID_SCENE_CS[doc_id % 4])

    return text_media(d, encode)


@register(
    "multimodal_video_scene_cuts",
    f"""
    WITH {_ASCII_P},
    s AS (
      SELECT doc_id,
        list_transform(generate_series(0, {VID_FRAMES * VID_BLOCKS - 1}),
          j -> list_aggregate(list_transform(generate_series(0, {_VID_STRIP_PX - 1}),
                 t -> CASE WHEN ((j // {VID_BLOCKS}) // {VID_SCENE_LEN})
                              * {_VID_FRAME_PX}
                         + (t // {_VID_STRIP_W}) * {VID_W}
                         + (j % {VID_BLOCKS}) * {_VID_STRIP_W}
                         + (t % {_VID_STRIP_W}) < n THEN
                      (ord(substr(text,
                        ((j // {VID_BLOCKS}) // {VID_SCENE_LEN})
                              * {_VID_FRAME_PX}
                         + (t // {_VID_STRIP_W}) * {VID_W}
                         + (j % {VID_BLOCKS}) * {_VID_STRIP_W}
                         + (t % {_VID_STRIP_W}) + 1, 1)) * 37) % 256
                      ELSE 0 END),
                 'sum') // {_VID_STRIP_PX}) AS bm
      FROM p),
    c AS (
      SELECT doc_id, f,
             list_aggregate(list_transform(generate_series(1, {VID_BLOCKS}),
               k -> abs(bm[f * {VID_BLOCKS} + k]
                        - bm[(f - 1) * {VID_BLOCKS} + k])), 'sum') AS delta
      FROM s, unnest(generate_series(1, {VID_FRAMES - 1})) AS u(f))
    SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
           CAST(delta AS BIGINT) AS delta
    FROM c
    WHERE delta >= {VID_CUT_THRESH}
    ORDER BY doc_id, frame_idx
    """,
    group="multimodal",
    doc="Scene-cut / keyframe detection over DECODED video: clips with "
    f"planted scene structure ({VID_SCENE_LEN} identical frames per "
    "scene, segments drawn from consecutive text regions) encode "
    "through the REAL Y4M codec with the colorspace cycling "
    "mono/420/422/444 by doc_id % 4 (C422 framing exercised corpus-"
    "wide — the one layout the round-trip query's %3 cycle skips), "
    "decode back, and a cut is any frame whose summed per-strip "
    f"|block-mean delta| vs the previous frame reaches "
    f"{VID_CUT_THRESH} — the keyframe selector a frame-sampling "
    "training pipeline runs before extracting frames. Within-scene "
    "deltas are exactly 0 (the codec is lossless), so detection "
    "equals ground truth; the oracle derives every block mean "
    "straight from the text with the scene mapping applied, proving "
    "decode + detection exact corpus-wide. Integer arithmetic "
    "end-to-end; detection is 28 codegen'd abs-diff terms in the "
    "decode's stage." + _RT_PLAN,
)
def multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = video_motion_stats(
        _y4m_scene_media(load_table(spark, sf_dir, "documents"))
    )
    bm = F.col("block_means")
    deltas = F.array(
        *[
            F.struct(
                F.lit(f).cast("bigint").alias("frame_idx"),
                sum(
                    F.abs(
                        F.element_at(bm, f * VID_BLOCKS + k + 1)
                        - F.element_at(bm, (f - 1) * VID_BLOCKS + k + 1)
                    )
                    for k in range(VID_BLOCKS)
                )
                .cast("bigint")
                .alias("delta"),
            )
            for f in range(1, VID_FRAMES)
        ]
    )
    cuts = (
        stats.filter(F.col("n_frames") > 0)
        .select("doc_id", F.explode(deltas).alias("c"))
        .select("doc_id", F.col("c.frame_idx"), F.col("c.delta"))
        .filter(F.col("delta") >= VID_CUT_THRESH)
    )
    return sorted_result(cuts, "doc_id", "frame_idx")


# --- audio spectral fingerprinting (constellation hashing) ----------------
#
# Shazam-style landmark fingerprinting (Wang 2003, "An Industrial-
# Strength Audio Search Algorithm" — public paper): frame the signal,
# take the spectral peak per frame, and hash the peak sequence of
# frames (t, t+1, t+2, t+3) — time-DELTA structure, never absolute
# time, so a shared passage matches wherever it sits in the clip
# (modulo frame alignment). Two clips match when their DISTINCT
# fingerprint sets overlap by >= FP_MIN_SHARED AND by >= 60% of the
# smaller set (containment — a short clip embedded in a long one still
# matches; two long clips sharing a coincidental phrase do not). A
# local edit corrupts only fingerprints whose frames touch it — the
# robustness property the global envelope L1 lacks.
#
# EXACTNESS: the "FFT" is a fixed-coefficient integer spectral probe —
# FP_BINS Goertzel-style projections with cos/sin coefficients derived
# ONCE driver-side (int(round(cos*512))) and embedded literally in BOTH
# the Spark stage and the oracle SQL, so no engine ever evaluates trig.
# Per-bin energy re^2+im^2 is exact int64 (|sum| <= 16*32768*512 = 2^28,
# squares <= 2^56); argmax ties break to the lower bin in both engines.
FPN = 512  # samples per doc: first 512 text bytes, zero-padded
FP_NFFT = 16  # frame size
FP_FRAMES = FPN // FP_NFFT  # 32
FP_BINS = 8  # spectral bins k = 1..8
FP_COEF_SCALE = 512
FP_CAP = 128  # hot-fingerprint guard: a fp shared by more docs blocks nothing
FP_MIN_SHARED = 4  # absolute floor of shared distinct fingerprints
FP_CONTAIN_NUM, FP_CONTAIN_DEN = 6, 10  # >= 60% of the smaller fp set

import math as _math

_FP_COS = [
    [
        int(round(_math.cos(2 * _math.pi * k * n / FP_NFFT) * FP_COEF_SCALE))
        for n in range(FP_NFFT)
    ]
    for k in range(1, FP_BINS + 1)
]
_FP_SIN = [
    [
        int(round(_math.sin(2 * _math.pi * k * n / FP_NFFT) * FP_COEF_SCALE))
        for n in range(FP_NFFT)
    ]
    for k in range(1, FP_BINS + 1)
]


def _wavfp_media(d: DataFrame) -> DataFrame:
    """documents -> (doc_id, payload): REAL int16 mono WAV, samples =
    byte[i]*256 - 32768 for i < min(len, FPN), zero-padded to FPN —
    zero-PADDED (not cycled like _wav_media) so that two documents
    sharing a byte run share ALIGNED frames regardless of their total
    lengths, which is what fingerprint matching needs."""
    from flink_stream_spark.operators.wav import encode_wav

    def encode(doc_id: int, text: np.ndarray) -> bytes:
        head = text[:FPN]
        samples = np.zeros(FPN, dtype=np.int64)
        samples[: len(head)] = head.astype(np.int64) * 256 - 32768
        return encode_wav(samples, rate=WAVRT_RATE, bits=16)

    return text_media(d, encode)


def audio_fingerprints(media: DataFrame) -> DataFrame:
    """(doc_id, payload binary) -> (doc_id, fp): the DISTINCT spectral
    constellation fingerprints of each clip, via the REAL audio codecs
    (WAV or AIFF — ``decode_audio``, container-blind).
    A frame is fingerprint-eligible iff any sample is nonzero (zero
    frames are padding); fp(t) packs the peak bins of frames
    t..t+3 base-8 and requires all four frames eligible. Undecodable
    payloads emit nothing (kept, never matched). Arrow-batched, narrow."""
    import numpy as np

    CT = np.array(_FP_COS, dtype=np.int64).T  # (NFFT, BINS)
    ST = np.array(_FP_SIN, dtype=np.int64).T

    def _fps(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                d = decode_audio(bytes(b))
                if d is None or len(d["samples"]) < FPN:
                    continue
                x = d["samples"][:FPN, 0].astype(np.int64).reshape(
                    FP_FRAMES, FP_NFFT
                )
                valid = (x != 0).any(axis=1)
                re = x @ CT
                im = x @ ST
                e = re * re + im * im  # exact int64
                peak = np.argmax(e, axis=1) + 1  # first max = lower bin
                seen = set()
                for t in range(FP_FRAMES - 3):
                    if valid[t : t + 4].all():
                        seen.add(
                            (peak[t] - 1) * 512
                            + (peak[t + 1] - 1) * 64
                            + (peak[t + 2] - 1) * 8
                            + (peak[t + 3] - 1)
                        )
                for fp in seen:
                    ids.append(doc_id)
                    fps.append(int(fp))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "fp": pd.Series(fps, dtype="int64"),
                }
            )

    return media.mapInPandas(_fps, "doc_id bigint, fp bigint")


@register(
    "multimodal_audio_fingerprint_pairs",
    f"""
    WITH {_ASCII_P},
    sm AS (
      SELECT doc_id,
             i // {FP_NFFT} AS t, i % {FP_NFFT} AS nn,
             CASE WHEN i < n THEN ord(substr(text, i + 1, 1)) * 256 - 32768
                  ELSE 0 END AS x
      FROM p, unnest(generate_series(0, {FPN - 1})) AS u(i)),
    coef AS (
      SELECT k, nn,
             ({_FP_COS})[k][nn + 1] AS c,
             ({_FP_SIN})[k][nn + 1] AS s
      FROM unnest(generate_series(1, {FP_BINS})) AS uk(k),
           unnest(generate_series(0, {FP_NFFT - 1})) AS un(nn)),
    spec AS (
      SELECT sm.doc_id, sm.t, coef.k,
             SUM(sm.x * coef.c) AS re, SUM(sm.x * coef.s) AS im
      FROM sm JOIN coef ON coef.nn = sm.nn
      GROUP BY 1, 2, 3),
    pk AS (
      SELECT doc_id, t, k,
             ROW_NUMBER() OVER (PARTITION BY doc_id, t
                                ORDER BY re * re + im * im DESC, k) AS rn
      FROM spec),
    peak AS (SELECT doc_id, t, k AS pkb FROM pk WHERE rn = 1),
    vld AS (
      SELECT doc_id, t, MAX(CASE WHEN x <> 0 THEN 1 ELSE 0 END) = 1 AS valid
      FROM sm GROUP BY 1, 2),
    seq AS (
      SELECT peak.doc_id, peak.pkb, vld.valid,
             LEAD(peak.pkb, 1) OVER w AS p1, LEAD(vld.valid, 1) OVER w AS v1,
             LEAD(peak.pkb, 2) OVER w AS p2, LEAD(vld.valid, 2) OVER w AS v2,
             LEAD(peak.pkb, 3) OVER w AS p3, LEAD(vld.valid, 3) OVER w AS v3
      FROM peak JOIN vld ON vld.doc_id = peak.doc_id AND vld.t = peak.t
      WINDOW w AS (PARTITION BY peak.doc_id ORDER BY peak.t)),
    fp AS (
      SELECT DISTINCT doc_id,
             (pkb - 1) * 512 + (p1 - 1) * 64 + (p2 - 1) * 8 + (p3 - 1) AS fp
      FROM seq WHERE valid AND v1 AND v2 AND v3),
    cnt AS (SELECT doc_id, COUNT(*) AS c FROM fp GROUP BY doc_id),
    {self_pairs_duck("fp", ["fp"], FP_CAP)},
    pr AS (SELECT doc_a, doc_b, COUNT(*) AS ns FROM kpairs GROUP BY 1, 2),
    m AS (
      SELECT pr.doc_a, pr.doc_b, pr.ns, ca.c AS ca, cb.c AS cb
      FROM pr
      JOIN cnt ca ON ca.doc_id = pr.doc_a
      JOIN cnt cb ON cb.doc_id = pr.doc_b)
    SELECT doc_a, doc_b, CAST(ns AS BIGINT) AS n_shared,
           CAST(LEAST(ca, cb) AS BIGINT) AS min_fps
    FROM m
    WHERE ns >= {FP_MIN_SHARED}
      AND {FP_CONTAIN_DEN} * ns >= {FP_CONTAIN_NUM} * LEAST(ca, cb)
    ORDER BY doc_a, doc_b
    """,
    group="multimodal",
    doc="Audio near-dup by spectral CONSTELLATION fingerprints (Wang "
    "2003, Shazam): WAV payloads decode through the real codec, frame "
    f"at {FP_NFFT} samples, take the argmax bin of {FP_BINS} exact "
    "integer spectral projections per frame (cos/sin coefficients "
    "derived once driver-side and embedded literally in both engines "
    "— no runtime trig), and hash the 4-frame peak sequence base-8 "
    "(4096-value space) — time-deltas only, so a shared passage "
    f"matches at any frame-aligned offset. A pair matches on >= "
    f"{FP_MIN_SHARED} shared distinct fingerprints AND >= 60% "
    "containment of the smaller fingerprint set — absolute floor "
    "kills chance collisions between tiny clips, containment lets a "
    "short clip embedded in a long one match while two long clips "
    "sharing one phrase do not. Scale: the inverted fingerprint index "
    f"joins Σ bucket², never corpus²; fingerprints hotter than "
    f"{FP_CAP} docs nominate nothing (oracle mirrors the cap); the "
    "decode+fingerprint stage is one narrow Arrow pass.",
)
def multimodal_audio_fingerprint_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = audio_fingerprints(_wavfp_media(d)).persist()
    cnt = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
    pr = (
        self_pairs(fp, ["fp"], FP_CAP)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ns"))
    )
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("c").alias("cb"))
    return (
        pr.join(ca, "doc_a")
        .join(cb, "doc_b")
        .withColumn("min_fps", F.least("ca", "cb"))
        .filter(
            (F.col("ns") >= FP_MIN_SHARED)
            & (
                F.lit(FP_CONTAIN_DEN) * F.col("ns")
                >= F.lit(FP_CONTAIN_NUM) * F.col("min_fps")
            )
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("ns").cast("bigint").alias("n_shared"),
            F.col("min_fps").cast("bigint"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "multimodal_jpeg_progressive_roundtrip",
    _DHASH_CYCLIC_DUCK,
    group="multimodal",
    doc="PROGRESSIVE-JPEG (SOF2) codec round-trip under the oracle: the "
    "same constant-block grid as the baseline round-trip, encoded by "
    "encode_jpeg_progressive's 6-scan script — DC first at Al=1, "
    "per-component AC spectral bands 1-5/6-63 at Al=1, DC refinement, "
    "and AC refinement of both bands (every T.81 G.2 scan kind on "
    "every doc) — with the component layout cycling grayscale/4:4:4/"
    "4:2:2/4:2:0 by doc_id%4 and restart markers every 2 MCUs/blocks "
    "in EVERY scan for odd doc_ids. Decoded back through dhash_bands' "
    "JPEG branch (multi-scan coefficient accumulation, EOB runs, "
    "successive-approximation bit merges). The oracle derives the "
    "grid straight from the text — a hash match proves the "
    "progressive decode reproduced every luma pixel, and the shared "
    "oracle with multimodal_jpeg_roundtrip_dhash pins the cross-coder "
    "equality corpus-wide." + _RT_PLAN,
)
def multimodal_jpeg_progressive_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from flink_stream_spark.operators.jpeg import encode_jpeg_progressive

    docs = load_table(spark, sf_dir, "documents")
    media = _jpeg_rt_media(docs, encode_jpeg_progressive)
    return sorted_result(dhash_bands(media), "doc_id")


@register(
    "multimodal_tiff_roundtrip_dhash",
    _DHASH_CYCLIC_DUCK,
    group="multimodal",
    doc="TIFF codec round-trip under the oracle: the same 8x9 "
    "grayscale grid as the PNG/GIF/BMP round-trips (same pixels, "
    "fifth container), encoded as a REAL baseline TIFF "
    "(operators/tiff.py) with doc_id cycling all EIGHT encoder "
    "variants — little/big endian x uncompressed/PackBits x "
    "BlackIsZero/WhiteIsZero — with 4-row strips, then decoded back "
    "through dhash_bands' TIFF branch (byte-order-aware IFD walk, "
    "strip reassembly, PackBits run-length, photometric inversion). "
    "The oracle derives the grid straight from the text, so a hash "
    "match proves the decoder reproduced every pixel in every "
    "variant. Scanned-document corpora ship TIFF — this closes the "
    "fifth image container for near-dup dedup." + _RT_PLAN,
)
def multimodal_tiff_roundtrip_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_stream_spark.operators.tiff import encode_tiff_gray

    def encode(doc_id: int, text: np.ndarray) -> bytes:
        return encode_tiff_gray(
            _cycled(text, DHASH_ROWS * 9).reshape(DHASH_ROWS, 9),
            big_endian=bool(doc_id % 2),
            packbits=bool((doc_id // 2) % 2),
            white_is_zero=bool((doc_id // 4) % 2),
            rows_per_strip=4,
        )

    media = text_media(load_table(spark, sf_dir, "documents"), encode)
    return sorted_result(dhash_bands(media), "doc_id")
