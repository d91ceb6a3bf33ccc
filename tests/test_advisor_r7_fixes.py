"""Round-7 advisor findings, each pinned by a test:

1. multimodal_audio_fingerprint_pairs (like every codec round-trip
   built on text_media) must exclude non-ASCII docs in BOTH engines
   (the Spark side fingerprints UTF-8 bytes, the SQL oracle addresses
   code points — they only agree where chars==bytes).
2. parse_image_header's TIFF branch must not misread an offset as a
   dimension when a Width/Height tag has count > 1.
3. JPEG decode must accept T.81 B.1.1.2 fill bytes (extra 0xFF)
   before markers.
4. TIFF PackBits decode must tolerate a final packet that overshoots
   the expected strip size (even-count padding by real-world writers).
"""

from __future__ import annotations

import struct

import numpy as np

from flink_stream_spark.operators.jpeg import decode_jpeg_gray, encode_jpeg
from flink_stream_spark.operators.multimodal import parse_image_header
from flink_stream_spark.operators.tiff import packbits_decode


def test_wavfp_media_excludes_non_ascii_docs(spark):
    """text_media is the one source of all codec round-trips
    (_wavfp_media among them), so its gate is asserted once here."""
    from flink_stream_spark.operators.multimodal import text_media

    docs = spark.createDataFrame(
        [(1, "plain ascii text " * 20), (2, "café au lait " * 30)],
        "doc_id bigint, text string",
    )
    media = text_media(docs, lambda doc_id, text: text.tobytes())
    ids = {r["doc_id"] for r in media.select("doc_id").collect()}
    assert ids == {1}, (
        "multi-byte docs must be filtered (chars != bytes breaks "
        "Spark/oracle parity); got " + repr(ids)
    )


def _tiff_header_with_count(count: int) -> bytes:
    """Minimal little-endian TIFF whose Width/Height SHORT tags carry
    the given count; for count > 1 the value field holds an OFFSET,
    which a correct parser must not report as the dimension."""
    ifd_off = 8
    n_tags = 2
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", n_tags)
    for tag in (256, 257):
        out += struct.pack("<HHI", tag, 3, count)
        if count == 1:
            out += struct.pack("<HH", 16, 0)
        else:
            # offset field pointing past the IFD; bogus as a dimension
            out += struct.pack("<I", 4096)
    out += struct.pack("<I", 0)  # next-IFD pointer
    out += b"\x00" * 16  # room for the out-of-line values
    return bytes(out)


def test_tiff_header_requires_inline_count_one():
    assert parse_image_header(_tiff_header_with_count(1)) == (16, 16)
    # count > 1: the value field is an offset, not a dimension
    assert parse_image_header(_tiff_header_with_count(2)) is None


def test_jpeg_fill_bytes_before_markers_decode():
    rng = np.random.RandomState(3)
    pix = rng.randint(0, 256, (16, 24)).astype(np.uint8)
    enc = encode_jpeg([pix], quality=100)
    ref = decode_jpeg_gray(enc)
    assert ref is not None
    # insert fill bytes before every header marker (between SOI and
    # DQT, and before SOF/DHT/SOS) — spec-legal padding
    padded = bytearray()
    i = 0
    while i < len(enc):
        if (
            enc[i] == 0xFF
            and i + 1 < len(enc)
            and enc[i + 1] in (0xDB, 0xC0, 0xC4, 0xDA)
        ):
            padded += b"\xff\xff\xff"
        padded += enc[i : i + 1]
        i += 1
    got = decode_jpeg_gray(bytes(padded))
    assert got is not None, "fill-byte-padded JPEG must decode"
    assert (got == ref).all()


def test_packbits_final_packet_overshoot_is_truncated():
    # run packet of 4 'Z's against expected=3: writer padded the
    # final strip; decode must truncate, not reject
    assert packbits_decode(b"\xfdZ", 3) == b"ZZZ"
    # literal packet overshoot
    assert packbits_decode(b"\x03ABCD", 3) == b"ABC"
    # undershoot is still an error
    assert packbits_decode(b"\x00A", 3) is None
    # exact fit unchanged
    assert packbits_decode(b"\x02ABC", 3) == b"ABC"
