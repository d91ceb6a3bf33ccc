"""Edge documents under the DuckDB oracle.

The fixture documents are 47-558 ASCII characters, so no fixture row
reaches the encoders' empty-text branch, the clips' truncation of long
texts, or an oracle's handling of backslashes and multi-byte text.
This corpus does: an empty text, one character, a Windows path (DuckDB
parses ``\\xNN`` escapes when casting text to BLOB), a multi-byte text
(the round-trips' ASCII gate must drop it in both engines), and texts
longer than every clip (>1024 bytes), one a near-duplicate of the
other so the pair queries have a pair to find. Each query must
hash-match its oracle on it.
"""

from __future__ import annotations

import pandas as pd
import pytest

import __spark_entry__  # noqa: F401  (registers every query)
from flink_stream_spark.operators import REGISTRY
from flink_stream_spark.testing import compare_query

_LONG = " ".join(f"token{i % 97} row{i % 13}" for i in range(150))
EDGE_TEXTS = [
    "",
    "a",
    "C:\\x\\y",
    "café — naïve 日本語 ünïcödé",
    _LONG,
    _LONG[:-40] + " a small tail edit to the same long document",
]

QUERIES = [
    "multimodal_metadata_extract",
    "multimodal_resize",
    "multimodal_feature_extract",
    "multimodal_frame_sample",
    "multimodal_image_dedup_dhash",
    "multimodal_png_roundtrip_dhash",
    "multimodal_gif_roundtrip_dhash",
    "multimodal_bmp_roundtrip_dhash",
    "multimodal_jpeg_roundtrip_dhash",
    "multimodal_exif_orientation_dhash",
    "multimodal_jpeg_progressive_roundtrip",
    "multimodal_tiff_roundtrip_dhash",
    "multimodal_wav_roundtrip_stats",
    "multimodal_aiff_roundtrip_stats",
    "multimodal_flac_roundtrip_stats",
    "multimodal_audio_dedup_envelope",
    "multimodal_y4m_roundtrip_stats",
    "multimodal_avi_mjpeg_roundtrip",
    "multimodal_video_dedup_motion",
    "multimodal_video_scene_cuts",
    "multimodal_audio_fingerprint_pairs",
    "scan_tar_webdataset",
    "scan_warc_roundtrip",
    "scan_warc_wet_stats",
    "scan_zip_roundtrip",
]


@pytest.fixture(scope="module")
def edge_sf(tmp_path_factory) -> str:
    """A ``documents.parquet`` in the fixture schema holding EDGE_TEXTS."""
    sf_dir = tmp_path_factory.mktemp("edge_sf")
    pd.DataFrame(
        {
            "doc_id": pd.Series(range(len(EDGE_TEXTS)), dtype="int64"),
            "text": EDGE_TEXTS,
            "lang": ["en", "de", "en", "fr", "en", "de"],
            "source": [f"src{i % 3}" for i in range(len(EDGE_TEXTS))],
            "n_chars": pd.Series([len(t) for t in EDGE_TEXTS], dtype="int64"),
        }
    ).to_parquet(sf_dir / "documents.parquet", index=False)
    return str(sf_dir)


@pytest.mark.parametrize("name", QUERIES)
def test_edge_documents_match_oracle(spark, edge_sf, name):
    spec = REGISTRY[name]
    res = compare_query(name, spec.build(spark, edge_sf), spec.oracle, edge_sf)
    assert res.ok, (
        f"{name}: rows {res.spark_rows} vs {res.duck_rows}, "
        f"cols {res.spark_cols} vs {res.duck_cols}: {res.detail}"
    )
