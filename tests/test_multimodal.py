"""Multimodal plumbing tests: the Spark-side contract (schema, Arrow
batching, null handling) around the stubbed decode kernels."""

from __future__ import annotations

import pytest

from formula1_etl_analytics_project_spark.operators.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    extract_features,
    frame_sample,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, b"\x89PNG-fake-bytes-1", "image", (64, 48, None, "png")),
        (2, b"\x89PNG-fake-bytes-2", "image", (640, 480, None, "png")),
        (3, None, "image", (10, 10, None, "png")),  # undecodable
        (4, b"RIFF-fake-video", "video", (1920, 1080, 3500, "h264")),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_contract(media):
    out = extract_features(media).collect()
    by_id = {r["media_id"]: r for r in out}
    assert set(by_id) == {1, 2, 3, 4}
    # decodable payloads -> fixed-dim float features, deterministic
    assert len(by_id[1]["feature"]) == FEATURE_DIM
    assert all(0.0 <= v <= 1.0 for v in by_id[1]["feature"])
    assert by_id[1]["feature"] != by_id[2]["feature"]
    # undecodable -> NULL feature, row survives (F6 skip semantics)
    assert by_id[3]["feature"] is None


def test_extract_features_deterministic(media):
    a = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    b = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    assert a == b


def test_frame_sample_timing(media):
    frames = frame_sample(media, every_ms=1000).collect()
    # only the video row explodes; 3500ms at 1s cadence -> 0,1000,2000,3000
    assert {r["media_id"] for r in frames} == {4}
    assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000, 3000]
    assert [r["frame_idx"] for r in frames] == [0, 1, 2, 3]
