"""Multimodal plumbing: Arrow mapInPandas feature extraction — the
Spark-side architecture is real (schemas, batching); the decoder is
stubbed.
"""

from __future__ import annotations

import hashlib

import pytest

from ncagg_spark.pipeline.multimodal import FEATURE_DIM, extract_features


@pytest.fixture()
def media(spark):
    rows = [(i, bytes([i] * (100 + i))) for i in range(8)]
    return spark.createDataFrame(rows, "media_id long, content binary")


def test_extract_features_deterministic_and_shaped(media):
    got = {r["media_id"]: r for r in extract_features(media).collect()}
    assert len(got) == 8
    for i in range(8):
        r = got[i]
        blob = bytes([i] * (100 + i))
        assert r["sha256"] == hashlib.sha256(blob).hexdigest()
        assert r["n_bytes"] == len(blob)
        assert len(r["feature"]) == FEATURE_DIM
        assert all(0.0 <= x < 1.0 for x in r["feature"])
    # deterministic across runs
    again = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    assert all(again[i] == got[i]["feature"] for i in range(8))


def test_real_decoder_raises_not_implemented(media):
    with pytest.raises(Exception, match="NotImplementedError|media decoding"):
        extract_features(media, decoder="real").collect()
