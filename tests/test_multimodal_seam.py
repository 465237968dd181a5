"""The multimodal decode seam without Spark: the batch operator
(`_spread_decode`) spreads the narrow doc_id column and turns each
Arrow batch into one frame (`_asset_frame`) from per-asset feature
columns; the one WAV decoder rejects every layout but mono PCM16 at
WAV_SAMPLE_RATE with ValueError."""

from __future__ import annotations

import io
import types
import wave

import numpy as np
import pandas as pd
import pytest

from numalogic_prometheus_spark.operators.multimodal import (
    WAV_SAMPLE_RATE,
    _asset_frame,
    _spread_decode,
    _wav_n_samples,
    _wav_samples,
    decode_payload_values,
    decode_wav,
    synthesize_wav,
)


class _RecordingDocs:
    """Stands in for the docs DataFrame: records the spread and hands
    back the mapInPandas function instead of planning it."""

    sparkSession = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(defaultParallelism=3)
    )

    def __init__(self):
        self.calls = []

    def select(self, *cols):
        self.calls.append(("select", cols))
        return self

    def repartition(self, *args):
        self.calls.append(("repartition", args))
        return self

    def mapInPandas(self, fn, schema):
        self.calls.append(("mapInPandas", schema))
        return fn


def _features(doc_id):
    if doc_id == 7:  # 1→1: scalars only
        return {"kind": "one", "frame_idx": 0, "v": np.int64(-5)}
    # 1→N: one numpy block per column, scalars repeated over its rows
    return {
        "kind": "many",
        "frame_idx": np.arange(3, dtype=np.int64),
        "v": np.array([10, 20, 30], dtype=np.int64),
    }


def test_spread_decode_builds_one_frame_per_batch():
    docs = _RecordingDocs()
    schema = "doc_id long, kind string, frame_idx long, v long"
    fn = _spread_decode(docs, _features, schema)
    assert docs.calls == [
        ("select", ("doc_id",)),
        ("repartition", (3, "doc_id")),
        ("mapInPandas", schema),
    ]
    batches = [
        pd.DataFrame({"doc_id": np.array([7, 9], dtype=np.int64)}),
        pd.DataFrame({"doc_id": np.array([7], dtype=np.int64)}),
    ]
    frames = list(fn(iter(batches)))
    assert len(frames) == 2
    expected = pd.DataFrame(
        {
            "doc_id": np.array([7, 9, 9, 9], dtype=np.int64),
            "kind": np.array(["one", "many", "many", "many"], dtype=object),
            "frame_idx": np.array([0, 0, 1, 2], dtype=np.int64),
            "v": np.array([-5, 10, 20, 30], dtype=np.int64),
        }
    )
    pd.testing.assert_frame_equal(frames[0], expected, check_exact=True)
    assert frames[0].dtypes.tolist() == [
        np.dtype("int64"), np.dtype(object), np.dtype("int64"),
        np.dtype("int64"),
    ]
    pd.testing.assert_frame_equal(
        frames[1], expected.iloc[:1], check_exact=True
    )


def test_asset_frame_edge_shapes():
    # a zero-length block gives no rows; scalar-only assets give one
    frame = _asset_frame(
        [
            (1, {"w": 4, "x": np.zeros(0, dtype=np.int64)}),
            (2, {"w": 5, "x": [6, 7]}),
        ]
    )
    assert frame.to_dict("list") == {
        "doc_id": [2, 2], "w": [5, 5], "x": [6, 7]
    }
    assert frame.dtypes.tolist() == [np.dtype("int64")] * 3
    with pytest.raises(ValueError):  # blocks of one asset disagree
        _asset_frame([(1, {"x": np.arange(2), "y": np.arange(3)})])


def _wav(channels: int, rate: int, width: int = 2) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(width)
        w.setframerate(rate)
        w.writeframes(b"\x01\x00" * 2 * channels * 16)
    return buf.getvalue()


@pytest.mark.parametrize(
    "payload",
    [
        _wav(2, WAV_SAMPLE_RATE),  # stereo
        _wav(1, 8000),  # 8 kHz
        _wav(1, WAV_SAMPLE_RATE, width=1),  # 8-bit
    ],
    ids=["stereo", "8khz", "8bit"],
)
def test_wav_decoder_rejects_other_layouts(payload):
    with pytest.raises(ValueError, match="unsupported WAV layout"):
        decode_wav(payload)
    with pytest.raises(ValueError, match="unsupported WAV layout"):
        decode_payload_values(payload)


def test_wav_decoder_round_trips_the_fixture():
    for doc_id in (0, 1, 96):
        mt, s = decode_payload_values(synthesize_wav(doc_id))
        assert mt == "audio/wav"
        assert s.dtype == np.int64
        assert np.array_equal(
            s, _wav_samples(doc_id, _wav_n_samples(doc_id))
        )
