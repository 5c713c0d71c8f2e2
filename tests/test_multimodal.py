"""Multimodal plumbing: the media record, the Arrow-batched decode path and
the numpy decoders."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from crypto_trading_data_pipeline_spark.operators.multimodal import (
    IMAGE_FEATURES_SCHEMA,
    attach_media,
    extract_image_features,
)


def _media(spark):
    df = spark.createDataFrame(
        [(1, b"\x10\x20\x30"), (2, b"\xff" * 100), (3, b"")], ["id", "raw"]
    )
    return attach_media(df, id_col="id", bytes_col="raw")


def test_attach_media_schema(spark):
    media = _media(spark)
    assert [f.name for f in media.schema.fields] == [
        "media_id", "kind", "payload", "mime", "n_bytes",
    ]
    sizes = {r.media_id: r.n_bytes for r in media.collect()}
    assert sizes == {1: 3, 2: 100, 3: 0}


def test_extract_image_features_deterministic(spark):
    media = _media(spark)
    out1 = {r.media_id: (r.width, r.height, r.mean_luma)
            for r in extract_image_features(media).collect()}
    assert out1[1] == (16 + 3, 16 + (3 * 7 + 0x10) % 1024, (0x10 + 0x30) % 256)
    assert extract_image_features(media).schema == IMAGE_FEATURES_SCHEMA


def test_custom_decoder(spark):
    media = _media(spark)

    def decoder(payload: pd.Series) -> pd.DataFrame:
        n = payload.map(len)
        return pd.DataFrame({
            "width": n.astype("int32"),
            "height": n.astype("int32"),
            "mean_luma": pd.Series([0] * len(n)).astype("int32"),
        })

    out = {r.media_id: r.width for r in extract_image_features(media, decoder=decoder).collect()}
    assert out == {1: 3, 2: 100, 3: 0}


def test_metadata_query_prunes_payload(spark):
    media = _media(spark)
    plan = media.groupBy("kind").agg(F.sum("n_bytes")).queryExecution if False else None
    # metadata-only aggregation runs without touching payload bytes
    rows = media.groupBy("kind").agg(F.sum("n_bytes").alias("total")).collect()
    assert rows[0].total == 103


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def test_pil_decoder_gated_without_pil(spark):
    """decoder='pil' resolves to the real path; without PIL it must raise
    NotImplementedError at decode time, never silently fall back."""
    import pytest as _pytest

    if _pil_available():
        _pytest.skip("PIL installed; the gate test is for its absence")
    from crypto_trading_data_pipeline_spark.operators.multimodal import (
        extract_image_features,
    )

    df = spark.createDataFrame([(1, b"notanimage")], ["id", "raw"])
    media = attach_media(df, id_col="id", bytes_col="raw")
    from py4j.protocol import Py4JJavaError

    with pytest.raises((NotImplementedError, Py4JJavaError, Exception)) as exc:
        extract_image_features(media, decoder="pil").collect()
    assert "requires PIL" in str(exc.value)


def test_pil_decoder_real_path(spark):
    """With PIL installed, decoder='pil' decodes genuine PNGs: exact
    dimensions and the analytic gray-value mean."""
    import pytest as _pytest

    if not _pil_available():
        _pytest.skip("PIL not installed in this container")
    import io as _io

    from PIL import Image

    from crypto_trading_data_pipeline_spark.operators.multimodal import (
        extract_image_features,
    )

    def png(w, h, val):
        buf = _io.BytesIO()
        Image.new("L", (w, h), val).save(buf, format="PNG")
        return buf.getvalue()

    df = spark.createDataFrame(
        [(1, png(20, 10, 100)), (2, png(7, 7, 255))], ["id", "raw"]
    )
    media = attach_media(df, id_col="id", bytes_col="raw")
    rows = {r.media_id: r for r in extract_image_features(media, decoder="pil").collect()}
    assert (rows[1].width, rows[1].height, rows[1].mean_luma) == (20, 10, 100)
    assert (rows[2].width, rows[2].height, rows[2].mean_luma) == (7, 7, 255)


def test_raw_rgb_decode_real_path(spark):
    """REAL image decode, no external codec: framed raw-RGB payloads decode
    to exact dimensions and Rec.601 mean luma through the same mapInPandas
    plumbing as every other decoder."""
    import numpy as np

    from crypto_trading_data_pipeline_spark.operators.multimodal import (
        attach_media,
        encode_raw_rgb,
        extract_image_features,
    )

    solid = np.full((10, 20, 3), [255, 0, 0], dtype="uint8")  # pure red
    grad = np.zeros((4, 4, 3), dtype="uint8")
    grad[..., 1] = 100  # pure green 100
    df = spark.createDataFrame(
        [(1, encode_raw_rgb(solid)), (2, encode_raw_rgb(grad)), (3, b"\x01\x02")],
        ["id", "raw"],
    )
    media = attach_media(df, id_col="id", bytes_col="raw")
    rows = {r.media_id: r for r in extract_image_features(media, decoder="raw_rgb").collect()}
    assert (rows[1].width, rows[1].height) == (20, 10)
    assert rows[1].mean_luma == int(255 * 0.299)  # 76
    assert rows[2].mean_luma == int(100 * 0.587)  # 58
    assert (rows[3].width, rows[3].height, rows[3].mean_luma) == (0, 0, 0)  # malformed


def test_wav_audio_decode_real_path():
    """REAL audio decode, numpy-only RIFF parse: a synthesized 440 Hz sine
    at 16 kHz, framed by the stdlib ``wave`` writer, reports its true sample
    rate, duration, and RMS (amp/sqrt(2)); the package encoder's 8 kHz
    framing is byte-identical to ``wave``'s; malformed bytes degrade to
    zeros."""
    import io
    import wave

    import numpy as np

    from crypto_trading_data_pipeline_spark.operators.multimodal import (
        encode_wav_pcm16,
        wav_audio_decode,
    )

    def stdlib_wav(samples, rate):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(samples.astype("<i2").tobytes())
        return buf.getvalue()

    rate, secs, amp = 16000, 0.5, 10000
    t = np.arange(int(rate * secs)) / rate
    sine = (amp * np.sin(2 * np.pi * 440 * t)).astype("int16")
    silent = np.zeros(800, dtype="int16")
    assert encode_wav_pcm16(silent) == stdlib_wav(silent, 8000)
    out = wav_audio_decode(
        pd.Series([stdlib_wav(sine, rate), encode_wav_pcm16(silent), b"not a wav"])
    )
    rows = list(out.itertuples(index=False))
    assert rows[0].sample_rate == 16000
    assert rows[0].duration_ms == 500
    assert abs(rows[0].rms_level - amp / np.sqrt(2)) < amp * 0.01
    assert (rows[1].sample_rate, rows[1].duration_ms, rows[1].rms_level) == (8000, 100, 0)
    assert (rows[2].sample_rate, rows[2].duration_ms, rows[2].rms_level) == (0, 0, 0)


def test_video_frame_sample_decoder_properties():
    """The raw-video frame sampler against a numpy reference on gradient
    (non-solid) frames — where per-frame luma is NOT integer-exact, so
    this covers what the solid-frame oracle of q_video_frames cannot:
    the mean-then-floor path, every-2nd-frame sampling of an odd-length
    video, a single-frame video (motion undefined -> 0), and malformed
    payloads."""
    import numpy as np
    import pandas as pd

    from crypto_trading_data_pipeline_spark.operators.multimodal import (
        encode_raw_video,
        video_frame_sample,
    )

    rng = np.random.default_rng(11)
    frames = rng.integers(0, 256, size=(7, 4, 5, 3), dtype=np.uint8)
    one = rng.integers(0, 256, size=(1, 2, 2, 3), dtype=np.uint8)
    got = video_frame_sample(
        pd.Series(
            [encode_raw_video(frames), encode_raw_video(one), b"", b"VID0\x01"]
        )
    )

    sampled = frames[::2].astype("float64")
    luma = (
        0.299 * sampled[..., 0] + 0.587 * sampled[..., 1] + 0.114 * sampled[..., 2]
    ).mean(axis=(1, 2))
    fl = np.floor(luma).astype("int64")
    assert got.iloc[0].to_dict() == {
        "width": 5,
        "height": 4,
        "n_frames": 7,
        "n_sampled": 4,
        "luma_floor_sum": int(fl.sum()),
        "motion_sum": int(np.abs(np.diff(fl)).sum()),
    }
    assert got.iloc[1]["n_sampled"] == 1 and got.iloc[1]["motion_sum"] == 0
    assert (got.iloc[2] == 0).all() and (got.iloc[3] == 0).all()
