"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched Pandas functions.

The decode step itself (image decode, resampling, frame extraction) needs
libs this container doesn't ship (PIL/ffmpeg/torchcodec), so decoders are
STUBBED: ``decoder=None`` uses a deterministic fake that derives features
from the bytes, and passing an unavailable real decoder raises
NotImplementedError. Everything Spark-side is real and tested: schemas,
mapInPandas signatures, Arrow batch shapes, partition sizing.

Scale design:
- binary payloads ride in their own column; metadata queries never touch
  them (parquet column pruning keeps scans cheap);
- decode runs in ``mapInPandas`` — one Arrow batch per call, vectorized,
  no per-row Python overhead; batch size is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` so executor memory
  stays flat regardless of corpus size;
- repartition BEFORE decode (8 tasks), because decode is CPU-bound and
  upstream partitioning reflects IO, not compute.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_luma", IntegerType()),
    ]
)


def attach_media(df: DataFrame, *, id_col: str, bytes_col: str) -> DataFrame:
    """Wrap an existing binary column into the media record
    (media_id, kind, payload, mime, n_bytes) of kind ``image`` and mime
    ``image/fake``: a label only, the decoder reads the bytes."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col(bytes_col).cast("binary").alias("payload"),
        F.lit("image/fake").alias("mime"),
        F.length(F.col(bytes_col).cast("binary")).cast("long").alias("n_bytes"),
    )


def pil_image_decode(payload: pd.Series) -> pd.DataFrame:
    """REAL image decoder — used automatically when PIL is installed
    (``decoder="pil"``), raises NotImplementedError otherwise. Same
    signature/output contract as the fake, so swapping it in changes zero
    Spark plumbing: width/height from the decoded header, mean_luma from
    the grayscale pixel mean."""
    try:
        from PIL import Image
    except ImportError as e:
        raise NotImplementedError(
            "real image decoding requires PIL; not installed in this environment"
        ) from e
    import io as _io

    import numpy as np

    ws, hs, lumas = [], [], []
    for b in payload:
        img = Image.open(_io.BytesIO(bytes(b)))
        ws.append(img.size[0])
        hs.append(img.size[1])
        lumas.append(int(np.asarray(img.convert("L")).mean()))
    return pd.DataFrame(
        {
            "width": pd.Series(ws, dtype="int32"),
            "height": pd.Series(hs, dtype="int32"),
            "mean_luma": pd.Series(lumas, dtype="int32"),
        }
    )


#: Raw-RGB bitmap framing: 8-byte header (width uint32 LE, height uint32
#: LE) + height*width*3 RGB8 pixels. An uncompressed interchange format the
#: engine can decode with numpy alone — the REAL decode path that needs no
#: external codec; PNG/JPEG slot in via decoder="pil" on clusters with PIL.
_RGB_HEADER_BYTES = 8


def encode_raw_rgb(arr) -> bytes:
    """(h, w, 3) uint8 array -> framed raw-RGB payload (test/ingest helper)."""
    import struct

    import numpy as np

    a = np.asarray(arr, dtype="uint8")
    h, w = a.shape[0], a.shape[1]
    return struct.pack("<II", w, h) + a.tobytes()


def raw_rgb_decode(payload: pd.Series) -> pd.DataFrame:
    """REAL image decoder for the raw-RGB framing — pure numpy, runs in
    this sandbox. width/height from the header, mean_luma = Rec.601
    luma (0.299R + 0.587G + 0.114B) over all pixels, truncated to int.
    Malformed payloads (short header / size mismatch) yield width=height=0,
    mean_luma=0 rather than poisoning the Arrow batch."""
    import struct

    import numpy as np

    ws, hs, lumas = [], [], []
    for b in payload:
        b = bytes(b)
        if len(b) < _RGB_HEADER_BYTES:
            ws.append(0), hs.append(0), lumas.append(0)
            continue
        w, h = struct.unpack_from("<II", b)
        if len(b) != _RGB_HEADER_BYTES + w * h * 3 or w * h == 0:
            ws.append(0), hs.append(0), lumas.append(0)
            continue
        px = np.frombuffer(b, dtype="uint8", offset=_RGB_HEADER_BYTES).reshape(h, w, 3)
        luma = px[..., 0] * 0.299 + px[..., 1] * 0.587 + px[..., 2] * 0.114
        ws.append(w), hs.append(h), lumas.append(int(luma.mean()))
    return pd.DataFrame(
        {
            "width": pd.Series(ws, dtype="int32"),
            "height": pd.Series(hs, dtype="int32"),
            "mean_luma": pd.Series(lumas, dtype="int32"),
        }
    )


def _fake_image_decode(payload: pd.Series) -> pd.DataFrame:
    """Deterministic stand-in for a real image decoder: derives pseudo
    width/height/luma from the payload bytes. Replaced wholesale by a real
    decoder (PIL etc.) in production — the Spark plumbing is identical."""
    n = payload.map(len)
    first = payload.map(lambda b: b[0] if len(b) else 0)
    last = payload.map(lambda b: b[-1] if len(b) else 0)
    return pd.DataFrame(
        {
            "width": (16 + (n % 1024)).astype("int32"),
            "height": (16 + ((n * 7 + first) % 1024)).astype("int32"),
            "mean_luma": ((first.astype("int64") + last) % 256).astype("int32"),
        }
    )


def extract_image_features(
    media: DataFrame,
    *,
    decoder: Callable[[pd.Series], pd.DataFrame] | str | None = None,
) -> DataFrame:
    """Decode + featurize images via mapInPandas (Arrow-batched).

    ``decoder`` maps a pandas Series of payload bytes to a DataFrame with
    width/height/mean_luma. None -> deterministic fake (safe on arbitrary
    bytes); ``"pil"`` -> pil_image_decode, the real path when PIL is
    installed (raises NotImplementedError when it isn't — the payloads must
    then be genuine encoded images).
    """
    if decoder is None:
        decoder = _fake_image_decode
    elif decoder == "pil":
        decoder = pil_image_decode
    elif decoder == "raw_rgb":
        decoder = raw_rgb_decode

    # Decode is CPU-bound: spread batches across 8 tasks instead of
    # inheriting IO-shaped partitioning.
    src = media.select("media_id", "payload").repartition(8)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = decoder(pdf["payload"])
            feats.insert(0, "media_id", pdf["media_id"].values)
            yield feats

    return src.mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)


#: The sample rate encode_wav_pcm16 writes into its header.
_WAV_RATE = 8000


def encode_wav_pcm16(samples) -> bytes:
    """int16 sample array -> canonical 44-byte-header mono PCM16 WAV at
    ``_WAV_RATE`` (ingest helper — the standard RIFF framing, no codec)."""
    import struct

    import numpy as np

    s = np.asarray(samples, dtype="<i2")
    data = s.tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, _WAV_RATE, _WAV_RATE * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def wav_audio_decode(payload: pd.Series) -> pd.DataFrame:
    """REAL audio decoder for mono PCM16 WAV — pure numpy RIFF parse, runs
    in this sandbox (compressed codecs slot in behind the same signature on
    clusters with ffmpeg/librosa). sample_rate/duration from the header,
    rms_level = int RMS of the int16 samples. Malformed/non-PCM16 payloads
    yield zeros rather than poisoning the Arrow batch."""
    import struct

    import numpy as np

    rates, durs, rms = [], [], []
    for b in payload:
        b = bytes(b)
        ok = (
            len(b) >= 44
            and b[:4] == b"RIFF"
            and b[8:16] == b"WAVEfmt "
            and struct.unpack_from("<HH", b, 20) == (1, 1)  # PCM, mono
            and struct.unpack_from("<H", b, 34)[0] == 16  # 16-bit
            and b[36:40] == b"data"
        )
        if not ok:
            rates.append(0), durs.append(0), rms.append(0)
            continue
        rate = struct.unpack_from("<I", b, 24)[0]
        n_bytes = min(struct.unpack_from("<I", b, 40)[0], len(b) - 44)
        s = np.frombuffer(b, dtype="<i2", offset=44, count=n_bytes // 2).astype("float64")
        rates.append(rate)
        durs.append(int(len(s) * 1000 // rate) if rate else 0)
        rms.append(int(np.sqrt((s * s).mean())) if len(s) else 0)
    return pd.DataFrame(
        {
            "sample_rate": pd.Series(rates, dtype="int32"),
            "duration_ms": pd.Series(durs, dtype="int64"),
            "rms_level": pd.Series(rms, dtype="int32"),
        }
    )


# --- video: raw multi-frame container + frame-sampling decoder -------------

_VID_MAGIC = b"VID0"
_VID_HEADER_BYTES = 4 + 2 + 2 + 2  # magic + uint16 w, h, n_frames


def encode_raw_video(frames) -> bytes:
    """(n, h, w, 3) uint8 array -> framed raw-video payload: 'VID0' magic +
    uint16 w/h/n_frames + concatenated raw-RGB frames (test/ingest helper —
    a real container would be H.264/VP9; the framing/sampling plumbing is
    codec-agnostic)."""
    import struct

    import numpy as np

    a = np.asarray(frames, dtype="uint8")
    n, h, w = a.shape[0], a.shape[1], a.shape[2]
    return _VID_MAGIC + struct.pack("<HHH", w, h, n) + a.tobytes()


def video_frame_sample(payload: pd.Series) -> pd.DataFrame:
    """REAL frame-sampling video decoder for the raw container — pure numpy,
    runs in this sandbox (an ffmpeg/torchcodec decoder slots in behind the
    same signature). Parses the header, reshapes the pixel buffer to
    (n, h, w, 3), keeps every 2nd frame (the standard
    keyframe-subsampling step before vision-model feature extraction), and
    emits per-video aggregates over the SAMPLED frames:

    - ``luma_floor_sum``: sum over sampled frames of floor(mean Rec.601
      luma) — integer-exact for solid frames, the hash-matchable core;
    - ``motion_sum``: sum of abs differences of consecutive sampled
      frames' floored lumas — the scene-change/static-content signal that
      decides how many frames are worth extracting.

    Malformed payloads (bad magic, short buffer) yield zeros rather than
    poisoning the Arrow batch."""
    import struct

    import numpy as np

    ws, hs, nf, ns, lsum, msum = [], [], [], [], [], []
    for b in payload:
        b = bytes(b)
        ok = len(b) >= _VID_HEADER_BYTES and b[:4] == _VID_MAGIC
        if ok:
            w, h, n = struct.unpack_from("<HHH", b, 4)
            ok = len(b) >= _VID_HEADER_BYTES + n * h * w * 3 and n * h * w > 0
        if not ok:
            for lst in (ws, hs, nf, ns, lsum, msum):
                lst.append(0)
            continue
        px = np.frombuffer(
            b, dtype="uint8", offset=_VID_HEADER_BYTES, count=n * h * w * 3
        ).reshape(n, h, w, 3).astype("float64")
        sampled = px[::2]
        luma = (
            0.299 * sampled[..., 0]
            + 0.587 * sampled[..., 1]
            + 0.114 * sampled[..., 2]
        ).mean(axis=(1, 2))
        fl = np.floor(luma).astype("int64")
        ws.append(int(w)), hs.append(int(h)), nf.append(int(n))
        ns.append(int(len(sampled)))
        lsum.append(int(fl.sum()))
        msum.append(int(np.abs(np.diff(fl)).sum()) if len(fl) > 1 else 0)
    return pd.DataFrame(
        {
            "width": pd.Series(ws, dtype="int32"),
            "height": pd.Series(hs, dtype="int32"),
            "n_frames": pd.Series(nf, dtype="int64"),
            "n_sampled": pd.Series(ns, dtype="int64"),
            "luma_floor_sum": pd.Series(lsum, dtype="int64"),
            "motion_sum": pd.Series(msum, dtype="int64"),
        }
    )
