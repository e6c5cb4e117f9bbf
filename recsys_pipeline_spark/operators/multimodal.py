"""Multimodal columns: image/audio/video as opaque ``binary`` cells with typed
metadata, processed through Arrow-batched ``mapInPandas`` operators.

The Spark-side plumbing (schemas, batch iteration, partition-preserving
transforms) is real and tested; ``decode="deterministic_fake"`` produces
reproducible pseudo-features from the bytes and is the oracle-checked
default. ``decode="real"`` decodes IMAGE payloads through PIL when that
library is importable (gated behind the import — not installed in this
container, where it raises NotImplementedError loudly); WAV audio decodes
through the stdlib ``wave`` module; VIDEO decodes through imageio when that
library (plus an ffmpeg/pyav plugin) is importable — probed eagerly, the
same gate pattern as PIL. The Spark shape is identical either way.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),  # opaque encoded bytes
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                    T.StructField("mime", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 8

_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def extract_features(
    df: DataFrame,
    decode: str = "deterministic_fake",
    kinds: tuple[str, ...] = ("image", "audio"),
) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column.

    mapInPandas keeps the operator embarrassingly parallel: each task pulls
    Arrow batches, runs the (vectorizable) decode, yields feature rows. At
    100 TB the input is partitioned by storage layout; no shuffle is needed.

    The worker closure is deliberately SELF-CONTAINED (no references to this
    module's globals): executors may not have this package importable —
    cloudpickle then ships the whole function by value.

    ``decode="real"`` really decodes the payload for the DECLARED ``kinds``:
      * ``image`` — PIL (8 stats: w, h, channels, per-channel means, gray
        std, aspect). Requires PIL importable on the DRIVER (checked eagerly
        here) **and on every executor** — the closure imports it per task.
      * ``audio`` — PCM WAV via the stdlib ``wave`` module, no external
        codec (8 stats: channels, sample rate, frames, duration, mean |x|,
        RMS, peak, zero-crossing rate on the first channel).
      * ``video`` — imageio (+ an ffmpeg/pyav plugin) when importable,
        probed EAGERLY at plan time like PIL (8 stats: n_frames, w, h,
        channels, mean/std luminance, mean |first−last| frame delta,
        aspect); absent codecs raise NotImplementedError at plan time,
        never mid-job.
    Rows whose kind is NOT declared get ``features = NULL`` (n_bytes is
    still real) instead of failing the job after partial work — mixed-media
    tables route through one pass and the caller filters on feature nullity.
    The same posture applies to UNDECODABLE payloads: corrupt bytes, a
    zero-frame video, or a video with heterogeneous frame sizes yield
    ``features = NULL`` rather than raising mid-job (at 100 TB a handful of
    broken cells per billion is a certainty, and one must not kill a stage);
    the caller separates "undeclared kind" from "broken payload" by whether
    the kind was in ``kinds``.
    """
    if decode == "real":
        import importlib.util

        if "video" in kinds:
            # imageio alone cannot decode anything: a plugin backend must
            # also be importable (imageio-ffmpeg / pyav for mp4/webm, PIL
            # for the pillow plugin's GIF path) — probe BOTH here so absent
            # codecs fail at plan time, never mid-job.
            has_backend = any(
                importlib.util.find_spec(p) is not None
                for p in ("imageio_ffmpeg", "av", "PIL")
            )
            if importlib.util.find_spec("imageio") is None or not has_backend:
                raise NotImplementedError(
                    "real video decode requires imageio plus a plugin "
                    "backend (imageio-ffmpeg, av, or PIL) on driver AND "
                    "executors — not available; drop 'video' from kinds "
                    "(rows yield NULL features) or use "
                    "decode='deterministic_fake'"
                )
        if "image" in kinds and importlib.util.find_spec("PIL") is None:
            raise NotImplementedError(
                "real image decode requires PIL (driver AND executors) — not "
                "available; drop 'image' from kinds or use "
                "decode='deterministic_fake'"
            )
        want = tuple(kinds)

        def real_batches(it):
            import io

            import numpy as np
            import pandas as _pd

            def image_feats(payload):
                from PIL import Image

                arr = (
                    np.asarray(
                        Image.open(io.BytesIO(payload)).convert("RGB"), dtype=np.float64
                    )
                    / 255.0
                )
                h, w, _ = arr.shape
                return [
                    float(w),
                    float(h),
                    3.0,
                    float(arr[..., 0].mean()),
                    float(arr[..., 1].mean()),
                    float(arr[..., 2].mean()),
                    float(arr.mean(axis=2).std()),
                    float(w) / float(h),
                ]

            def audio_feats(payload):
                import wave

                with wave.open(io.BytesIO(payload), "rb") as w:
                    nch, sw, sr, nf = (
                        w.getnchannels(), w.getsampwidth(), w.getframerate(), w.getnframes(),
                    )
                    raw = w.readframes(nf)
                dt = {1: np.int8, 2: np.int16, 4: np.int32}.get(sw)
                if dt is None:
                    return None
                x = np.frombuffer(raw, dtype=dt).astype(np.float64)
                x = x / float(2 ** (8 * sw - 1))  # full-scale normalize
                ch0 = x[::nch] if nch > 1 else x
                zc = float(np.mean(np.signbit(ch0[1:]) != np.signbit(ch0[:-1]))) if len(ch0) > 1 else 0.0
                return [
                    float(nch),
                    float(sr),
                    float(nf),
                    float(nf) / sr if sr else 0.0,
                    float(np.abs(x).mean()) if x.size else 0.0,
                    float(np.sqrt((x * x).mean())) if x.size else 0.0,
                    float(np.abs(x).max()) if x.size else 0.0,
                    zc,
                ]

            def video_feats(payload):
                import imageio.v3 as iio

                # imiter yields one HxW[xC] array per frame — no ambiguity
                # between "N gray frames" and "one HxWxC color frame" that
                # a stacked imread(index=None) array would have
                frames = [np.asarray(f) for f in iio.imiter(payload)]
                if not frames:  # zero-frame container: NULL, not np.stack([])
                    return None
                shaped = [f[..., None] if f.ndim == 2 else f for f in frames]
                if len({f.shape for f in shaped}) != 1:
                    return None  # heterogeneous frame sizes: unstackable
                arr = np.stack(shaped)
                nf, h, w, c = arr.shape
                if h == 0 or w == 0:
                    return None
                # normalize by the DECODED dtype's full scale, not a
                # hard-coded 255 (16-bit sources decode to uint16)
                scale = (
                    float(np.iinfo(arr.dtype).max)
                    if np.issubdtype(arr.dtype, np.integer)
                    else 1.0
                )
                gray = arr[..., : min(c, 3)].mean(axis=-1) / scale
                return [
                    float(nf),
                    float(w),
                    float(h),
                    float(c),
                    float(gray.mean()),
                    float(gray.std()),
                    float(np.abs(gray[-1] - gray[0]).mean()),
                    float(w) / float(h),
                ]

            def feats(payload, kind):
                if payload is None or kind not in want:
                    return None
                try:
                    if kind == "image":
                        return image_feats(payload)
                    if kind == "video":
                        return video_feats(payload)
                    return audio_feats(payload)
                except Exception:
                    # corrupt/truncated payload: NULL features, never a
                    # stage failure after partial work (module posture)
                    return None

            for pdf in it:
                yield _pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "kind": pdf["kind"],
                        "n_bytes": pdf["payload"].map(
                            lambda b: len(b) if b is not None else 0
                        ),
                        "features": [
                            feats(p, k) for p, k in zip(pdf["payload"], pdf["kind"])
                        ],
                    }
                )

        return df.mapInPandas(real_batches, schema=_FEATURES_SCHEMA)
    if decode != "deterministic_fake":
        raise ValueError(f"unknown decode mode {decode!r}")

    dim = FEATURE_DIM

    def batches(it):
        import hashlib

        import pandas as _pd

        def feats(payload):
            h = hashlib.sha256(payload or b"").digest()
            return [int.from_bytes(h[4 * i : 4 * i + 4], "big") / 2**32 for i in range(dim)]

        for pdf in it:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(lambda b: len(b) if b is not None else 0),
                    "features": pdf["payload"].map(feats),
                }
            )

    return df.mapInPandas(batches, schema=_FEATURES_SCHEMA)


def resize_stub(df: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize: plumbing-real, pixel-work stubbed — the payload passes
    through unchanged and meta records the target size (a real implementation
    swaps the identity for PIL inside the same mapInPandas shape)."""
    return df.withColumn(
        "meta",
        F.struct(
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.col("meta.sample_rate").alias("sample_rate"),
            F.col("meta.n_frames").alias("n_frames"),
            F.col("meta.mime").alias("mime"),
        ),
    )


def frame_sample(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling: emits one row per sampled frame index from the
    metadata (the decode of the actual frame bytes is the stubbed step)."""
    idx = F.sequence(
        F.lit(0), F.greatest(F.coalesce(F.col("meta.n_frames"), F.lit(1)) - 1, F.lit(0)), F.lit(every_n)
    )
    return (
        df.filter(F.col("kind") == "video")
        .select("media_id", F.explode(idx).alias("frame_idx"), "payload")
    )


def parse_warc(df: DataFrame, blob_col: str = "blob", url_header: str = "WARC-Target-URI") -> DataFrame:
    """Raw-crawl ingest: parse concatenated WARC-style records out of binary
    capture blobs — the stage that turns fetched crawl files into the
    ``documents`` table every downstream curation operator consumes. Real
    Content-Length framing (version line, CRLF header block, exactly
    ``Content-Length`` payload BYTES, CRLF CRLF record separator), not
    delimiter splitting: a payload may legally contain the header separator
    bytes, which is why this is an imperative byte scanner and not a
    split() expression (pinned in tests with a payload embedding
    ``\\r\\n\\r\\n``). Emits one row per record: (url, content, n_bytes).

    Scale: one Arrow-batched mapInPandas over file-sized blobs — the
    embarrassingly-parallel narrow map of an ingest job (in production the
    blobs ARE the object-store files, so there is no shuffle at all until a
    downstream stage keys the records); record fan-out is bounded by blob
    size. Malformed tails (truncated header block or short payload) are
    dropped, not raised — crawl files end mid-record routinely.
    """
    import pandas as pd

    hdr_key = url_header.lower().encode()

    def gen(batches):
        for pdf in batches:
            urls, contents, sizes = [], [], []
            for blob in pdf[blob_col]:
                data = bytes(blob or b"")
                pos = 0
                while pos < len(data):
                    end = data.find(b"\r\n\r\n", pos)
                    if end < 0:
                        break  # truncated header block
                    header = data[pos:end]
                    url, length = None, None
                    for line in header.split(b"\r\n"):
                        k, _, v = line.partition(b":")
                        if k.strip().lower() == hdr_key:
                            url = v.strip().decode("utf-8", "replace")
                        elif k.strip().lower() == b"content-length":
                            try:
                                length = int(v.strip())
                            except ValueError:
                                length = None
                    if length is None or end + 4 + length > len(data):
                        break  # unframed or truncated payload
                    payload = data[end + 4 : end + 4 + length]
                    if url is not None:
                        urls.append(url)
                        contents.append(payload.decode("utf-8", "replace"))
                        sizes.append(length)
                    pos = end + 4 + length + 4  # skip the record separator
            yield pd.DataFrame({"url": urls, "content": contents, "n_bytes": sizes})

    return df.mapInPandas(gen, schema="url string, content string, n_bytes long")
