"""Multimodal columns: images/audio/video as opaque binary + typed
metadata, with the Spark-side plumbing (schemas, Arrow batching,
mapInPandas decode stage) fully real and tested.

External codecs (Pillow/ffmpeg/torchaudio) are NOT in this container,
but JPEG and PNG images and PCM WAV audio decode for REAL via the
from-scratch codecs (kernel/jpegcodec.py, pngcodec.py, wavcodec.py):
``decoder="real"`` returns true dimensions/duration and a
pixel/sample-derived feature vector for those formats, and raises
NotImplementedError only for the ones that genuinely need an external
library (compressed audio, video). ``decoder="fake"`` (default in
plumbing tests) computes deterministic features from the raw bytes so
batch shapes, schema, and partitioning are exercised without any codec.

At scale the same plumbing holds: media bytes stay in executor-side
Arrow buffers, one batch per ``maxRecordsPerBatch``, and feature
extraction is a per-partition vectorized pass with no driver involvement.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("media", StringType(), False),  # placeholder for binary in docs
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("content_hash", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
        StructField("feature", ArrayType(FloatType()), False),
        StructField("status", StringType(), False),
    ]
)

_FEATURE_DIM = 8


def _real_decode(kind: str, data: bytes):
    """Real decode where a from-scratch codec exists (baseline JPEG —
    kernel/jpegcodec.py; PNG — kernel/pngcodec.py; PCM WAV —
    kernel/wavcodec.py); NotImplementedError names the library an
    integration would need everywhere else. Image feature = luma
    mean/std/min/max plus four quadrant means; audio feature = sample
    mean/std/min/max plus four quarter-clip means — all in [-0.5, 0.5],
    a real pixel/sample-derived embedding stand-in with the stub's
    shape."""
    import numpy as np  # noqa: PLC0415

    from ..kernel.jpegcodec import JpegError, decode_jpeg_rgb  # noqa: PLC0415
    from ..kernel.pngcodec import PNG_SIGNATURE, PngError, decode_png  # noqa: PLC0415
    from ..kernel.wavcodec import WavError, decode_wav  # noqa: PLC0415

    if kind == "audio" and data[:4] == b"RIFF":
        try:
            clip = decode_wav(data)
        except WavError as e:
            raise ValueError(f"wav: {e}") from e
        span = 128.0 if clip.bits == 8 else 32768.0
        s = clip.samples.astype(np.float64) / (2.0 * span)
        q = max(clip.n_frames // 4, 1)
        feature = [
            float(s.mean()),
            float(s.std()),
            float(s.min()),
            float(s.max()),
            float(s[:q].mean()),
            float(s[q : 2 * q].mean()) if clip.n_frames > 1 else 0.0,
            float(s[2 * q : 3 * q].mean()) if clip.n_frames > 2 else 0.0,
            float(s[3 * q :].mean()) if clip.n_frames > 3 else 0.0,
        ]
        return None, None, clip.duration_ms, feature

    img = None
    if kind == "image" and data[:6] in (b"GIF87a", b"GIF89a"):
        from ..kernel.gifcodec import GifError, decode_gif  # noqa: PLC0415

        try:
            gif = decode_gif(data)
        except GifError as e:
            raise ValueError(f"gif: {e}") from e
        first = gif.frames[0]

        class _GifView:  # duck-typed shim: first frame drives the features
            planes = first.planes
            width = first.width  # frame dims, not logical screen — the
            height = first.height  # quadrant slices must match planes

        img = _GifView()
    if kind == "image" and data.startswith(PNG_SIGNATURE):
        try:
            img = decode_png(data)
        except PngError as e:
            raise ValueError(f"png: {e}") from e
    if kind == "image" and data[:2] == b"\xff\xd8":
        try:
            img = decode_jpeg_rgb(data)
        except JpegError as e:
            raise ValueError(f"jpeg: {e}") from e
    if kind == "image" and data[:2] == b"BM":
        from ..kernel.dibcodec import BmpError, decode_bmp  # noqa: PLC0415

        try:
            img = decode_bmp(data)
        except BmpError as e:
            raise ValueError(f"bmp: {e}") from e
    if img is not None:
        luma = img.planes.astype(np.float64).mean(axis=2)
        h2, w2 = max(img.height // 2, 1), max(img.width // 2, 1)
        feature = [
            float(luma.mean() / 255.0 - 0.5),
            float(luma.std() / 255.0 - 0.5),
            float(luma.min() / 255.0 - 0.5),
            float(luma.max() / 255.0 - 0.5),
            float(luma[:h2, :w2].mean() / 255.0 - 0.5),
            float(luma[:h2, w2:].mean() / 255.0 - 0.5) if img.width > 1 else 0.0,
            float(luma[h2:, :w2].mean() / 255.0 - 0.5) if img.height > 1 else 0.0,
            float(luma[h2:, w2:].mean() / 255.0 - 0.5)
            if img.width > 1 and img.height > 1
            else 0.0,
        ]
        return img.width, img.height, None, feature
    if kind == "video" and data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        from ..kernel.avicodec import AviError, decode_avi  # noqa: PLC0415

        try:
            clip = decode_avi(data)
        except AviError as e:
            raise ValueError(f"avi: {e}") from e
        luma = clip.frames[0].astype(np.float64).mean(axis=2)
        h2, w2 = max(clip.height // 2, 1), max(clip.width // 2, 1)
        feature = [
            float(luma.mean() / 255.0 - 0.5),
            float(luma.std() / 255.0 - 0.5),
            float(luma.min() / 255.0 - 0.5),
            float(luma.max() / 255.0 - 0.5),
            float(luma[:h2, :w2].mean() / 255.0 - 0.5),
            float(luma[:h2, w2:].mean() / 255.0 - 0.5) if clip.width > 1 else 0.0,
            float(luma[h2:, :w2].mean() / 255.0 - 0.5) if clip.height > 1 else 0.0,
            float(luma[h2:, w2:].mean() / 255.0 - 0.5)
            if clip.width > 1 and clip.height > 1
            else 0.0,
        ]
        return clip.width, clip.height, clip.duration_ms, feature
    # codec integration point for everything else (Pillow / ffmpeg /
    # torchaudio are not available in this environment)
    raise NotImplementedError(
        f"decoding {kind} media beyond JPEG/PNG/GIF/BMP, PCM-WAV, and "
        "uncompressed AVI requires external codecs"
    )


def _fake_decode(kind: str, data: bytes):
    """Deterministic stand-in for a real codec: derives pseudo
    dimensions/duration and a small feature vector from the bytes."""
    h = hashlib.blake2b(data, digest_size=32).digest()
    width = height = duration = None
    if kind == "image":
        width = 16 + h[0] % 64
        height = 16 + h[1] % 64
    elif kind in ("audio", "video"):
        duration = 100 + int.from_bytes(h[2:4], "little") % 10000
        if kind == "video":
            width = 16 + h[0] % 64
            height = 16 + h[1] % 64
    feature = [((h[i] / 255.0) - 0.5) for i in range(_FEATURE_DIM)]
    return width, height, duration, feature


def extract_media_features(
    df: DataFrame,
    media_col: str = "media",
    id_col: str = "media_id",
    kind_col: str = "kind",
    decoder="fake",
) -> DataFrame:
    """Decode/feature-extract stage over binary media columns.

    ``decoder`` is pluggable (VERDICT r1 item 10):

    - ``"fake"`` — deterministic hash-derived metadata/features (the
      plumbing-test default; needs no codec at all);
    - ``"real"`` — JPEG/PNG images and PCM WAV audio decode via the
      from-scratch codecs (true dims/duration + pixel/sample-derived
      features); other formats raise NotImplementedError at the
      integration point;
    - a CALLABLE ``(kind: str, data: bytes) -> (width, height,
      duration_ms, feature: list[float])`` — a production codec
      (Pillow / ffmpeg / torchaudio wrapper) injected without editing
      the operator. The callable must be picklable (module-level) so
      Spark can ship it to executors.
    """
    if callable(decoder):
        decode = decoder
    elif decoder == "fake":
        decode = _fake_decode
    elif decoder == "real":
        decode = _real_decode
    else:
        raise ValueError(f"decoder must be 'fake', 'real', or a callable, got {decoder!r}")

    def run(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            out = {k.name: [] for k in FEATURE_SCHEMA.fields}
            for mid, kind, data in zip(pdf[id_col], pdf[kind_col], pdf[media_col]):
                if data is None:
                    data = b""
                if isinstance(data, (bytearray, memoryview)):
                    data = bytes(data)
                width, height, duration, feature = decode(str(kind), data)
                out["media_id"].append(int(mid))
                out["kind"].append(str(kind))
                out["n_bytes"].append(len(data))
                out["content_hash"].append(hashlib.sha256(data).hexdigest())
                out["width"].append(width)
                out["height"].append(height)
                out["duration_ms"].append(duration)
                out["feature"].append(feature)
                out["status"].append("ok")
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
    media_col: str = "media",
    id_col: str = "media_id",
    resizer=None,
) -> DataFrame:
    """Image resize stage: binary in → (id, w, h, resized binary) out.
    ``resizer(data: bytes, w: int, h: int) -> bytes`` is the pluggable
    codec (Pillow's ``Image.resize`` wrapper in production — absent
    here); the default deterministic stand-in re-hashes the bytes to a
    w*h-shaped payload so batch plumbing, schema, and memory bounds are
    exercised for real. Stateless per row → embarrassingly parallel,
    no shuffle, bounded by the Arrow batch size like the extractor."""
    from pyspark.sql.types import BinaryType  # noqa: PLC0415

    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("width", IntegerType(), False),
            StructField("height", IntegerType(), False),
            StructField("resized", BinaryType(), True),
        ]
    )

    if resizer is None:
        def resizer(data: bytes, w: int, h: int) -> bytes:
            # deterministic fake: derive exactly w*h bytes from the input
            out = bytearray()
            seed = hashlib.blake2b(data, digest_size=32).digest()
            counter = 0
            while len(out) < w * h:
                out += hashlib.blake2b(
                    seed + counter.to_bytes(8, "little"), digest_size=64
                ).digest()
                counter += 1
            return bytes(out[: w * h])

    def run(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            out = {id_col: [], "width": [], "height": [], "resized": []}
            for mid, data in zip(pdf[id_col], pdf[media_col]):
                if data is None:
                    data = b""
                if isinstance(data, (bytearray, memoryview)):
                    data = bytes(data)
                out[id_col].append(int(mid))
                out["width"].append(target_w)
                out["height"].append(target_h)
                out["resized"].append(resizer(data, target_w, target_h))
            yield pd.DataFrame(out)

    return df.select(id_col, media_col).mapInPandas(run, schema=out_schema)


def sample_frames(
    df: DataFrame,
    n_frames: int,
    media_col: str = "media",
    id_col: str = "media_id",
    sampler=None,
) -> DataFrame:
    """Video frame-sampling stage: one input row → ``n_frames`` output
    rows (id, frame_idx, ts_ms, frame binary). ``sampler(data, n) ->
    list[(ts_ms, frame_bytes)]`` is the pluggable codec (an ffmpeg
    keyframe extractor in production); the default deterministic
    stand-in slices the payload into n evenly-spaced windows. The
    1→n fan-out happens inside the executor batch (a flatMap shape) —
    no shuffle, and frame bytes never visit the driver."""
    from pyspark.sql.types import BinaryType  # noqa: PLC0415

    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("frame_idx", IntegerType(), False),
            StructField("ts_ms", IntegerType(), False),
            StructField("frame", BinaryType(), True),
        ]
    )

    if sampler is None:
        def sampler(data: bytes, n: int):
            h = hashlib.blake2b(data, digest_size=32).digest()
            dur = 100 + int.from_bytes(h[2:4], "little") % 10000  # = _fake_decode
            if not data:
                data = h
            step = max(len(data) // n, 1)
            return [
                (dur * i // max(n - 1, 1), data[i * step : i * step + step])
                for i in range(n)
            ]

    def run(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            out = {id_col: [], "frame_idx": [], "ts_ms": [], "frame": []}
            for mid, data in zip(pdf[id_col], pdf[media_col]):
                if data is None:
                    data = b""
                if isinstance(data, (bytearray, memoryview)):
                    data = bytes(data)
                for i, (ts, frame) in enumerate(sampler(data, n_frames)):
                    out[id_col].append(int(mid))
                    out["frame_idx"].append(i)
                    out["ts_ms"].append(int(ts))
                    out["frame"].append(frame)
            yield pd.DataFrame(out)

    return df.select(id_col, media_col).mapInPandas(run, schema=out_schema)


def _render_media_column(
    df: DataFrame, id_col: str, n_col: str, media_name: str, builder: str
) -> DataFrame:
    """(id, n) → one row per clip: (id, img_idx, <media_name>:binary).
    The deterministic writer-twin fan-out for the decode oracles
    (sources/imagegen / audiogen closed forms; ``builder`` is
    "<module>:<fn>" resolved on the executor so only names ship) —
    identical regardless of partitioning, a 1→n fan-out inside the
    executor batch (no shuffle, bytes never visit the driver)."""
    from pyspark.sql.types import BinaryType  # noqa: PLC0415

    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("img_idx", IntegerType(), False),
            StructField(media_name, BinaryType(), False),
        ]
    )

    def run(batches):
        import importlib  # noqa: PLC0415

        import pandas as pd  # noqa: PLC0415

        mod_name, fn_name = builder.split(":")
        build = getattr(
            importlib.import_module(f"sax_wasm_spark.sources.{mod_name}"), fn_name
        )
        for pdf in batches:
            out = {id_col: [], "img_idx": [], media_name: []}
            for did, n in zip(pdf[id_col], pdf[n_col]):
                for k in range(int(n)):
                    out[id_col].append(int(did))
                    out["img_idx"].append(k)
                    out[media_name].append(build(int(did), k))
            yield pd.DataFrame(out)

    return df.select(id_col, n_col).mapInPandas(run, schema=out_schema)


def render_jpeg_column(
    df: DataFrame, id_col: str = "doc_id", n_col: str = "n_imgs"
) -> DataFrame:
    """JPEG writer twin: (id, n) → (id, img_idx, jpeg:binary)."""
    return _render_media_column(df, id_col, n_col, "jpeg", "imagegen:build_jpeg")


def render_png_column(
    df: DataFrame, id_col: str = "doc_id", n_col: str = "n_imgs"
) -> DataFrame:
    """PNG writer twin: (id, n) → (id, img_idx, png:binary)."""
    return _render_media_column(df, id_col, n_col, "png", "imagegen:build_png")


def render_gif_column(
    df: DataFrame, id_col: str = "doc_id", n_col: str = "n_imgs"
) -> DataFrame:
    """GIF writer twin: (id, n) → (id, img_idx, gif:binary)."""
    return _render_media_column(df, id_col, n_col, "gif", "imagegen:build_gif")


def render_wav_column(
    df: DataFrame, id_col: str = "doc_id", n_col: str = "n_clips"
) -> DataFrame:
    """WAV writer twin: (id, n) → (id, img_idx, wav:binary)."""
    return _render_media_column(df, id_col, n_col, "wav", "audiogen:build_wav")


DECODE_STATS_SCHEMA_TAIL = [
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("n_channels", IntegerType(), True),
    StructField("pixel_sum", LongType(), True),
    StructField("pixel_min", IntegerType(), True),
    StructField("pixel_max", IntegerType(), True),
    StructField("status", StringType(), False),
]


def decode_jpeg_stats(
    df: DataFrame,
    media_col: str = "jpeg",
    id_cols: tuple[str, ...] = ("doc_id", "img_idx"),
    max_pixels: int = 1 << 24,
) -> DataFrame:
    """REAL pixel decode over a binary JPEG column → per-image pixel
    statistics: (id…, width, height, n_channels, pixel_sum, pixel_min,
    pixel_max, status). Raw component planes (no color transform) so
    deterministic corpora keep their closed forms; malformed or
    unsupported payloads degrade to ``status='error:…'`` rows with NULL
    stats — the straggler/poison budget, same policy as the PDF
    extraction tier. Per-row CPU work, zero shuffle; ``max_pixels``
    bounds hostile dimension claims before any allocation."""
    import numpy as np  # noqa: PLC0415

    from ..kernel.jpegcodec import JpegError, decode_jpeg  # noqa: PLC0415

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(list(id_fields) + DECODE_STATS_SCHEMA_TAIL)

    def run(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in out_schema.fields}
            id_lists = [(c, pdf[c].tolist()) for c in id_cols]  # r8: no per-row iloc
            media_list = pdf[media_col].tolist()
            for row in range(len(media_list)):
                for c, _vals in id_lists:
                    out[c].append(_vals[row])
                data = media_list[row]
                if data is None:
                    data = b""
                if isinstance(data, (bytearray, memoryview)):
                    data = bytes(data)
                try:
                    img = decode_jpeg(data, max_pixels=max_pixels)
                    px = img.planes  # r8: sum(dtype=int64) exact, no copy
                    out["width"].append(img.width)
                    out["height"].append(img.height)
                    out["n_channels"].append(img.n_components)
                    out["pixel_sum"].append(int(px.sum(dtype=np.int64)))
                    out["pixel_min"].append(int(px.min()))
                    out["pixel_max"].append(int(px.max()))
                    out["status"].append("ok")
                except JpegError as e:
                    out["width"].append(None)
                    out["height"].append(None)
                    out["n_channels"].append(None)
                    out["pixel_sum"].append(None)
                    out["pixel_min"].append(None)
                    out["pixel_max"].append(None)
                    out["status"].append(f"error:{e}")
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=out_schema)


def decode_image_stats(
    df: DataFrame,
    media_col: str = "img",
    id_cols: tuple[str, ...] = ("doc_id", "img_idx"),
    max_pixels: int = 1 << 22,
) -> DataFrame:
    """Format-sniffing REAL pixel decode over a binary image column —
    JPEG (SOI magic → kernel/jpegcodec), PNG (signature →
    kernel/pngcodec), GIF (GIF87a/89a → kernel/gifcodec, multi-frame:
    stats span every frame, ``n_frames`` reports the count), BMP
    (BM magic → kernel/dibcodec), and TIFF (II*/MM* magic →
    kernel/tiffcodec: gray/RGB/bilevel, none/G4/PackBits strips) in
    one pass, the crawl shape where a media column mixes formats: (id…, format, n_frames, width, height,
    n_channels, pixel_sum, pixel_min, pixel_max, status). Unknown
    magics and malformed payloads degrade to ``status='error:…'`` rows
    with NULL stats; decode is per-row CPU inside Arrow batches, zero
    shuffle. ``max_pixels`` bounds hostile dimension claims before any
    allocation (and bounds the PNG unfilter's Python walk)."""
    import numpy as np  # noqa: PLC0415

    from ..kernel.dibcodec import BMP_MAGIC, decode_bmp  # noqa: PLC0415
    from ..kernel.gifcodec import GIF_MAGICS, decode_gif  # noqa: PLC0415
    from ..kernel.jpegcodec import decode_jpeg  # noqa: PLC0415
    from ..kernel.pngcodec import PNG_SIGNATURE, decode_png  # noqa: PLC0415

    import pyarrow as pa  # noqa: PLC0415

    from pyspark.sql.pandas.types import to_arrow_type  # noqa: PLC0415

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(
        list(id_fields)
        + [
            StructField("format", StringType(), True),
            StructField("n_frames", IntegerType(), True),
        ]
        + DECODE_STATS_SCHEMA_TAIL
    )
    arrow_fields = [
        pa.field(f.name, to_arrow_type(f.dataType), f.nullable)
        for f in out_schema.fields
    ]
    arrow_schema = pa.schema(arrow_fields)
    src = df.select(*id_cols, media_col)
    n_id = len(id_cols)

    # r8: mapInArrow instead of mapInPandas — the pandas round trip
    # (Series construction + per-cell access + DataFrame assembly) cost
    # more than the small-image decodes themselves
    def run(batches):
        for rb in batches:
            id_vals = [rb.column(j).to_pylist() for j in range(n_id)]
            media_list = rb.column(n_id).to_pylist()
            out: dict[str, list] = {f.name: [] for f in out_schema.fields[n_id:]}
            for data in media_list:
                if data is None:
                    data = b""
                fmt = None
                try:
                    if data.startswith(PNG_SIGNATURE):
                        fmt = "png"
                        img = decode_png(data, max_pixels=max_pixels)
                        w, h, nc, nf = img.width, img.height, img.n_components, 1
                        px = img.planes  # r8: sum(dtype=int64) is exact; no int64 copy
                        stats = (int(px.sum(dtype=np.int64)), int(px.min()), int(px.max()))
                    elif data[:2] == b"\xff\xd8":
                        fmt = "jpeg"
                        img = decode_jpeg(data, max_pixels=max_pixels)
                        w, h, nc, nf = img.width, img.height, img.n_components, 1
                        px = img.planes  # r8: sum(dtype=int64) is exact; no int64 copy
                        stats = (int(px.sum(dtype=np.int64)), int(px.min()), int(px.max()))
                    elif data[:6] in GIF_MAGICS:
                        fmt = "gif"
                        gif = decode_gif(data, max_pixels=max_pixels)
                        w, h, nc, nf = gif.width, gif.height, 3, gif.n_frames
                        s = mn = mx = None
                        for fr in gif.frames:  # stats span ALL frames
                            px = fr.planes  # r8: exact without the int64 copy
                            s = (s or 0) + int(px.sum(dtype=np.int64))
                            fmn, fmx = int(px.min()), int(px.max())
                            mn = fmn if mn is None else min(mn, fmn)
                            mx = fmx if mx is None else max(mx, fmx)
                        stats = (s, mn, mx)
                    elif data[:2] == BMP_MAGIC:
                        fmt = "bmp"
                        img = decode_bmp(data, max_pixels=max_pixels)
                        w, h, nc, nf = img.width, img.height, img.n_components, 1
                        px = img.planes  # r8: sum(dtype=int64) is exact; no int64 copy
                        stats = (int(px.sum(dtype=np.int64)), int(px.min()), int(px.max()))
                    elif data[:4] in (b"II*\x00", b"MM\x00*"):
                        from ..kernel.tiffcodec import decode_tiff  # noqa: PLC0415

                        fmt = "tiff"
                        img = decode_tiff(data, max_pixels=max_pixels)
                        w, h, nc, nf = img.width, img.height, img.n_components, 1
                        px = img.planes  # r8: sum(dtype=int64) is exact; no int64 copy
                        stats = (int(px.sum(dtype=np.int64)), int(px.min()), int(px.max()))
                    else:
                        raise ValueError("unknown image format")
                    out["format"].append(fmt)
                    out["n_frames"].append(nf)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_channels"].append(nc)
                    out["pixel_sum"].append(stats[0])
                    out["pixel_min"].append(stats[1])
                    out["pixel_max"].append(stats[2])
                    out["status"].append("ok")
                except ValueError as e:  # Jpeg/Png/GifError subclass it
                    out["format"].append(fmt)
                    out["n_frames"].append(None)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["n_channels"].append(None)
                    out["pixel_sum"].append(None)
                    out["pixel_min"].append(None)
                    out["pixel_max"].append(None)
                    out["status"].append(f"error:{e}")
            arrays = [
                pa.array(id_vals[j], type=arrow_fields[j].type) for j in range(n_id)
            ] + [
                pa.array(out[f.name], type=arrow_fields[n_id + k].type)
                for k, f in enumerate(out_schema.fields[n_id:])
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return src.mapInArrow(run, schema=out_schema)


AUDIO_STATS_SCHEMA_TAIL = [
    StructField("n_channels", IntegerType(), True),
    StructField("sample_rate", IntegerType(), True),
    StructField("bits", IntegerType(), True),
    StructField("n_frames", IntegerType(), True),
    StructField("duration_ms", IntegerType(), True),
    StructField("sample_sum", LongType(), True),
    StructField("sample_min", IntegerType(), True),
    StructField("sample_max", IntegerType(), True),
    StructField("status", StringType(), False),
]


def decode_audio_stats(
    df: DataFrame,
    media_col: str = "wav",
    id_cols: tuple[str, ...] = ("doc_id", "img_idx"),
    max_frames: int = 1 << 24,
) -> DataFrame:
    """REAL PCM decode over a binary WAV column → per-clip facts and
    sample statistics: (id…, n_channels, sample_rate, bits, n_frames,
    duration_ms, sample_sum, sample_min, sample_max, status). PCM is
    lossless so deterministic corpora oracle bit-exactly (q73);
    malformed or non-PCM payloads degrade to ``status='error:…'`` rows
    with NULL stats. Per-row CPU inside Arrow batches, zero shuffle;
    ``max_frames`` bounds hostile length claims before allocation."""
    import numpy as np  # noqa: PLC0415

    from ..kernel.wavcodec import WavError, decode_wav  # noqa: PLC0415

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(list(id_fields) + AUDIO_STATS_SCHEMA_TAIL)

    def run(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in out_schema.fields}
            id_lists = [(c, pdf[c].tolist()) for c in id_cols]  # r8: no per-row iloc
            media_list = pdf[media_col].tolist()
            for row in range(len(media_list)):
                for c, _vals in id_lists:
                    out[c].append(_vals[row])
                data = media_list[row]
                if data is None:
                    data = b""
                if isinstance(data, (bytearray, memoryview)):
                    data = bytes(data)
                try:
                    clip = decode_wav(data, max_frames=max_frames)
                    s = clip.samples  # r8: sum(dtype=int64) exact, no copy
                    out["n_channels"].append(clip.n_channels)
                    out["sample_rate"].append(clip.sample_rate)
                    out["bits"].append(clip.bits)
                    out["n_frames"].append(clip.n_frames)
                    out["duration_ms"].append(clip.duration_ms)
                    out["sample_sum"].append(int(s.sum(dtype=np.int64)))
                    out["sample_min"].append(int(s.min()))
                    out["sample_max"].append(int(s.max()))
                    out["status"].append("ok")
                except WavError as e:
                    for col in (
                        "n_channels", "sample_rate", "bits", "n_frames",
                        "duration_ms", "sample_sum", "sample_min", "sample_max",
                    ):
                        out[col].append(None)
                    out["status"].append(f"error:{e}")
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=out_schema)


def render_avi_column(
    df: DataFrame, id_col: str = "doc_id", n_col: str = "n_clips"
) -> DataFrame:
    """AVI writer twin: (id, n) → (id, img_idx, avi:binary)."""
    return _render_media_column(df, id_col, n_col, "avi", "videogen:build_avi")


VIDEO_STATS_SCHEMA_TAIL = [
    StructField("n_frames", IntegerType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("duration_ms", IntegerType(), True),
    StructField("pixel_sum", LongType(), True),
    StructField("pixel_min", IntegerType(), True),
    StructField("pixel_max", IntegerType(), True),
    StructField("status", StringType(), False),
]


def render_decode_video_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    n_col: str = "n_clips",
    max_pixels: int = 1 << 22,
    max_frames: int = 1 << 10,
) -> DataFrame:
    """Per-clip video facts and pixel statistics over rendered AVIs:
    (id, img_idx, n_frames, width, height, duration_ms, pixel_sum,
    pixel_min, pixel_max, status), with the stats spanning EVERY frame.
    Each clip is fully ENCODED by the writer twin (``render_avi_column``'s
    ``build_avi``) and DECODED back through the real codec inside the
    same Python worker, so the multi-KB AVI payloads never cross the
    Arrow boundary: only (id, n) in and the fixed-width stats out
    (optimization r8, guide §2.3/§8). Uncompressed BI_RGB is lossless,
    so deterministic corpora oracle bit-exactly (q77); a malformed clip
    degrades to a ``status='error:…'`` row with NULL stats, and
    ``max_pixels``/``max_frames`` bound hostile claims before
    allocation."""
    import numpy as np  # noqa: PLC0415

    from ..kernel.avicodec import AviError, decode_avi  # noqa: PLC0415

    id_field = df.schema[id_col]
    out_schema = StructType(
        [id_field, StructField("img_idx", IntegerType(), False)]
        + VIDEO_STATS_SCHEMA_TAIL
    )

    def run(batches):
        import pandas as pd  # noqa: PLC0415

        from ..sources.videogen import build_avi  # noqa: PLC0415

        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in out_schema.fields}
            for did, nclips in zip(pdf[id_col], pdf[n_col]):
                did = int(did)
                for k in range(int(nclips)):
                    out[id_col].append(did)
                    out["img_idx"].append(k)
                    try:
                        clip = decode_avi(
                            build_avi(did, k),
                            max_pixels=max_pixels,
                            max_frames=max_frames,
                        )
                        s = mn = mx = None
                        for fr in clip.frames:  # stats span ALL frames
                            px = fr  # r8: exact without the int64 copy
                            s = (s or 0) + int(px.sum(dtype=np.int64))
                            fmn, fmx = int(px.min()), int(px.max())
                            mn = fmn if mn is None else min(mn, fmn)
                            mx = fmx if mx is None else max(mx, fmx)
                        out["n_frames"].append(clip.n_frames)
                        out["width"].append(clip.width)
                        out["height"].append(clip.height)
                        out["duration_ms"].append(clip.duration_ms)
                        out["pixel_sum"].append(s)
                        out["pixel_min"].append(mn)
                        out["pixel_max"].append(mx)
                        out["status"].append("ok")
                    except AviError as e:
                        for col in (
                            "n_frames", "width", "height", "duration_ms",
                            "pixel_sum", "pixel_min", "pixel_max",
                        ):
                            out[col].append(None)
                        out["status"].append(f"error:{e}")
            yield pd.DataFrame(out)

    return df.select(id_col, n_col).mapInPandas(run, schema=out_schema)


def demux_audio_stats(
    df: DataFrame,
    media_col: str = "avi",
    id_cols: tuple[str, ...] = ("doc_id", "img_idx"),
    max_pixels: int = 1 << 22,
    max_samples: int = 1 << 24,
) -> DataFrame:
    """Demux the PCM audio track out of a binary AVI column → per-clip
    audio facts: (id…, audio_rate, n_channels, n_samples, sample_sum,
    sample_min, sample_max, status). PCM is lossless so deterministic
    corpora oracle bit-exactly (q79); clips with NO audio stream yield
    ``status='no_audio'`` with NULL stats, malformed payloads degrade
    to ``error:*`` rows. Per-row CPU inside Arrow batches, zero
    shuffle — the A/V-separation stage of a crawl media pipeline,
    on the ``skip_frames`` fast path: video chunks are never
    JPEG/DIB-decoded, only headers and '01wb' audio chunks."""
    import numpy as np  # noqa: PLC0415

    from ..kernel.avicodec import AviError, decode_avi  # noqa: PLC0415

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(
        list(id_fields)
        + [
            StructField("audio_rate", IntegerType(), True),
            StructField("n_channels", IntegerType(), True),
            StructField("n_samples", IntegerType(), True),
            StructField("sample_sum", LongType(), True),
            StructField("sample_min", IntegerType(), True),
            StructField("sample_max", IntegerType(), True),
            StructField("status", StringType(), False),
        ]
    )
    stat_cols = (
        "audio_rate", "n_channels", "n_samples",
        "sample_sum", "sample_min", "sample_max",
    )

    def run(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in out_schema.fields}
            id_lists = [(c, pdf[c].tolist()) for c in id_cols]  # r8: no per-row iloc
            media_list = pdf[media_col].tolist()
            for row in range(len(media_list)):
                for c, _vals in id_lists:
                    out[c].append(_vals[row])
                data = media_list[row]
                if data is None:
                    data = b""
                if isinstance(data, (bytearray, memoryview)):
                    data = bytes(data)
                try:
                    clip = decode_avi(
                        data, max_pixels=max_pixels, max_samples=max_samples,
                        skip_frames=True,
                    )
                    if clip.audio_samples is None:
                        for col in stat_cols:
                            out[col].append(None)
                        out["status"].append("no_audio")
                        continue
                    px = clip.audio_samples  # r8: sum(dtype=int64) exact
                    out["audio_rate"].append(clip.audio_rate)
                    out["n_channels"].append(clip.audio_channels)
                    out["n_samples"].append(len(clip.audio_samples))
                    out["sample_sum"].append(int(px.sum(dtype=np.int64)))
                    out["sample_min"].append(int(px.min()))
                    out["sample_max"].append(int(px.max()))
                    out["status"].append("ok")
                except AviError as e:
                    for col in stat_cols:
                        out[col].append(None)
                    out["status"].append(f"error:{e}")
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=out_schema)


def perceptual_hash_videos(
    df: DataFrame,
    media_col: str = "avi",
    id_cols: tuple[str, ...] = ("doc_id", "img_idx"),
    max_pixels: int = 1 << 22,
    max_frames: int = 1 << 10,
) -> DataFrame:
    """Decode a binary AVI column → temporal perceptual signature:
    (id…, codec, n_frames, vhash, status). ``vhash`` is the frame-order
    concatenation of each decoded frame's 64-bit dHash as 16 hex chars
    (dhash_planes — invariant to per-pixel affine transforms AND to
    the wire codec, since MJPG here is bit-exact on block-constant
    content), so re-encodes of the same clip collide across
    DIB/MJPG/brightness/color-cast/scale renditions while any frame-
    content or frame-count change splits. Per-row CPU inside Arrow
    batches, zero shuffle; malformed payloads degrade to error rows."""
    from ..kernel.avicodec import AviError, decode_avi  # noqa: PLC0415

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(
        list(id_fields)
        + [
            StructField("codec", StringType(), True),
            StructField("n_frames", IntegerType(), True),
            StructField("vhash", StringType(), True),
            StructField("status", StringType(), False),
        ]
    )

    def run(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in out_schema.fields}
            id_lists = [(c, pdf[c].tolist()) for c in id_cols]  # r8: no per-row iloc
            media_list = pdf[media_col].tolist()
            for row in range(len(media_list)):
                for c, _vals in id_lists:
                    out[c].append(_vals[row])
                data = media_list[row]
                if data is None:
                    data = b""
                if isinstance(data, (bytearray, memoryview)):
                    data = bytes(data)
                try:
                    clip = decode_avi(
                        data, max_pixels=max_pixels, max_frames=max_frames
                    )
                    out["codec"].append(clip.codec)
                    out["n_frames"].append(clip.n_frames)
                    out["vhash"].append(
                        "".join(f"{dhash_planes(fr):016x}" for fr in clip.frames)
                    )
                    out["status"].append("ok")
                except AviError as e:
                    out["codec"].append(None)
                    out["n_frames"].append(None)
                    out["vhash"].append(None)
                    out["status"].append(f"error:{e}")
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=out_schema)


def dhash_video_frames(
    df: DataFrame,
    media_col: str = "avi",
    id_cols: tuple[str, ...] = ("doc_id",),
    max_pixels: int = 1 << 22,
    max_frames: int = 1 << 10,
) -> DataFrame:
    """Decode a binary AVI column → one row PER FRAME with its 64-bit
    dHash: (id…, frame_idx, fhash, status). The frame-level fingerprint
    table behind cross-modal near-dup joins (q80: "which standalone
    crawl images are frames of known videos?") — downstream joins carry
    only 16-hex-char keys, never pixels. A malformed clip degrades to a
    single error row with NULL frame_idx/fhash."""
    from ..kernel.avicodec import AviError, decode_avi  # noqa: PLC0415

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(
        list(id_fields)
        + [
            StructField("frame_idx", IntegerType(), True),
            StructField("fhash", StringType(), True),
            StructField("status", StringType(), False),
        ]
    )

    def run(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in out_schema.fields}
            id_lists = [pdf[c].tolist() for c in id_cols]  # r8: no per-row iloc
            media_list = pdf[media_col].tolist()
            for row in range(len(media_list)):
                ids = [v[row] for v in id_lists]
                data = media_list[row]
                if data is None:
                    data = b""
                if isinstance(data, (bytearray, memoryview)):
                    data = bytes(data)
                try:
                    clip = decode_avi(
                        data, max_pixels=max_pixels, max_frames=max_frames
                    )
                    for f_idx, fr in enumerate(clip.frames):
                        for c, v in zip(id_cols, ids):
                            out[c].append(v)
                        out["frame_idx"].append(f_idx)
                        out["fhash"].append(f"{dhash_planes(fr):016x}")
                        out["status"].append("ok")
                except AviError as e:
                    for c, v in zip(id_cols, ids):
                        out[c].append(v)
                    out["frame_idx"].append(None)
                    out["fhash"].append(None)
                    out["status"].append(f"error:{e}")
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=out_schema)


EXIF_SCHEMA_TAIL = [
    StructField("make", StringType(), True),
    StructField("model", StringType(), True),
    StructField("orientation", IntegerType(), True),
    StructField("taken_at", StringType(), True),
    StructField("exposure", StringType(), True),
    StructField("iso", IntegerType(), True),
    StructField("pixel_x", IntegerType(), True),
    StructField("pixel_y", IntegerType(), True),
    StructField("status", StringType(), False),
]


def extract_exif(
    df: DataFrame,
    media_col: str = "jpeg",
    id_cols: tuple[str, ...] = ("doc_id", "img_idx"),
) -> DataFrame:
    """Camera metadata off a binary JPEG column — the APP1 'Exif'
    segment's TIFF IFDs walked by kernel/tiffcodec.py (IFD0: make,
    model, orientation, DateTime; 0x8769 sub-IFD: ExposureTime as the
    exact 'num/den' wire rational, ISO, PixelX/YDimension):
    (id…, make, model, orientation, taken_at, exposure, iso, pixel_x,
    pixel_y, status). JPEGs WITHOUT an EXIF segment yield
    ``status='no_exif'`` rows (the key never vanishes); non-JPEG or
    malformed payloads degrade to ``error:*``. Per-row CPU inside
    Arrow batches, zero shuffle — the image-metadata stage of a crawl
    pipeline (orientation fixing, timestamp dedup, camera stats)."""
    from ..kernel.tiffcodec import TiffError, exif_from_jpeg  # noqa: PLC0415

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(list(id_fields) + EXIF_SCHEMA_TAIL)
    field_cols = (
        "make", "model", "orientation", "taken_at",
        "exposure", "iso", "pixel_x", "pixel_y",
    )
    key_of = {
        "make": "make", "model": "model", "orientation": "orientation",
        "taken_at": "datetime", "exposure": "exposure", "iso": "iso",
        "pixel_x": "pixel_x", "pixel_y": "pixel_y",
    }

    def run(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in out_schema.fields}
            id_lists = [(c, pdf[c].tolist()) for c in id_cols]  # r8: no per-row iloc
            media_list = pdf[media_col].tolist()
            for row in range(len(media_list)):
                for c, _vals in id_lists:
                    out[c].append(_vals[row])
                data = media_list[row]
                if data is None:
                    data = b""
                if isinstance(data, (bytearray, memoryview)):
                    data = bytes(data)
                try:
                    exif = exif_from_jpeg(data)
                except TiffError as e:
                    for col in field_cols:
                        out[col].append(None)
                    out["status"].append(f"error:{e}")
                    continue
                if exif is None:
                    for col in field_cols:
                        out[col].append(None)
                    out["status"].append("no_exif")
                    continue
                for col in field_cols:
                    v = exif.get(key_of[col])
                    # hostile wire TYPES (a RATIONAL orientation, a
                    # SHORT ExposureTime) must not poison the Arrow
                    # batch: enforce the schema per value
                    if col in ("orientation", "iso", "pixel_x", "pixel_y"):
                        v = v if isinstance(v, int) else None
                    else:
                        v = v if isinstance(v, str) else None
                    out[col].append(v)
                out["status"].append("ok")
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=out_schema)


def parse_caption_cues(
    df: DataFrame,
    media_col: str = "vtt",
    id_cols: tuple[str, ...] = ("doc_id", "img_idx"),
) -> DataFrame:
    """Parse a binary caption column — format-SNIFFED WebVTT or SubRip
    over one column, the mixed-crawl shape — into one row per cue:
    (id…, format, cue_idx, cue_id, start_ms, end_ms, settings, text,
    status). The caption leg of the multimodal tier
    (kernel/vttparse.py): timed text is a first-class training signal
    — caption↔video alignment, ASR ground truth, multilingual pairs.
    Files in neither format degrade to one ``error:*`` row, cue-less
    valid files to one ``empty`` row (the key never vanishes);
    malformed individual cues are skipped inside the parsers
    (player behavior). Per-row CPU inside Arrow batches, zero
    shuffle."""
    from ..kernel.vttparse import (  # noqa: PLC0415
        VttError,
        parse_srt,
        parse_vtt,
        sniff_captions,
    )

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(
        list(id_fields)
        + [
            StructField("format", StringType(), True),
            StructField("cue_idx", IntegerType(), True),
            StructField("cue_id", StringType(), True),
            StructField("start_ms", IntegerType(), True),
            StructField("end_ms", IntegerType(), True),
            StructField("settings", StringType(), True),
            StructField("text", StringType(), True),
            StructField("status", StringType(), False),
        ]
    )

    def run(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in out_schema.fields}
            id_lists = [pdf[c].tolist() for c in id_cols]  # r8: no per-row iloc
            media_list = pdf[media_col].tolist()
            for row in range(len(media_list)):
                ids = [v[row] for v in id_lists]
                data = media_list[row]
                if data is None:
                    data = b""
                if isinstance(data, (bytearray, memoryview)):
                    data = bytes(data)
                err = None
                fmt = sniff_captions(data)
                try:
                    cues = (parse_srt if fmt == "srt" else parse_vtt)(data)
                except VttError as e:
                    cues, err = None, f"error:{e}"
                if not cues:  # wrong format, or valid but cue-less:
                    # emit ONE row either way so the (id…) key never
                    # silently vanishes from the output
                    for c, v in zip(id_cols, ids):
                        out[c].append(v)
                    out["format"].append(None if err else fmt)
                    for col in (
                        "cue_idx", "cue_id", "start_ms",
                        "end_ms", "settings", "text",
                    ):
                        out[col].append(None)
                    out["status"].append(err or "empty")
                    continue
                for idx, cue in enumerate(cues):
                    for c, v in zip(id_cols, ids):
                        out[c].append(v)
                    out["format"].append(fmt)
                    out["cue_idx"].append(idx)
                    out["cue_id"].append(cue.cue_id)
                    out["start_ms"].append(cue.start_ms)
                    out["end_ms"].append(cue.end_ms)
                    out["settings"].append(cue.settings)
                    out["text"].append(cue.text)
                    out["status"].append("ok")
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=out_schema)


def avi_frame_sampler(data: bytes, n: int):
    """REAL frame sampler for ``sample_frames`` — decodes the AVI and
    returns ``n`` evenly-spaced frames re-encoded as lossless PNGs
    with their true timestamps (module-level so Spark can pickle it).
    The env-blocked ffmpeg integration point is no longer the only
    video path: uncompressed AVI samples for real."""
    from ..kernel.avicodec import decode_avi  # noqa: PLC0415
    from ..kernel.pngcodec import encode_png  # noqa: PLC0415

    if n <= 0:
        return []
    clip = decode_avi(data)
    picks = (
        [i * (clip.n_frames - 1) // (n - 1) for i in range(n)]
        if n > 1
        else [0]
    )
    # timestamp from the exact rational (p * 1000 * scale / rate) — a
    # pre-rounded per-frame duration would drift linearly with p
    return [
        (p * 1000 * clip.scale // clip.rate, encode_png(clip.frames[p]))
        for p in picks
    ]


def dhash_planes(planes) -> int:
    """64-bit difference hash (dHash) of decoded pixels — the
    perceptual fingerprint behind cross-format image dedup (q76).

    Luma is the integer CHANNEL SUM (any per-pixel affine transform of
    the samples — uniform brightness shift, channel color cast, a
    gray palette's 3x expansion — preserves every comparison below, so
    re-encodes of the same picture across PNG/JPEG/GIF/BMP collide by
    construction). The 9x8 sample grid averages an equal-size ``s x s``
    window anchored at ``(r*h//8, c*w//9)`` — equal areas keep the
    affine invariance exact (a constant offset adds ``b*s*s`` to every
    cell), integer sums keep it deterministic. Bit ``i = 8*r + c`` is
    ``cell(r,c) > cell(r,c+1)`` packed MSB-first."""
    import numpy as np  # noqa: PLC0415

    luma = planes.astype(np.int64)
    if luma.ndim == 3:
        luma = luma.sum(axis=2)
    h, w = luma.shape
    s = max(min(h // 8, w // 9), 1)
    cells = np.empty((8, 9), dtype=np.int64)
    for r in range(8):
        y0 = min(r * h // 8, h - s) if h >= s else 0
        for c in range(9):
            x0 = min(c * w // 9, w - s) if w >= s else 0
            cells[r, c] = int(luma[y0 : y0 + s, x0 : x0 + s].sum())
    bits = cells[:, :8] > cells[:, 1:]
    out = 0
    for d in bits.reshape(-1):
        out = (out << 1) | int(d)
    return out


def perceptual_hash_images(
    df: DataFrame,
    media_col: str = "img",
    id_cols: tuple[str, ...] = ("doc_id", "img_idx"),
    max_pixels: int = 1 << 22,
) -> DataFrame:
    """Format-sniffing decode → 64-bit dHash over a binary image
    column: (id…, format, phash, status). ``phash`` is the 16-hex-char
    fingerprint (string — sidesteps signed-64 pitfalls in SQL mirrors
    and sorts lexicographically = numerically); GIF hashes its FIRST
    frame (the poster frame). Unknown magics / malformed payloads
    degrade to ``status='error:…'`` with NULL hash. Per-row CPU inside
    Arrow batches, zero shuffle — the grouping that turns fingerprints
    into duplicate clusters is ONE hash aggregation downstream."""
    from ..kernel.dibcodec import BMP_MAGIC, decode_bmp  # noqa: PLC0415
    from ..kernel.gifcodec import GIF_MAGICS, decode_gif  # noqa: PLC0415
    from ..kernel.jpegcodec import decode_jpeg  # noqa: PLC0415
    from ..kernel.pngcodec import PNG_SIGNATURE, decode_png  # noqa: PLC0415

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(
        list(id_fields)
        + [
            StructField("format", StringType(), True),
            StructField("phash", StringType(), True),
            StructField("status", StringType(), False),
        ]
    )

    def run(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in out_schema.fields}
            # r8: batch columns convert to lists ONCE — per-row
            # Series.iloc access costs microseconds each and dominated
            # small-image batches
            id_lists = [(c, pdf[c].tolist()) for c in id_cols]
            media_list = pdf[media_col].tolist()
            for row in range(len(media_list)):
                for c, vals in id_lists:
                    out[c].append(vals[row])
                data = media_list[row]
                if data is None:
                    data = b""
                if isinstance(data, (bytearray, memoryview)):
                    data = bytes(data)
                fmt = None
                try:
                    if data.startswith(PNG_SIGNATURE):
                        fmt = "png"
                        planes = decode_png(data, max_pixels=max_pixels).planes
                    elif data[:2] == b"\xff\xd8":
                        fmt = "jpeg"
                        planes = decode_jpeg(data, max_pixels=max_pixels).planes
                    elif data[:6] in GIF_MAGICS:
                        fmt = "gif"
                        planes = decode_gif(data, max_pixels=max_pixels).frames[0].planes
                    elif data[:2] == BMP_MAGIC:
                        fmt = "bmp"
                        planes = decode_bmp(data, max_pixels=max_pixels).planes
                    else:
                        raise ValueError("unknown image format")
                    out["format"].append(fmt)
                    out["phash"].append(f"{dhash_planes(planes):016x}")
                    out["status"].append("ok")
                except ValueError as e:  # all codec errors subclass it
                    out["format"].append(fmt)
                    out["phash"].append(None)
                    out["status"].append(f"error:{e}")
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=out_schema)


def media_dedup_exact(features: DataFrame) -> DataFrame:
    """Exact media dedup on content hash (same shape as text dedup)."""
    return (
        features.groupBy("content_hash")
        .agg(F.min("media_id").alias("rep_media_id"), F.count("*").alias("n_copies"))
        .orderBy("rep_media_id")
    )
