"""Multimodal columns: images, audio, video and captions as binary
columns, decoded for real by the from-scratch codecs under
``kernel/`` (JPEG, PNG, GIF, BMP, TIFF, PCM WAV, AVI with DIB or
Motion-JPEG frames, WebVTT/SubRip) — no Pillow/ffmpeg/torchaudio.

Every stage is a per-row Python function run through
:func:`.rows.map_rows`: media bytes stay in executor-side Arrow
buffers, one batch per ``maxRecordsPerBatch``, with no driver
involvement and no shuffle. Decode stages carry a ``status`` column: a
malformed or unsupported payload becomes an ``error:…`` row with NULL
stats instead of failing the task, and ``max_pixels``/``max_frames``/
``max_samples`` bound hostile size claims before any allocation. The
``render_*`` writer twins (sources/imagegen, audiogen, videogen) fan
``(id, n)`` out to ``n`` deterministic clips for the decode oracles.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
)

from .rows import map_rows


def _px_stats(px) -> tuple[int, int, int]:
    """(sum, min, max) of a sample array; ``sum(dtype=int64)`` is exact
    without an int64 copy."""
    import numpy as np  # noqa: PLC0415

    return int(px.sum(dtype=np.int64)), int(px.min()), int(px.max())


def _span_stats(frames) -> tuple:
    """(sum, min, max) spanning every frame; all NULL for no frames."""
    stats = [_px_stats(px) for px in frames]
    if not stats:
        return None, None, None
    return (
        sum(s for s, _, _ in stats),
        min(mn for _, mn, _ in stats),
        max(mx for _, _, mx in stats),
    )


def sample_frames(
    df: DataFrame,
    n_frames: int,
    media_col: str = "media",
    id_col: str = "media_id",
    sampler=None,
) -> DataFrame:
    """Video frame-sampling stage: one input row → ``n_frames`` output
    rows (id, frame_idx, ts_ms, frame binary). ``sampler(data, n) ->
    list[(ts_ms, frame_bytes)]`` is the pluggable codec
    (:func:`avi_frame_sampler` decodes uncompressed AVI for real); the
    default deterministic stand-in slices the payload into n
    evenly-spaced windows. The 1→n fan-out happens inside the executor
    batch (a flatMap shape) — no shuffle, and frame bytes never visit
    the driver."""
    if sampler is None:
        def sampler(data: bytes, n: int):
            h = hashlib.blake2b(data, digest_size=32).digest()
            dur = 100 + int.from_bytes(h[2:4], "little") % 10000
            if not data:
                data = h
            step = max(len(data) // n, 1)
            return [
                (dur * i // max(n - 1, 1), data[i * step : i * step + step])
                for i in range(n)
            ]

    def frames(data):
        picks = sampler(data if data is not None else b"", n_frames)
        return [(i, int(ts), frame) for i, (ts, frame) in enumerate(picks)]

    return map_rows(
        df,
        frames,
        [media_col],
        [
            StructField("frame_idx", IntegerType(), False),
            StructField("ts_ms", IntegerType(), False),
            StructField("frame", BinaryType(), True),
        ],
        [id_col],
    )


def _render_media_column(
    df: DataFrame, id_col: str, n_col: str, media_name: str, build
) -> DataFrame:
    """(id, n) → one row per clip: (id, img_idx, <media_name>:binary).
    The deterministic writer-twin fan-out for the decode oracles
    (sources/imagegen / audiogen / videogen closed forms ``build(id,
    k)``; module-level, so only its name ships) — identical regardless
    of partitioning, a 1→n fan-out inside the executor batch (no
    shuffle, bytes never visit the driver)."""
    return map_rows(
        df,
        lambda did, n: [(k, build(did, k)) for k in range(n)],
        [id_col, n_col],
        [
            StructField("img_idx", IntegerType(), False),
            StructField(media_name, BinaryType(), False),
        ],
        [id_col],
    )


def render_jpeg_column(
    df: DataFrame, id_col: str = "doc_id", n_col: str = "n_imgs"
) -> DataFrame:
    """JPEG writer twin: (id, n) → (id, img_idx, jpeg:binary)."""
    from ..sources.imagegen import build_jpeg  # noqa: PLC0415

    return _render_media_column(df, id_col, n_col, "jpeg", build_jpeg)


def render_png_column(
    df: DataFrame, id_col: str = "doc_id", n_col: str = "n_imgs"
) -> DataFrame:
    """PNG writer twin: (id, n) → (id, img_idx, png:binary)."""
    from ..sources.imagegen import build_png  # noqa: PLC0415

    return _render_media_column(df, id_col, n_col, "png", build_png)


def render_gif_column(
    df: DataFrame, id_col: str = "doc_id", n_col: str = "n_imgs"
) -> DataFrame:
    """GIF writer twin: (id, n) → (id, img_idx, gif:binary)."""
    from ..sources.imagegen import build_gif  # noqa: PLC0415

    return _render_media_column(df, id_col, n_col, "gif", build_gif)


def render_wav_column(
    df: DataFrame, id_col: str = "doc_id", n_col: str = "n_clips"
) -> DataFrame:
    """WAV writer twin: (id, n) → (id, img_idx, wav:binary)."""
    from ..sources.audiogen import build_wav  # noqa: PLC0415

    return _render_media_column(df, id_col, n_col, "wav", build_wav)


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
    from ..kernel.jpegcodec import decode_jpeg  # noqa: PLC0415

    def stats(data):
        img = decode_jpeg(data or b"", max_pixels=max_pixels)
        return [(img.width, img.height, img.n_components, *_px_stats(img.planes), "ok")]

    return map_rows(
        df, stats, [media_col], DECODE_STATS_SCHEMA_TAIL, id_cols, error_col="status"
    )


_TIFF_MAGICS = (b"II*\x00", b"MM\x00*")


def _sniff_image(data: bytes) -> str | None:
    """Image format by magic bytes; None for an unknown magic."""
    from ..kernel.dibcodec import BMP_MAGIC  # noqa: PLC0415
    from ..kernel.gifcodec import GIF_MAGICS  # noqa: PLC0415
    from ..kernel.pngcodec import PNG_SIGNATURE  # noqa: PLC0415

    if data.startswith(PNG_SIGNATURE):
        return "png"
    if data[:2] == b"\xff\xd8":
        return "jpeg"
    if data[:6] in GIF_MAGICS:
        return "gif"
    if data[:2] == BMP_MAGIC:
        return "bmp"
    if data[:4] in _TIFF_MAGICS:
        return "tiff"
    return None


def _decode_image(fmt: str | None, data: bytes, max_pixels: int):
    """Decode a sniffed image → (width, height, n_channels, frames):
    ``frames`` is every frame's sample planes (GIF: all frames, the
    logical screen's size; everything else: one)."""
    if fmt == "gif":
        from ..kernel.gifcodec import decode_gif  # noqa: PLC0415

        gif = decode_gif(data, max_pixels=max_pixels)
        return gif.width, gif.height, 3, [fr.planes for fr in gif.frames]
    if fmt == "png":
        from ..kernel.pngcodec import decode_png as decode  # noqa: PLC0415
    elif fmt == "jpeg":
        from ..kernel.jpegcodec import decode_jpeg as decode  # noqa: PLC0415
    elif fmt == "bmp":
        from ..kernel.dibcodec import decode_bmp as decode  # noqa: PLC0415
    elif fmt == "tiff":
        from ..kernel.tiffcodec import decode_tiff as decode  # noqa: PLC0415
    else:
        raise ValueError("unknown image format")
    img = decode(data, max_pixels=max_pixels)
    return img.width, img.height, img.n_components, [img.planes]


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
    with NULL stats (``format`` stays set when the magic was known);
    decode is per-row CPU inside Arrow batches, zero
    shuffle. ``max_pixels`` bounds hostile dimension claims before any
    allocation (and bounds the PNG unfilter's Python walk)."""

    def stats(data):
        data = data or b""
        fmt = _sniff_image(data)
        try:
            w, h, nc, frames = _decode_image(fmt, data, max_pixels)
            return [(fmt, len(frames), w, h, nc, *_span_stats(frames), "ok")]
        except ValueError as e:  # codec errors subclass it; format survives
            return [(fmt, None, None, None, None, None, None, None, f"error:{e}")]

    return map_rows(
        df,
        stats,
        [media_col],
        [
            StructField("format", StringType(), True),
            StructField("n_frames", IntegerType(), True),
            *DECODE_STATS_SCHEMA_TAIL,
        ],
        id_cols,
        error_col="status",
    )


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
    from ..kernel.wavcodec import decode_wav  # noqa: PLC0415

    def stats(data):
        clip = decode_wav(data or b"", max_frames=max_frames)
        return [
            (
                clip.n_channels,
                clip.sample_rate,
                clip.bits,
                clip.n_frames,
                clip.duration_ms,
                *_px_stats(clip.samples),
                "ok",
            )
        ]

    return map_rows(
        df, stats, [media_col], AUDIO_STATS_SCHEMA_TAIL, id_cols, error_col="status"
    )


def render_avi_column(
    df: DataFrame, id_col: str = "doc_id", n_col: str = "n_clips"
) -> DataFrame:
    """AVI writer twin: (id, n) → (id, img_idx, avi:binary)."""
    from ..sources.videogen import build_avi  # noqa: PLC0415

    return _render_media_column(df, id_col, n_col, "avi", build_avi)


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
    degrades to its own ``status='error:…'`` row with NULL stats, and
    ``max_pixels``/``max_frames`` bound hostile claims before
    allocation."""
    from ..kernel.avicodec import AviError, decode_avi  # noqa: PLC0415
    from ..sources.videogen import build_avi  # noqa: PLC0415

    def clip_stats(did, k):
        try:
            clip = decode_avi(
                build_avi(did, k), max_pixels=max_pixels, max_frames=max_frames
            )
        except AviError as e:  # one clip's error row, not the document's
            return (k, None, None, None, None, None, None, None, f"error:{e}")
        return (
            k,
            clip.n_frames,
            clip.width,
            clip.height,
            clip.duration_ms,
            *_span_stats(clip.frames),
            "ok",
        )

    return map_rows(
        df,
        lambda did, n: [clip_stats(did, k) for k in range(n)],
        [id_col, n_col],
        [StructField("img_idx", IntegerType(), False), *VIDEO_STATS_SCHEMA_TAIL],
        [id_col],
    )


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
    from ..kernel.avicodec import decode_avi  # noqa: PLC0415

    def stats(data):
        clip = decode_avi(
            data or b"", max_pixels=max_pixels, max_samples=max_samples, skip_frames=True
        )
        if clip.audio_samples is None:
            return [(None, None, None, None, None, None, "no_audio")]
        return [
            (
                clip.audio_rate,
                clip.audio_channels,
                len(clip.audio_samples),
                *_px_stats(clip.audio_samples),
                "ok",
            )
        ]

    return map_rows(
        df,
        stats,
        [media_col],
        [
            StructField("audio_rate", IntegerType(), True),
            StructField("n_channels", IntegerType(), True),
            StructField("n_samples", IntegerType(), True),
            StructField("sample_sum", LongType(), True),
            StructField("sample_min", IntegerType(), True),
            StructField("sample_max", IntegerType(), True),
            StructField("status", StringType(), False),
        ],
        id_cols,
        error_col="status",
    )


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
    from ..kernel.avicodec import decode_avi  # noqa: PLC0415

    def signature(data):
        clip = decode_avi(data or b"", max_pixels=max_pixels, max_frames=max_frames)
        vhash = "".join(f"{dhash_planes(fr):016x}" for fr in clip.frames)
        return [(clip.codec, clip.n_frames, vhash, "ok")]

    return map_rows(
        df,
        signature,
        [media_col],
        [
            StructField("codec", StringType(), True),
            StructField("n_frames", IntegerType(), True),
            StructField("vhash", StringType(), True),
            StructField("status", StringType(), False),
        ],
        id_cols,
        error_col="status",
    )


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
    from ..kernel.avicodec import decode_avi  # noqa: PLC0415

    def frame_hashes(data):
        clip = decode_avi(data or b"", max_pixels=max_pixels, max_frames=max_frames)
        return [(i, f"{dhash_planes(fr):016x}", "ok") for i, fr in enumerate(clip.frames)]

    return map_rows(
        df,
        frame_hashes,
        [media_col],
        [
            StructField("frame_idx", IntegerType(), True),
            StructField("fhash", StringType(), True),
            StructField("status", StringType(), False),
        ],
        id_cols,
        error_col="status",
    )


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

# EXIF_SCHEMA_TAIL column → (exif_from_jpeg key, wire type the schema allows)
_EXIF_KEYS = (
    ("make", str),
    ("model", str),
    ("orientation", int),
    ("datetime", str),
    ("exposure", str),
    ("iso", int),
    ("pixel_x", int),
    ("pixel_y", int),
)


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
    from ..kernel.tiffcodec import exif_from_jpeg  # noqa: PLC0415

    def fields(data):
        exif = exif_from_jpeg(data or b"")
        if exif is None:
            return [(None,) * len(_EXIF_KEYS) + ("no_exif",)]
        # hostile wire TYPES (a RATIONAL orientation, a SHORT
        # ExposureTime) must not poison the Arrow batch: enforce the
        # schema per value
        vals = []
        for key, typ in _EXIF_KEYS:
            v = exif.get(key)
            vals.append(v if isinstance(v, typ) else None)
        return [(*vals, "ok")]

    return map_rows(df, fields, [media_col], EXIF_SCHEMA_TAIL, id_cols, error_col="status")


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
    from ..kernel.vttparse import parse_srt, parse_vtt, sniff_captions  # noqa: PLC0415

    def cues(data):
        data = data or b""
        fmt = sniff_captions(data)
        parsed = (parse_srt if fmt == "srt" else parse_vtt)(data)
        if not parsed:  # valid but cue-less: the key still gets a row
            return [(fmt, None, None, None, None, None, None, "empty")]
        return [
            (fmt, i, c.cue_id, c.start_ms, c.end_ms, c.settings, c.text, "ok")
            for i, c in enumerate(parsed)
        ]

    return map_rows(
        df,
        cues,
        [media_col],
        [
            StructField("format", StringType(), True),
            StructField("cue_idx", IntegerType(), True),
            StructField("cue_id", StringType(), True),
            StructField("start_ms", IntegerType(), True),
            StructField("end_ms", IntegerType(), True),
            StructField("settings", StringType(), True),
            StructField("text", StringType(), True),
            StructField("status", StringType(), False),
        ],
        id_cols,
        error_col="status",
    )


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
    frame (the poster frame). PNG, JPEG, GIF and BMP hash; unknown
    magics (TIFF included) and malformed payloads degrade to
    ``status='error:…'`` with NULL hash. Per-row CPU inside
    Arrow batches, zero shuffle — the grouping that turns fingerprints
    into duplicate clusters is ONE hash aggregation downstream."""

    def phash(data):
        data = data or b""
        fmt = _sniff_image(data)
        if fmt == "tiff":
            fmt = None
        try:
            planes = _decode_image(fmt, data, max_pixels)[3][0]
            return [(fmt, f"{dhash_planes(planes):016x}", "ok")]
        except ValueError as e:  # codec errors subclass it; format survives
            return [(fmt, None, f"error:{e}")]

    return map_rows(
        df,
        phash,
        [media_col],
        [
            StructField("format", StringType(), True),
            StructField("phash", StringType(), True),
            StructField("status", StringType(), False),
        ],
        id_cols,
        error_col="status",
    )
