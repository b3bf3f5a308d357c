"""TIFF 6.0 codec + EXIF walker — from-scratch per the public TIFF 6.0
specification (Adobe, 1992) and the EXIF 2.3 layout (an APP1-embedded
TIFF IFD): the scanned-image container of the crawl, and the camera
metadata real pipelines keep alongside images. One IFD walker powers
BOTH surfaces (q85 pixel decode, q86 EXIF fields).

Scope (the crawl-relevant baseline subset):

- Both byte orders (``II``/``MM``), classic 42 magic; chained IFDs
  (first image IFD only for decode; EXIF sub-IFD via tag 0x8769).
- Field types BYTE/ASCII/SHORT/LONG/RATIONAL (+ value-fits-inline
  rule: ≤4 bytes live in the offset slot).
- Decode: PhotometricInterpretation 0/1 (bilevel/gray, WhiteIsZero
  inverts) and 2 (RGB); BitsPerSample 1 or 8; Compression 1 (none),
  4 (CCITT Group 4 — kernel/ccittcodec.py, the shared T.6 engine),
  5 (LZW per TIFF 6.0 §13 — the SAME wire coding as PDF LZWDecode,
  reused from kernel/pdftext.py — with horizontal Predictor 2) and
  32773 (PackBits); strip organization (RowsPerStrip /
  StripOffsets / StripByteCounts).
- Typed ``TiffError`` + ``max_pixels`` budgets — poison payloads
  degrade to error rows, never crashes; unsupported compressions
  raise naming the tag value.

The reference repo has no image surface (sax-wasm is an XML tokenizer,
``/root/reference/src/sax/parser.rs:1``); this tier belongs to the
assignment's multimodal/training-data scope.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from .ccittcodec import CcittError, decode_g4


class TiffError(ValueError):
    """Typed failure for malformed/unsupported TIFF payloads."""


_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}

# baseline tags
_T_WIDTH, _T_HEIGHT = 0x0100, 0x0101
_T_BITS, _T_COMPRESSION, _T_PHOTOMETRIC = 0x0102, 0x0103, 0x0106
_T_STRIP_OFFSETS, _T_SAMPLES_PER_PIXEL = 0x0111, 0x0115
_T_ROWS_PER_STRIP, _T_STRIP_COUNTS = 0x0116, 0x0117
_T_PREDICTOR = 0x013D
_T_EXIF_IFD = 0x8769


@dataclass
class TiffImage:
    planes: np.ndarray  # uint8 (h, w, ncomp); bilevel expands to 0/255
    width: int
    height: int
    n_components: int
    compression: int  # wire tag value: 1, 4, 32773
    photometric: int


def _read_ifd(data: bytes, off: int, bo: str) -> tuple[dict, int]:
    """One IFD → ({tag: (type, values_tuple)}, next_ifd_offset)."""
    if off + 2 > len(data):
        raise TiffError("IFD offset out of range")
    (n,) = struct.unpack_from(bo + "H", data, off)
    if n > 4096:
        raise TiffError(f"IFD entry count {n} is hostile")
    entries: dict[int, tuple[int, tuple]] = {}
    pos = off + 2
    if pos + 12 * n + 4 > len(data):
        raise TiffError("IFD overruns file")
    for _ in range(n):
        tag, ftype, count = struct.unpack_from(bo + "HHI", data, pos)
        size = _TYPE_SIZES.get(ftype)
        if size is None:  # unknown type: skip per spec
            pos += 12
            continue
        total = size * count
        if total > 1 << 24:
            raise TiffError(f"tag 0x{tag:04x} value size {total} hostile")
        if total <= 4:
            voff = pos + 8
        else:
            (voff,) = struct.unpack_from(bo + "I", data, pos + 8)
            if voff + total > len(data):
                raise TiffError(f"tag 0x{tag:04x} value out of range")
        if ftype == 2:  # ASCII: NUL-terminated string(s)
            raw = data[voff : voff + count]
            entries[tag] = (ftype, (raw.split(b"\x00")[0].decode(
                "ascii", errors="replace"),))
        elif ftype in (5, 10):  # RATIONAL
            vals = []
            for i in range(count):
                num, den = struct.unpack_from(
                    bo + ("II" if ftype == 5 else "ii"), data, voff + 8 * i
                )
                vals.append((num, den))
            entries[tag] = (ftype, tuple(vals))
        else:
            fmt = {1: "B", 3: "H", 4: "I", 6: "b", 7: "B", 8: "h", 9: "i"}[
                ftype
            ]
            vals = struct.unpack_from(bo + fmt * count, data, voff)
            entries[tag] = (ftype, vals)
        pos += 12
    (nxt,) = struct.unpack_from(bo + "I", data, pos)
    return entries, nxt


def _scalar(entries: dict, tag: int, default=None):
    e = entries.get(tag)
    if e is None:
        return default
    return e[1][0] if e[1] else default


def _int_values(entries: dict, tag: int) -> tuple | None:
    """An integer tag's values, or None when absent. A wire type that
    decodes to anything else (a bit-flipped RATIONAL, an ASCII string)
    is a TiffError naming the tag, never a TypeError further down."""
    e = entries.get(tag)
    if e is None:
        return None
    if not all(isinstance(v, int) for v in e[1]):
        raise TiffError(f"tag 0x{tag:04x} has non-integer field type {e[0]}")
    return e[1]


def _int_scalar(entries: dict, tag: int, default=None):
    vals = _int_values(entries, tag)
    return vals[0] if vals else default


def _unpackbits(data: bytes, expected: int) -> bytes:
    """Apple PackBits (TIFF 6.0 §9)."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:  # literal run of n+1 bytes
            if i + n + 1 > len(data):
                raise TiffError("PackBits literal overruns strip")
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:  # repeat next byte 257-n times
            if i >= len(data):
                raise TiffError("PackBits repeat overruns strip")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op per spec
    if len(out) < expected:
        raise TiffError(f"PackBits underflow: {len(out)} < {expected}")
    return bytes(out[:expected])


def _byte_order(data: bytes) -> str:
    if data[:2] == b"II":
        return "<"
    if data[:2] == b"MM":
        return ">"
    raise TiffError("not a TIFF (missing II/MM byte order)")


def decode_tiff(data: bytes, max_pixels: int = 1 << 24) -> TiffImage:
    """Decode the first image IFD → pixels. Bilevel rows expand to
    0/255 gray; WhiteIsZero (photometric 0) inverts so 'ink' is dark
    in the OUTPUT — callers get display truth, not wire bits."""
    if len(data) < 8:
        raise TiffError("truncated TIFF header")
    bo = _byte_order(data)
    magic, first = struct.unpack_from(bo + "HI", data, 2)
    if magic != 42:
        raise TiffError(f"bad TIFF magic {magic}")
    entries, _nxt = _read_ifd(data, first, bo)

    width = _int_scalar(entries, _T_WIDTH)
    height = _int_scalar(entries, _T_HEIGHT)
    if not width or not height:
        raise TiffError("missing ImageWidth/ImageLength")
    if width * height > max_pixels:
        raise TiffError(f"{width}x{height} exceeds max_pixels={max_pixels}")
    comp = _int_scalar(entries, _T_COMPRESSION, 1)
    photo = _int_scalar(entries, _T_PHOTOMETRIC, 1)
    spp = _int_scalar(entries, _T_SAMPLES_PER_PIXEL, 1)
    bits = _int_values(entries, _T_BITS)
    if bits is None:
        bits = (1,) if photo in (0, 1) else (8,) * spp
    if not bits:
        raise TiffError("empty BitsPerSample")
    if photo == 2:
        if spp != 3 or any(b != 8 for b in bits):
            raise TiffError("RGB supports 8-bit 3-sample only")
    elif photo in (0, 1):
        if spp != 1 or bits[0] not in (1, 8):
            raise TiffError("gray supports 1/8-bit single-sample only")
    else:
        raise TiffError(f"unsupported photometric {photo}")
    if comp not in (1, 4, 5, 32773):
        raise TiffError(f"unsupported compression {comp}")
    predictor = _int_scalar(entries, _T_PREDICTOR, 1)
    if predictor not in (1, 2):
        raise TiffError(f"unsupported predictor {predictor}")
    if predictor == 2 and bits[0] != 8:
        raise TiffError("predictor 2 requires 8-bit samples")
    if comp == 4 and bits[0] != 1:
        raise TiffError("CCITT G4 requires 1-bit bilevel")

    offsets = _int_values(entries, _T_STRIP_OFFSETS)
    counts = _int_values(entries, _T_STRIP_COUNTS)
    if offsets is None or counts is None:
        raise TiffError("missing strip offsets/byte counts")
    if len(offsets) != len(counts):
        raise TiffError("StripOffsets/StripByteCounts length mismatch")
    rows_per_strip = _int_scalar(entries, _T_ROWS_PER_STRIP, height)

    bpp = spp if bits[0] == 8 else 0  # bytes/pixel for 8-bit paths
    row_bytes = width * bpp if bpp else (width + 7) // 8
    rows_out: list[np.ndarray] = []
    for s, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(data):
            raise TiffError(f"strip {s} out of range")
        n_rows = min(rows_per_strip, height - s * rows_per_strip)
        if n_rows <= 0:
            break
        blob = data[off : off + cnt]
        if comp == 4:
            try:
                ink = decode_g4(blob, width, rows=n_rows, max_pixels=max_pixels)
            except CcittError as e:
                raise TiffError(f"strip {s}: {e}") from e
            # MMR codes FAX white/black runs — display truth directly;
            # photometric only governs how uncompressed sample VALUES
            # would encode, so G4 output never inverts (T.6 §2.2.1)
            strip_px = np.where(ink == 1, 0, 255).astype(np.uint8)
            rows_out.append(strip_px[:, :, None])
            continue
        if comp == 32773:
            blob = _unpackbits(blob, row_bytes * n_rows)
        elif comp == 5:
            from .pdftext import PdfError, _lzw_decode  # noqa: PLC0415

            try:
                # max_out bounds hostile expansion BEFORE the size check
                blob = _lzw_decode(blob, max_out=row_bytes * n_rows + 1)
            except PdfError as e:
                raise TiffError(f"strip {s}: {e}") from e
            if len(blob) < row_bytes * n_rows:
                raise TiffError(f"strip {s}: LZW underflow")
        elif len(blob) < row_bytes * n_rows:
            raise TiffError(f"strip {s} truncated")
        if bits[0] == 1:
            rows = np.unpackbits(
                np.frombuffer(blob[: row_bytes * n_rows], np.uint8).reshape(
                    n_rows, row_bytes
                ),
                axis=1,
            )[:, :width]
            strip_px = (
                np.where(rows == 1, 0, 255)
                if photo == 0
                else np.where(rows == 1, 255, 0)
            ).astype(np.uint8)[:, :, None]
        else:
            arr = np.frombuffer(
                blob[: row_bytes * n_rows], np.uint8
            ).reshape(n_rows, width, spp)
            if predictor == 2:  # horizontal differencing: undo = cumsum
                arr = np.cumsum(arr.astype(np.uint32), axis=1).astype(
                    np.uint8
                )
            strip_px = 255 - arr if photo == 0 else arr
        rows_out.append(strip_px)
    if not rows_out:
        raise TiffError("no strips decoded")
    px = np.concatenate(rows_out)
    if px.shape[0] != height:
        raise TiffError(f"strips cover {px.shape[0]} rows, IFD says {height}")
    return TiffImage(px, width, height, px.shape[2], comp, photo)


# ---------------------------------------------------------------------------
# EXIF (q86): the same IFD walker over a JPEG APP1 payload.

_EXIF_FIELDS = {
    0x010F: "make",
    0x0110: "model",
    0x0112: "orientation",
    0x0132: "datetime",
}
_EXIF_SUB_FIELDS = {
    0x829A: "exposure",  # ExposureTime, RATIONAL
    0x8827: "iso",  # ISOSpeedRatings, SHORT
    0xA002: "pixel_x",  # PixelXDimension
    0xA003: "pixel_y",  # PixelYDimension
}


def parse_exif(tiff_blob: bytes) -> dict:
    """Walk an EXIF TIFF blob (IFD0 + the 0x8769 EXIF sub-IFD) →
    {make, model, orientation, datetime, exposure, iso, pixel_x,
    pixel_y} (missing keys absent). RATIONALs come back as 'num/den'
    strings — exact, SQL-reproducible wire truth."""
    if len(tiff_blob) < 8:
        raise TiffError("truncated EXIF TIFF header")
    bo = _byte_order(tiff_blob)
    magic, first = struct.unpack_from(bo + "HI", tiff_blob, 2)
    if magic != 42:
        raise TiffError(f"bad TIFF magic {magic}")
    ifd0, _ = _read_ifd(tiff_blob, first, bo)
    out: dict[str, object] = {}
    for tag, name in _EXIF_FIELDS.items():
        v = _scalar(ifd0, tag)
        if v is not None:
            out[name] = v
    sub_off = _scalar(ifd0, _T_EXIF_IFD)
    if sub_off is not None:
        sub, _ = _read_ifd(tiff_blob, int(sub_off), bo)
        for tag, name in _EXIF_SUB_FIELDS.items():
            v = _scalar(sub, tag)
            if v is not None:
                out[name] = (
                    f"{v[0]}/{v[1]}" if isinstance(v, tuple) else v
                )
    return out


def exif_from_jpeg(data: bytes) -> dict | None:
    """Find the APP1 'Exif\\x00\\x00' segment in a JPEG and parse it;
    None when absent. Walks only the marker chain before SOS — EXIF
    always precedes scan data."""
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        raise TiffError("not a JPEG")
    pos = 2
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise TiffError("bad JPEG marker chain")
        # T.81 §B.1.1.2: any number of 0xFF fill bytes may precede a marker
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(data):
            break
        marker = data[pos + 1]
        if marker == 0xDA:  # SOS: no EXIF past here
            return None
        if marker == 0x01 or 0xD0 <= marker <= 0xD9:  # standalone markers
            pos += 2
            continue
        if pos + 4 > len(data):
            break
        (seg_len,) = struct.unpack_from(">H", data, pos + 2)
        if seg_len < 2:
            raise TiffError("bad JPEG segment length")
        body = data[pos + 4 : pos + 2 + seg_len]
        if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            return parse_exif(body[6:])
        pos += 2 + seg_len
    return None


# ---------------------------------------------------------------------------
# writer twin

def _packbits(row: bytes) -> bytes:
    """PackBits-encode one row (literal/repeat runs per TIFF 6.0 §9)."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        # find a repeat run of >= 3
        j = i
        while j + 1 < n and row[j + 1] == row[j] and j - i < 127:
            j += 1
        if j - i >= 2:  # repeat run [i..j]
            out += bytes([257 - (j - i + 1), row[i]])
            i = j + 1
            continue
        # literal run until the next >=3 repeat
        lit = i
        while (
            lit < n
            and lit - i < 128
            and not (
                lit + 2 < n and row[lit + 1] == row[lit] and row[lit + 2] == row[lit]
            )
        ):
            lit += 1
        out += bytes([lit - i - 1]) + row[i:lit]
        i = lit
    return bytes(out)


def encode_tiff(
    planes: np.ndarray,
    compression: int = 1,
    photometric: int | None = None,
    rows_per_strip: int | None = None,
    byte_order: str = "<",
) -> bytes:
    """Encode (h, w) gray / (h, w, 1) / (h, w, 3) uint8 pixels as a
    strip-organized TIFF — the writer twin. ``compression``: 1 (none),
    4 (CCITT G4 — input must be bilevel 0/255), 32773 (PackBits).
    ``photometric`` defaults to 1 (BlackIsZero) for gray, 2 for RGB;
    pass 0 to invert the wire sense. Compression 5 (LZW) always writes
    horizontal Predictor 2 — the real-crawl pairing. (The EXIF twin
    hand-rolls its two-IFD blob in sources/imagegen.py — EXIF needs a
    chained sub-IFD this single-IFD writer deliberately can't.)"""
    from .ccittcodec import encode_g4  # noqa: PLC0415

    px = np.asarray(planes, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    if px.ndim != 3 or px.shape[2] not in (1, 3):
        raise TiffError("planes must be (h,w), (h,w,1) or (h,w,3)")
    h, w, spp = px.shape
    if photometric is None:
        photometric = 2 if spp == 3 else 1
    if spp == 3 and photometric != 2:
        raise TiffError("3-sample TIFF must be photometric 2")
    rps = rows_per_strip or h
    bilevel = compression == 4
    if bilevel:
        if spp != 1 or not np.isin(px, (0, 255)).all():
            raise TiffError("G4 needs bilevel 0/255 single-sample input")

    strips: list[bytes] = []
    for y0 in range(0, h, rps):
        chunk = px[y0 : y0 + rps]
        if bilevel:
            # wire bit 1 = black ink for MMR regardless of photometric
            ink = (chunk[:, :, 0] == 0).astype(np.uint8)
            strips.append(encode_g4(ink))
        else:
            body = chunk if photometric != 0 else 255 - chunk
            if compression == 5:  # predictor 2 then LZW
                body = np.diff(
                    body.astype(np.int16), axis=1,
                    prepend=np.zeros((body.shape[0], 1, body.shape[2]), np.int16),
                ).astype(np.uint8)
            raw = body.tobytes()
            if compression == 32773:
                row_len = w * spp
                strips.append(
                    b"".join(
                        _packbits(raw[i : i + row_len])
                        for i in range(0, len(raw), row_len)
                    )
                )
            elif compression == 5:
                from ..sources.pdfgen import lzw_encode  # noqa: PLC0415

                strips.append(lzw_encode(raw))
            elif compression == 1:
                strips.append(raw)
            else:
                raise TiffError(f"unsupported encode compression {compression}")

    bo = byte_order
    bits = (1,) * 1 if bilevel else (8,) * spp
    entries: dict[int, tuple[int, tuple]] = {
        _T_WIDTH: (4, (w,)),
        _T_HEIGHT: (4, (h,)),
        _T_BITS: (3, bits),
        _T_COMPRESSION: (3, (compression,)),
        _T_PHOTOMETRIC: (3, (photometric,)),
        _T_SAMPLES_PER_PIXEL: (3, (spp,)),
        _T_ROWS_PER_STRIP: (4, (rps,)),
    }
    if compression == 5:
        entries[_T_PREDICTOR] = (3, (2,))
    # layout: header(8) + IFD + values + strips
    n_entries = len(entries) + 2  # + StripOffsets + StripByteCounts
    ifd_off = 8
    ifd_size = 2 + 12 * n_entries + 4
    val_off = ifd_off + ifd_size
    fmt_of = {1: "B", 2: "s", 3: "H", 4: "I", 5: "II"}

    # serialize out-of-line values first to learn offsets
    val_blob = bytearray()
    serialized: list[tuple[int, int, int, bytes]] = []  # tag,type,count,inline4

    def add_entry(tag: int, ftype: int, values: tuple):
        nonlocal val_blob
        if ftype == 2:
            raw = values[0].encode("ascii") + b"\x00"
            count = len(raw)
        elif ftype == 5:
            raw = b"".join(
                struct.pack(bo + "II", n_, d_) for n_, d_ in values
            )
            count = len(values)
        else:
            raw = struct.pack(bo + fmt_of[ftype] * len(values), *values)
            count = len(values)
        if len(raw) <= 4:
            inline = raw + b"\x00" * (4 - len(raw))
        else:
            inline = struct.pack(bo + "I", val_off + len(val_blob))
            val_blob += raw + (b"\x00" if len(raw) & 1 else b"")
        serialized.append((tag, ftype, count, inline))

    strip_sizes = [len(s) for s in strips]
    for tag in sorted(entries):
        add_entry(tag, entries[tag][0], entries[tag][1])
    # placeholders: strip offsets resolve after val_blob is final
    add_entry(_T_STRIP_COUNTS, 4, tuple(strip_sizes))
    n_off_bytes = 4 * len(strips)
    if n_off_bytes <= 4:
        strip_off_inline = True
    else:
        strip_off_inline = False
        strip_off_pos = val_off + len(val_blob)
        val_blob += b"\x00" * n_off_bytes
    data_off = val_off + len(val_blob)
    offsets = []
    acc = data_off
    for sz in strip_sizes:
        offsets.append(acc)
        acc += sz + (sz & 1)
    if strip_off_inline:
        inline = struct.pack(bo + "I" * len(offsets), *offsets)
        inline += b"\x00" * (4 - len(inline))
        serialized.append((_T_STRIP_OFFSETS, 4, len(offsets), inline))
    else:
        struct.pack_into(
            bo + "I" * len(offsets), val_blob, strip_off_pos - val_off, *offsets
        )
        serialized.append(
            (_T_STRIP_OFFSETS, 4, len(offsets),
             struct.pack(bo + "I", strip_off_pos))
        )

    serialized.sort(key=lambda e: e[0])  # IFD entries must be tag-ordered
    out = bytearray()
    out += (b"II" if bo == "<" else b"MM") + struct.pack(bo + "HI", 42, ifd_off)
    out += struct.pack(bo + "H", len(serialized))
    for tag, ftype, count, inline in serialized:
        out += struct.pack(bo + "HHI", tag, ftype, count) + inline
    out += struct.pack(bo + "I", 0)  # no next IFD
    out += val_blob
    for s in strips:
        out += s + (b"\x00" if len(s) & 1 else b"")
    return bytes(out)
