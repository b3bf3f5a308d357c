"""Baseline JPEG codec (ITU-T T.81) — from-scratch numpy encode + decode.

This closes the image-filter tier's DCT leg with REAL pixel decode: a
baseline sequential (SOF0/SOF1) decoder — DQT (8/16-bit), DHT canonical
Huffman, interleaved single-scan entropy decode with byte unstuffing and
RSTn resync, dequantize, de-zigzag, float IDCT, chroma upsample — plus
an encoder twin so deterministic pixel corpora round-trip without any
external codec (Pillow/libjpeg are absent in this environment; the
reference repo has no image surface at all — sax-wasm is an XML
tokenizer, `/root/reference/src/sax/parser.rs:1` — this tier belongs to
the assignment's multimodal/training-data scope).

Design constraints, chosen for the 100-TB corpus shape:

- **Decode is per-row CPU work with zero shuffle** — the operator layer
  runs it inside mapInPandas/mapInArrow batches; nothing here touches
  Spark.
- **Hostile-input budget**: dimensions are capped (default 16 MPx, the
  ``max_pixels`` knob) and every malformed structure raises a typed
  ``JpegError`` so a crawl shard dense in corrupt payloads degrades to
  ``status='error:*'`` rows instead of stragglers (same policy as the
  AESV3 KDF budget, kernel/pdftext.py).
- **Exactness contract**: with all-ones quantization tables a flat 8x8
  block round-trips bit-exactly (DC-only: FDCT DC = 8*(v-128) is an
  integer, IDCT of a DC-only block is a constant) — the property the
  closed-form SQL oracles (q70/q71) are built on. Arbitrary pixel
  content round-trips within +/-2 at quant=1 (coefficient rounding),
  pinned by tests.
- **Color**: ``decode_jpeg`` returns raw component planes (no implicit
  transform); ``decode_jpeg_rgb`` applies JFIF YCbCr->RGB unless an
  Adobe APP14 marker says transform=0 (RGB passthrough). The encoder
  takes planes as-is and can stamp the APP14 transform byte, so
  deterministic corpora stay in closed form end to end.

Encoder Huffman tables are fixed-length canonical constructions (DC:
twelve 4-bit codes, AC: 162 8-bit codes, the all-ones code unused per
Annex C) rather than a transcription of the Annex K example tables —
spec-valid, deliberately original, and byte-budget irrelevant for the
synthetic corpora this writes. The decoder reads whatever canonical
tables the stream declares, so it handles Annex-K-table files from real
crawls just the same.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


class JpegError(ValueError):
    """Typed failure for malformed/unsupported JPEG payloads — callers
    map it to an ``error:*`` status row, never a crash or a straggler."""


# ---------------------------------------------------------------------------
# shared constants

# T.81 Figure A.6 zig-zag ordering of the 8x8 coefficient grid.
_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
_UNZIGZAG = np.argsort(_ZIGZAG)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis: coeffs = C @ block @ C.T."""
    x = np.arange(8, dtype=np.float64)
    u = x.reshape(-1, 1)
    c = np.cos((2 * x + 1) * u * np.pi / 16) * 0.5
    c[0, :] *= 1 / np.sqrt(2.0)
    return c


_C = _dct_matrix()
_CT = _C.T

_MARKER_SOI = 0xD8
_MARKER_EOI = 0xD9
_MARKER_SOS = 0xDA
_MARKER_DQT = 0xDB
_MARKER_DHT = 0xC4
_MARKER_DRI = 0xDD
_SOF_BASELINE = {0xC0, 0xC1}  # baseline + extended sequential, Huffman
_SOF_ALL = {
    0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
    0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
}
_RST0 = 0xD0


# ---------------------------------------------------------------------------
# Huffman table plumbing


def _canonical_codes(bits: list[int], values: bytes) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the T.81 Annex C canonical order."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _HuffDecoder:
    """T.81 F.2.2.3 DECODE tables: mincode/maxcode/valptr per length."""

    __slots__ = ("mincode", "maxcode", "valptr", "values")

    def __init__(self, bits: list[int], values: bytes):
        if sum(bits) != len(values) or sum(bits) == 0:
            raise JpegError("DHT bits/values mismatch")
        self.values = values
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code = 0
        k = 0
        for length in range(1, 17):
            n = bits[length - 1]
            if n:
                self.valptr[length] = k
                self.mincode[length] = code
                code += n
                k += n
                self.maxcode[length] = code - 1
            else:
                self.maxcode[length] = -1
            code <<= 1
            if code > (1 << (length + 1)):
                raise JpegError("DHT overfull code table")


# Encoder tables: original fixed-length canonical constructions (not the
# Annex K examples). DC: 12 categories, all 4-bit codes (0b1111 unused).
_ENC_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_ENC_DC_VALUES = bytes(range(12))
# AC: EOB, ZRL and every (run 0..15, size 1..10) pair, all 8-bit codes
# (162 of 256; 0b11111111 unused).
_ENC_AC_VALUES = bytes(
    [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_ENC_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 162, 0, 0, 0, 0, 0, 0, 0, 0]
_ENC_DC_CODES = _canonical_codes(_ENC_DC_BITS, _ENC_DC_VALUES)
_ENC_AC_CODES = _canonical_codes(_ENC_AC_BITS, _ENC_AC_VALUES)


# ---------------------------------------------------------------------------
# bit IO


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # B.1.1.5 byte stuffing
                self.out.append(0x00)

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per F.1.2.3


class _BitReader:
    """Entropy-segment bit reader: unstuffs FF00, stops at any real
    marker, resyncs across RSTn on demand."""

    __slots__ = ("data", "pos", "acc", "nbits", "_at_marker")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self._at_marker = False

    def _fill(self) -> None:
        data = self.data
        if self._at_marker or self.pos >= len(data):
            # F.2.2.5: reading past the segment supplies 1-bits (a
            # truncated final block decodes rather than crashing).
            self.acc = (self.acc << 8) | 0xFF
            self.nbits += 8
            if not self._at_marker and self.pos >= len(data):
                raise JpegError("entropy data truncated")
            return
        b = data[self.pos]
        if b == 0xFF:
            nxt = data[self.pos + 1] if self.pos + 1 < len(data) else None
            if nxt == 0x00:
                self.pos += 2
            elif nxt == 0xFF:
                self.pos += 1  # fill byte
                self._fill()
                return
            else:
                self._at_marker = True  # leave marker for the caller
                self._fill()
                return
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def decode(self, tbl: _HuffDecoder) -> int:
        # Fast path (optimization r8): with >=16 buffered bits the whole
        # code resolves from the accumulator without per-bit fill calls.
        # Top-up only while real bytes remain so the end-of-segment
        # 1-bit-fill/truncation semantics stay byte-for-byte those of
        # the bit-at-a-time path below.
        nbits = self.nbits
        if nbits < 16 and not self._at_marker:
            data, n = self.data, len(self.data)
            pos, acc = self.pos, self.acc
            while nbits < 16 and pos < n:
                b = data[pos]
                if b == 0xFF:
                    nxt = data[pos + 1] if pos + 1 < n else None
                    if nxt == 0x00:
                        pos += 2
                    elif nxt == 0xFF:
                        pos += 1
                        continue
                    else:
                        self._at_marker = True
                        break
                else:
                    pos += 1
                acc = (acc << 8) | b
                nbits += 8
            self.pos, self.acc, self.nbits = pos, acc, nbits
        if nbits >= 16:
            acc = self.acc
            maxcode = tbl.maxcode
            length = 1
            code = (acc >> (nbits - 1)) & 1
            while code > maxcode[length]:
                length += 1
                if length > 16:
                    raise JpegError("invalid Huffman code")
                code = (acc >> (nbits - length)) & ((1 << length) - 1)
            self.nbits = nbits - length
            self.acc = acc & ((1 << self.nbits) - 1)
            return tbl.values[tbl.valptr[length] + code - tbl.mincode[length]]
        code = self.bits(1)
        length = 1
        while code > tbl.maxcode[length]:
            length += 1
            if length > 16:
                raise JpegError("invalid Huffman code")
            code = (code << 1) | self.bits(1)
        return tbl.values[tbl.valptr[length] + code - tbl.mincode[length]]

    def restart(self) -> None:
        """Consume an RSTn marker and reset bit alignment (E.2.4)."""
        self.acc = 0
        self.nbits = 0
        self._at_marker = False
        data = self.data
        pos = self.pos
        while pos + 1 < len(data):
            if data[pos] == 0xFF and data[pos + 1] != 0x00:
                if _RST0 <= data[pos + 1] < _RST0 + 8:
                    self.pos = pos + 2
                    return
                break
            pos += 1
        raise JpegError("missing restart marker")

    def marker_pos(self) -> int:
        """Byte offset of the next marker after the entropy segment."""
        data = self.data
        pos = self.pos
        while pos + 1 < len(data):
            if data[pos] == 0xFF and data[pos + 1] not in (0x00, 0xFF):
                return pos
            pos += 1
        return len(data)


# ---------------------------------------------------------------------------
# encode


def _magnitude(v: int) -> tuple[int, int]:
    """(ssss category, raw bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = v if v > 0 else -v
    ssss = a.bit_length()
    raw = v if v > 0 else v + (1 << ssss) - 1
    return ssss, raw


def _pad_to(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    h, w = plane.shape
    ph = (bh - h % bh) % bh
    pw = (bw - w % bw) % bw
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


def _encode_block(
    zz, pred: int, bw: _BitWriter, last: int | None = None
) -> int:
    """Entropy-code one zig-zag block. ``zz`` is a plain int sequence
    (optimization r8: per-element numpy access dominated the encoder);
    ``last`` is the index of the final nonzero AC coefficient (0 when
    all-zero), precomputed batched by the caller when available."""
    dc = int(zz[0])
    ssss, raw = _magnitude(dc - pred)
    code, ln = _ENC_DC_CODES[ssss]
    bw.put(code, ln)
    if ssss:
        bw.put(raw, ssss)
    if last is None:
        last = 0
        for k in range(63, 0, -1):
            if zz[k]:
                last = k
                break
    run = 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = _ENC_AC_CODES[0xF0]  # ZRL
            bw.put(code, ln)
            run -= 16
        ssss, raw = _magnitude(v)
        if ssss > 10:
            raise JpegError("coefficient magnitude exceeds baseline range")
        code, ln = _ENC_AC_CODES[(run << 4) | ssss]
        bw.put(code, ln)
        bw.put(raw, ssss)
        run = 0
    if last < 63:
        code, ln = _ENC_AC_CODES[0x00]  # EOB
        bw.put(code, ln)
    return dc


def encode_jpeg(
    pixels: np.ndarray,
    quant: np.ndarray | None = None,
    subsampling: str = "444",
    restart_interval: int = 0,
    adobe_transform: int | None = None,
) -> bytes:
    """Encode uint8 pixels (h,w) or (h,w,c∈{1,3}) as baseline JPEG.

    Component planes are encoded as given — no color transform (use
    ``rgb_to_ycbcr`` first for photographic content; deterministic
    corpora skip it so their closed forms survive). ``subsampling``:
    ``"444"`` or ``"420"`` (3-component only; chroma is 2x2
    box-averaged). ``quant``: 64 ints in zig-zag order applied to every
    component (default all-ones = max fidelity). ``adobe_transform``
    stamps an APP14 marker so decoders know whether planes are RGB (0)
    or YCbCr (1)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    if px.ndim != 3 or px.shape[2] not in (1, 3):
        raise JpegError("pixels must be (h,w) or (h,w,c) with c in {1,3}")
    h, w, ncomp = px.shape
    if not (0 < w <= 65535 and 0 < h <= 65535):
        raise JpegError("dimensions out of range")
    if subsampling not in ("444", "420"):
        raise JpegError("subsampling must be '444' or '420'")
    sub = subsampling == "420" and ncomp == 3
    qtab = (
        np.ones(64, dtype=np.int64)
        if quant is None
        else np.asarray(quant, dtype=np.int64).reshape(64)
    )
    if (qtab < 1).any() or (qtab > 255).any():
        raise JpegError("quant values must be 1..255")
    # spatial-order table for the FDCT divide
    qspat = np.empty(64, dtype=np.int64)
    qspat[_ZIGZAG] = qtab

    # component plane prep
    planes: list[np.ndarray] = []
    samp: list[tuple[int, int]] = []
    for c in range(ncomp):
        plane = px[:, :, c].astype(np.float64)
        if sub and c > 0:
            pe = _pad_to(plane, 2, 2)
            plane = pe.reshape(pe.shape[0] // 2, 2, pe.shape[1] // 2, 2).mean(
                axis=(1, 3)
            )
            samp.append((1, 1))
        else:
            samp.append((2, 2) if sub else (1, 1))
        planes.append(plane)
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcu_w = 8 * hmax
    mcu_h = 8 * vmax
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h
    padded = [
        _pad_to(planes[c], mcus_y * samp[c][1] * 8, mcus_x * samp[c][0] * 8)
        for c in range(ncomp)
    ]

    # headers
    out = bytearray(b"\xff\xd8")
    if adobe_transform is not None:
        body = b"Adobe" + bytes((0, 100, 0, 0, 0, 0, adobe_transform & 0xFF))
        out += b"\xff\xee" + (2 + len(body)).to_bytes(2, "big") + body
    ntab = 2 if ncomp == 3 else 1
    for t in range(ntab):
        out += b"\xff\xdb" + (2 + 1 + 64).to_bytes(2, "big") + bytes((t,))
        out += bytes(int(v) for v in qtab)
    for cls, bits, values in (
        (0, _ENC_DC_BITS, _ENC_DC_VALUES),
        (1, _ENC_AC_BITS, _ENC_AC_VALUES),
    ):
        seg = bytes(((cls << 4) | 0,)) + bytes(bits) + values
        out += b"\xff\xc4" + (2 + len(seg)).to_bytes(2, "big") + seg
    if restart_interval:
        out += b"\xff\xdd\x00\x04" + restart_interval.to_bytes(2, "big")
    sof = bytes((8,)) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += bytes((ncomp,))
    for c in range(ncomp):
        tq = 0 if c == 0 or ncomp == 1 else 1
        sof += bytes((c + 1, (samp[c][0] << 4) | samp[c][1], tq))
    out += b"\xff\xc0" + (2 + len(sof)).to_bytes(2, "big") + sof
    sos = bytes((ncomp,))
    for c in range(ncomp):
        sos += bytes((c + 1, 0x00))  # DC table 0 / AC table 0 for all
    sos += bytes((0, 63, 0))
    out += b"\xff\xda" + (2 + len(sos)).to_bytes(2, "big") + sos

    # entropy-coded segment. The FDCT+quantize runs BATCHED over every
    # block first (optimization r8, guide §4.2): per-component blocks
    # extract via one reshape/transpose, the DCT is two broadcasted
    # (8,8) matmuls over the whole stack — numerically identical to the
    # per-block `_C @ block @ _CT` (same dgemm per item) — and the
    # entropy loop then walks plain Python ints in the original MCU
    # order. Output bytes are bit-identical to the per-block path.
    comp_zz = []  # per component: (mcus_y, mcus_x, vs, hs, 64) int lists
    comp_last = []
    for c in range(ncomp):
        hs, vs = samp[c]
        p = padded[c]
        # (my, by, 8, mx, bx, 8) -> (my, mx, by, bx, 8, 8)
        blocks = (
            p.reshape(mcus_y * vs, 8, mcus_x * hs, 8)
            .transpose(0, 2, 1, 3)
            .reshape(mcus_y, vs, mcus_x, hs, 8, 8)
            .transpose(0, 2, 1, 3, 4, 5)
            .reshape(-1, 8, 8)
        )
        coeffs = np.matmul(np.matmul(_C, blocks - 128.0), _CT)
        zzs = np.round(coeffs.reshape(-1, 64) / qspat).astype(np.int64)[:, _ZIGZAG]
        nzmask = zzs[:, 1:] != 0
        has_ac = nzmask.any(axis=1)
        lasts = np.where(has_ac, 63 - np.argmax(nzmask[:, ::-1], axis=1), 0)
        # DC-only blocks (the overwhelming majority on flat content)
        # take an inline DC+EOB path below; only blocks WITH AC
        # coefficients materialize a python list
        comp_zz.append(
            (zzs[:, 0].tolist(), {int(i): zzs[i].tolist() for i in np.nonzero(lasts)[0]})
        )
        comp_last.append(lasts.tolist())
    bw = _BitWriter()
    preds = [0] * ncomp
    mcu_count = 0
    rst = 0
    blocks_per_mcu = [samp[c][0] * samp[c][1] for c in range(ncomp)]
    eob_code, eob_len = _ENC_AC_CODES[0x00]
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.flush()
                out += bw.out
                out += bytes((0xFF, _RST0 + rst))
                rst = (rst + 1) % 8
                bw = _BitWriter()
                preds = [0] * ncomp
            for c in range(ncomp):
                base = (my * mcus_x + mx) * blocks_per_mcu[c]
                dcs_c, ac_rows = comp_zz[c]
                lastc = comp_last[c]
                for b in range(blocks_per_mcu[c]):
                    idx = base + b
                    last = lastc[idx]
                    if last:
                        preds[c] = _encode_block(
                            ac_rows[idx], preds[c], bw, last
                        )
                    else:
                        # inline _encode_block for the DC-only case —
                        # identical bit output (DC code + raw + EOB)
                        dc = dcs_c[idx]
                        ssss, raw = _magnitude(dc - preds[c])
                        code, ln = _ENC_DC_CODES[ssss]
                        bw.put(code, ln)
                        if ssss:
                            bw.put(raw, ssss)
                        bw.put(eob_code, eob_len)
                        preds[c] = dc
            mcu_count += 1
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# decode


@dataclass
class JpegImage:
    """Decoded component planes (chroma upsampled, NO color transform)
    plus the stream facts a pipeline routes on."""

    planes: np.ndarray  # uint8 (h, w, ncomp)
    width: int
    height: int
    n_components: int
    adobe_transform: int | None  # APP14 byte, None when absent
    jfif: bool
    restart_interval: int


def decode_jpeg(data: bytes, max_pixels: int = 1 << 24) -> JpegImage:
    """Decode a baseline JPEG to raw component planes.

    Supports baseline/extended sequential Huffman (SOF0/SOF1), one
    interleaved scan, 8-bit precision, 8/16-bit DQT, restart markers,
    sampling factors up to 2x2 (4:4:4, 4:2:2, 4:2:0, 4:4:0). Raises
    ``JpegError`` on anything else — progressive (SOF2), arithmetic
    coding, hierarchical, 12-bit — naming the unsupported feature.
    ``max_pixels`` bounds hostile dimension claims before any allocation
    (the straggler budget; error rows, not OOM)."""
    n = len(data)
    if n < 4 or data[0] != 0xFF or data[1] != _MARKER_SOI:
        raise JpegError("not a JPEG (missing SOI)")
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], _HuffDecoder] = {}
    restart_interval = 0
    adobe_transform: int | None = None
    jfif = False
    frame = None  # (h, w, [(cid, hs, vs, tq)])
    i = 2
    while i + 1 < n:
        if data[i] != 0xFF:
            raise JpegError("marker desync")
        while i + 1 < n and data[i + 1] == 0xFF:
            i += 1
        if i + 1 >= n:
            raise JpegError("truncated at marker")
        marker = data[i + 1]
        i += 2
        if marker == _MARKER_EOI:
            raise JpegError("EOI before SOS")
        if _RST0 <= marker < _RST0 + 8 or marker == 0x01:
            continue
        if i + 1 >= n:
            raise JpegError("truncated segment length")
        seg_len = (data[i] << 8) | data[i + 1]
        if seg_len < 2 or i + seg_len > n:
            raise JpegError("bad segment length")
        seg = data[i + 2 : i + seg_len]
        if marker == _MARKER_DQT:
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                width = 128 if pq else 64
                if p + width > len(seg):
                    raise JpegError("truncated DQT")
                if pq:
                    tbl = np.frombuffer(seg[p : p + 128], dtype=">u2").astype(
                        np.int64
                    )
                else:
                    tbl = np.frombuffer(seg[p : p + 64], dtype=np.uint8).astype(
                        np.int64
                    )
                qtables[tq] = tbl
                p += width
        elif marker == _MARKER_DHT:
            p = 0
            while p + 17 <= len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                if p + 17 + nv > len(seg):
                    raise JpegError("truncated DHT")
                htables[(tc, th)] = _HuffDecoder(bits, seg[p + 17 : p + 17 + nv])
                p += 17 + nv
            if p != len(seg):
                raise JpegError("trailing DHT bytes")
        elif marker == _MARKER_DRI:
            if len(seg) < 2:
                raise JpegError("truncated DRI")
            restart_interval = (seg[0] << 8) | seg[1]
        elif marker == 0xEE and seg[:5] == b"Adobe" and len(seg) >= 12:
            adobe_transform = seg[11]
        elif marker == 0xE0 and seg[:5] == b"JFIF\x00":
            jfif = True
        elif marker in _SOF_ALL:
            if marker not in _SOF_BASELINE:
                kind = "progressive" if marker in (0xC2, 0xC6, 0xCA, 0xCE) else (
                    "arithmetic-coded" if marker >= 0xC9 else "lossless/hierarchical"
                )
                raise JpegError(f"unsupported JPEG frame type: {kind}")
            if len(seg) < 6:
                raise JpegError("truncated SOF")
            prec = seg[0]
            if prec != 8:
                raise JpegError(f"unsupported precision {prec}")
            fh = (seg[1] << 8) | seg[2]
            fw = (seg[3] << 8) | seg[4]
            nc = seg[5]
            if nc not in (1, 2, 3, 4) or len(seg) < 6 + 3 * nc:
                raise JpegError("bad SOF component count")
            if fw * fh == 0 or fw * fh > max_pixels:
                raise JpegError("dimensions exceed pixel budget")
            comps = []
            for c in range(nc):
                cid = seg[6 + 3 * c]
                hv = seg[7 + 3 * c]
                hs, vs = hv >> 4, hv & 0xF
                if not (1 <= hs <= 4 and 1 <= vs <= 4):
                    raise JpegError("bad sampling factors")
                comps.append((cid, hs, vs, seg[8 + 3 * c]))
            frame = (fh, fw, comps)
        elif marker == _MARKER_SOS:
            if frame is None:
                raise JpegError("SOS before SOF")
            return _decode_scan(
                data,
                i + seg_len,
                seg,
                frame,
                qtables,
                htables,
                restart_interval,
                adobe_transform,
                jfif,
            )
        i += seg_len
    raise JpegError("no SOS marker")


def _decode_scan(
    data: bytes,
    pos: int,
    seg: bytes,
    frame,
    qtables,
    htables,
    restart_interval: int,
    adobe_transform,
    jfif: bool,
) -> JpegImage:
    fh, fw, comps = frame
    if len(seg) < 1:
        raise JpegError("truncated SOS")
    ns = seg[0]
    if ns != len(comps):
        raise JpegError("non-interleaved multi-scan JPEG unsupported")
    if len(seg) < 1 + 2 * ns + 3:
        raise JpegError("truncated SOS header")
    scan_tables = []
    by_id = {c[0]: c for c in comps}
    order = []
    for s in range(ns):
        cid = seg[1 + 2 * s]
        tdta = seg[2 + 2 * s]
        if cid not in by_id:
            raise JpegError("SOS references unknown component")
        order.append(by_id[cid])
        scan_tables.append((tdta >> 4, tdta & 0xF))
    ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
    if ss != 0 or se != 63:
        raise JpegError("spectral selection in sequential scan")

    hmax = max(c[1] for c in order)
    vmax = max(c[2] for c in order)
    mcus_x = (fw + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (fh + 8 * vmax - 1) // (8 * vmax)

    quants = []
    dct_tabs = []
    act_tabs = []
    for (cid, hs, vs, tq), (td, ta) in zip(order, scan_tables):
        if tq not in qtables:
            raise JpegError(f"missing DQT table {tq}")
        if (0, td) not in htables or (1, ta) not in htables:
            raise JpegError("missing DHT table")
        quants.append(qtables[tq])
        dct_tabs.append(htables[(0, td)])
        act_tabs.append(htables[(1, ta)])

    # Entropy-decode every block into plain Python int lists first, then
    # run the dequantize+IDCT BATCHED per component (optimization r8,
    # guide §4.2): two broadcasted (8,8) matmuls over the block stack
    # are numerically identical to the per-block `_CT @ coeffs @ _C`
    # (same dgemm per item), and the stack scatters back to the plane
    # with one transpose/reshape. Bit-exact vs the per-block path.
    br = _BitReader(data, pos)
    preds = [0] * ns
    mcu_count = 0
    total = mcus_y * mcus_x
    # sparse per-block capture: the DC coefficient always, AC (k, v)
    # pairs only when present — most blocks of real-and-corpus scans
    # end at EOB immediately, so the dense [0]*64 list per block was
    # allocation overhead
    comp_dc: list[list[int]] = [[] for _ in range(ns)]
    comp_ac: list[list] = [[] for _ in range(ns)]
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                br.restart()
                preds = [0] * ns
            for c in range(ns):
                _cid, hs, vs, _tq = order[c]
                dtab, atab = dct_tabs[c], act_tabs[c]
                dcs_c = comp_dc[c]
                acs_c = comp_ac[c]
                for _b in range(vs * hs):
                    ssss = br.decode(dtab)
                    if ssss > 11:
                        raise JpegError("DC category out of range")
                    diff = _extend(br.bits(ssss), ssss) if ssss else 0
                    preds[c] += diff
                    dcs_c.append(preds[c])
                    ac = None
                    k = 1
                    while k < 64:
                        rs = br.decode(atab)
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise JpegError("AC run past block end")
                        if ac is None:
                            ac = []
                        ac.append((k, _extend(br.bits(s), s)))
                        k += 1
                    acs_c.append(ac)
            mcu_count += 1
    if mcu_count != total:
        raise JpegError("scan ended early")

    out = np.empty((fh, fw, ns), dtype=np.uint8)
    for c in range(ns):
        _cid, hs, vs, _tq = order[c]
        zzs = np.zeros((len(comp_dc[c]), 64), dtype=np.int64)  # (n, 64) zig-zag
        zzs[:, 0] = comp_dc[c]
        for i, ac in enumerate(comp_ac[c]):
            if ac:
                for k, v in ac:
                    zzs[i, k] = v
        coeffs = (zzs * quants[c])[:, _UNZIGZAG].reshape(-1, 8, 8).astype(np.float64)
        blocks = np.matmul(np.matmul(_CT, coeffs), _C) + 128.0
        # (my, mx, by, bx, 8, 8) -> (my, by, 8, mx, bx, 8) -> plane
        plane = (
            blocks.reshape(mcus_y, mcus_x, vs, hs, 8, 8)
            .transpose(0, 2, 4, 1, 3, 5)
            .reshape(mcus_y * vs * 8, mcus_x * hs * 8)
        )
        plane = np.clip(np.round(plane), 0, 255).astype(np.uint8)
        if hs != hmax or vs != vmax:
            plane = np.repeat(np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1)
        out[:, :, c] = plane[:fh, :fw]
    return JpegImage(
        planes=out,
        width=fw,
        height=fh,
        n_components=ns,
        adobe_transform=adobe_transform,
        jfif=jfif,
        restart_interval=restart_interval,
    )


def _extend(v: int, ssss: int) -> int:
    """T.81 F.2.2.1 EXTEND: map received bits to a signed value."""
    if ssss == 0:
        return 0
    if v < (1 << (ssss - 1)):
        return v - (1 << ssss) + 1
    return v


# ---------------------------------------------------------------------------
# color transforms (JFIF full-range, BT.601 coefficients)


def ycbcr_to_rgb(planes: np.ndarray) -> np.ndarray:
    """(h,w,3) YCbCr uint8 → RGB uint8 (JFIF full-range)."""
    f = planes.astype(np.float64)
    y, cb, cr = f[:, :, 0], f[:, :, 1] - 128.0, f[:, :, 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255).astype(np.uint8)


def rgb_to_ycbcr(planes: np.ndarray) -> np.ndarray:
    """(h,w,3) RGB uint8 → YCbCr uint8 (JFIF full-range)."""
    f = planes.astype(np.float64)
    r, g, b = f[:, :, 0], f[:, :, 1], f[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.clip(np.round(np.stack([y, cb, cr], axis=2)), 0, 255).astype(np.uint8)


def decode_jpeg_rgb(data: bytes, max_pixels: int = 1 << 24) -> JpegImage:
    """Decode + color-resolve: 3-component streams convert YCbCr→RGB
    unless an Adobe APP14 marker declares transform=0 (RGB passthrough);
    1-component streams pass through. The returned ``planes`` are then
    display-ready."""
    img = decode_jpeg(data, max_pixels=max_pixels)
    if img.n_components == 3 and img.adobe_transform != 0:
        img.planes = ycbcr_to_rgb(img.planes)
    return img
