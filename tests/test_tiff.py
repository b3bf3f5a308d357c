"""TIFF 6.0 codec + EXIF walker (kernel/tiffcodec.py): roundtrips
across byte orders / photometrics / strips / compressions, typed
rejections, hostile budgets, the imagegen corpus twins behind q85/q86,
and the EXIF APP1 walk."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from sax_wasm_spark.kernel.tiffcodec import (
    TiffError,
    decode_tiff,
    encode_tiff,
    exif_from_jpeg,
    parse_exif,
)
from sax_wasm_spark.sources.imagegen import (
    build_jpeg_exif,
    build_tiff,
    exif_closed_fields,
    tiff_geometry,
    tiff_pixels,
)


def _rng():
    return np.random.RandomState(21)


class TestRoundtrip:
    @pytest.mark.parametrize("bo", ["<", ">"])
    def test_gray(self, bo):
        g = _rng().randint(0, 256, (13, 17)).astype(np.uint8)
        t = decode_tiff(encode_tiff(g, byte_order=bo))
        assert np.array_equal(t.planes[:, :, 0], g)
        assert (t.compression, t.photometric, t.n_components) == (1, 1, 1)

    def test_rgb_stripped(self):
        c = _rng().randint(0, 256, (20, 9, 3)).astype(np.uint8)
        t = decode_tiff(encode_tiff(c, byte_order=">", rows_per_strip=6))
        assert np.array_equal(t.planes, c) and t.n_components == 3

    def test_white_is_zero_inverts_wire(self):
        g = _rng().randint(0, 256, (7, 11)).astype(np.uint8)
        data = encode_tiff(g, photometric=0)
        assert np.array_equal(decode_tiff(data).planes[:, :, 0], g)
        # the wire bytes really are inverted (strip = last bytes)
        assert bytes(255 - g.reshape(-1)) in data

    @pytest.mark.parametrize("rps", [None, 4, 7])
    def test_packbits(self, rps):
        g = _rng().randint(0, 256, (13, 17)).astype(np.uint8)
        t = decode_tiff(encode_tiff(g, compression=32773, rows_per_strip=rps))
        assert np.array_equal(t.planes[:, :, 0], g)

    def test_packbits_long_runs(self):
        r = np.zeros((5, 300), np.uint8)
        r[:, 100:250] = 7
        t = decode_tiff(encode_tiff(r, compression=32773))
        assert np.array_equal(t.planes[:, :, 0], r)

    @pytest.mark.parametrize("photo", [0, 1])
    def test_g4_bilevel(self, photo):
        b = np.where(_rng().rand(16, 33) < 0.5, 0, 255).astype(np.uint8)
        t = decode_tiff(
            encode_tiff(b, compression=4, photometric=photo, rows_per_strip=7)
        )
        assert np.array_equal(t.planes[:, :, 0], b)
        assert t.compression == 4


class TestNegatives:
    def test_not_tiff(self):
        with pytest.raises(TiffError, match="byte order"):
            decode_tiff(b"\x89PNG\r\n\x1a\n")
        with pytest.raises(TiffError, match="magic"):
            decode_tiff(b"II\x2b\x00\x08\x00\x00\x00")  # BigTIFF = 43

    def test_hostile_dims(self):
        g = np.zeros((4, 4), np.uint8)
        data = bytearray(encode_tiff(g))
        # ImageWidth is the first IFD entry's inline value
        at = data.index(struct.pack("<HHI", 0x0100, 4, 1)) + 8
        struct.pack_into("<I", data, at, 1 << 20)
        with pytest.raises(TiffError, match="max_pixels"):
            decode_tiff(bytes(data), max_pixels=1 << 16)

    def test_unsupported_compression(self):
        data = bytearray(encode_tiff(np.zeros((4, 4), np.uint8)))
        at = data.index(struct.pack("<HHI", 0x0103, 3, 1)) + 8
        struct.pack_into("<H", data, at, 7)  # JPEG-in-TIFF
        with pytest.raises(TiffError, match="compression 7"):
            decode_tiff(bytes(data))

    def test_strip_out_of_range(self):
        data = bytearray(encode_tiff(np.zeros((4, 4), np.uint8)))
        at = data.index(struct.pack("<HHI", 0x0111, 4, 1)) + 8
        struct.pack_into("<I", data, at, 1 << 28)
        with pytest.raises(TiffError, match="out of range"):
            decode_tiff(bytes(data))

    def test_packbits_underflow(self):
        g = _rng().randint(0, 256, (6, 20)).astype(np.uint8)
        data = encode_tiff(g, compression=32773)
        with pytest.raises(TiffError):
            decode_tiff(data[:-10])

    def test_hostile_ifd_count(self):
        data = bytearray(encode_tiff(np.zeros((2, 2), np.uint8)))
        struct.pack_into("<H", data, 8, 60000)
        with pytest.raises(TiffError):
            decode_tiff(bytes(data))

    # bit 0 of these bytes is the low bit of a LONG entry's field type
    # (4 → 5): ImageWidth, ImageLength, StripOffsets, RowsPerStrip
    @pytest.mark.parametrize(
        "at, tag", [(12, 0x0100), (24, 0x0101), (72, 0x0111), (96, 0x0116)]
    )
    def test_rational_integer_tag_typed(self, at, tag):
        data = bytearray(build_tiff(0, 0))
        data[at] ^= 1
        with pytest.raises(TiffError, match=f"tag 0x{tag:04x} has non-integer"):
            decode_tiff(bytes(data))

    def test_rational_integer_tag_is_an_error_row(self, spark):
        """The same bit flip inside Spark: one ``error:`` row naming the
        tag, with the sniffed format kept, and the task survives."""
        from sax_wasm_spark.operators.multimodal import decode_image_stats

        data = bytearray(build_tiff(0, 0))
        data[12] ^= 1
        rows = [(0, 0, bytes(data)), (1, 0, build_tiff(1, 0))]
        df = spark.createDataFrame(rows, "doc_id long, img_idx int, img binary")
        got = {r.doc_id: r for r in decode_image_stats(df).collect()}
        assert got[0].status == "error:tag 0x0100 has non-integer field type 5"
        assert got[0].format == "tiff" and got[0].pixel_sum is None
        assert got[1].status == "ok"


class TestTiffTwin:
    @pytest.mark.parametrize("doc_id", [0, 1, 5, 42, 1003])
    def test_closed_forms(self, doc_id):
        for k in range(5):
            t = decode_tiff(build_tiff(doc_id, k))
            mode, w, h, nc = tiff_geometry(doc_id, k)
            assert (t.width, t.height, t.n_components) == (w, h, nc)
            assert np.array_equal(t.planes, tiff_pixels(doc_id, k)), (doc_id, k)
            assert t.compression == {0: 1, 1: 1, 2: 4, 3: 32773, 4: 5}[mode]

    def test_five_format_sniff(self, spark):
        """TIFF joins jpeg/png/gif/bmp in the ONE-column mixed decode."""
        from sax_wasm_spark.operators.multimodal import decode_image_stats
        from sax_wasm_spark.sources.imagegen import build_jpeg, build_png

        rows = [
            (0, 0, build_tiff(0, 0)),
            (1, 0, build_jpeg(1, 1)),
            (2, 0, build_png(2, 2)),
            (3, 0, build_tiff(3, 2)),  # G4 mode through the sniff
        ]
        df = spark.createDataFrame(rows, "doc_id long, img_idx int, img binary")
        got = {r.doc_id: r for r in decode_image_stats(df).collect()}
        assert got[0].format == "tiff" and got[0].status == "ok"
        assert got[1].format == "jpeg" and got[2].format == "png"
        assert got[3].format == "tiff"
        px = tiff_pixels(3, 2).astype(np.int64)
        assert got[3].pixel_sum == int(px.sum())


class TestExif:
    @pytest.mark.parametrize("doc_id", [0, 1, 7, 100])
    def test_twin_closed_forms(self, doc_id):
        for k in range(3):  # k parity flips the byte order
            got = exif_from_jpeg(build_jpeg_exif(doc_id, k))
            assert got == exif_closed_fields(doc_id, k), (doc_id, k)

    def test_no_exif_is_none(self):
        from sax_wasm_spark.sources.imagegen import build_jpeg

        assert exif_from_jpeg(build_jpeg(5, 1)) is None

    def test_not_jpeg_typed(self):
        with pytest.raises(TiffError, match="JPEG"):
            exif_from_jpeg(b"II*\x00 not a jpeg")

    def test_truncated_exif_blob_typed(self):
        data = build_jpeg_exif(3, 0)
        at = data.index(b"Exif\x00\x00") + 6
        with pytest.raises(TiffError):
            parse_exif(data[at : at + 10])

    def test_rational_is_exact_wire_string(self):
        got = exif_from_jpeg(build_jpeg_exif(9, 1))
        num, den = got["exposure"].split("/")
        assert int(num) == 1 and int(den) % 8 == 0


class TestLzw:
    """Compression 5 (TIFF LZW, the PDF engine reused) + Predictor 2."""

    @pytest.mark.parametrize("bo,rps", [("<", None), (">", 5)])
    def test_roundtrip(self, bo, rps):
        g = _rng().randint(0, 256, (13, 17)).astype(np.uint8)
        t = decode_tiff(
            encode_tiff(g, compression=5, byte_order=bo, rows_per_strip=rps)
        )
        assert np.array_equal(t.planes[:, :, 0], g) and t.compression == 5

    def test_rgb_predictor_per_channel(self):
        c = _rng().randint(0, 256, (9, 6, 3)).astype(np.uint8)
        t = decode_tiff(encode_tiff(c, compression=5))
        assert np.array_equal(t.planes, c)

    def test_predictor_compresses_gradients(self):
        grad = np.tile(np.arange(200, dtype=np.uint8), (50, 1))
        enc = encode_tiff(grad, compression=5)
        assert len(enc) < grad.size // 3  # differencing makes LZW bite
        assert np.array_equal(decode_tiff(enc).planes[:, :, 0], grad)

    def test_lzw_underflow_typed(self):
        g = _rng().randint(0, 256, (8, 8)).astype(np.uint8)
        data = bytearray(encode_tiff(g, compression=5))
        # shrink the single strip's byte count: decode yields too few
        at = data.index(struct.pack("<HHI", 0x0117, 4, 1)) + 8
        (cnt,) = struct.unpack_from("<I", data, at)
        struct.pack_into("<I", data, at, cnt // 2)
        with pytest.raises(TiffError):
            decode_tiff(bytes(data))


class TestReviewFixes:
    """Second round-7 review pass findings, pinned."""

    def test_default_bits_per_sample(self):
        """A spec-valid bilevel TIFF may OMIT BitsPerSample (default 1)
        — must decode, and must raise TiffError (not TypeError) deeper."""
        b = np.where(_rng().rand(8, 16) < 0.5, 0, 255).astype(np.uint8)
        data = bytearray(encode_tiff(b, compression=4, photometric=0))
        # retag the BitsPerSample entry to an unknown private tag so
        # the walker ignores it (absolute offsets stay intact)
        at = data.index(struct.pack("<HH", 0x0102, 3))
        struct.pack_into("<H", data, at, 0x9999)
        t = decode_tiff(bytes(data))
        assert np.array_equal(t.planes[:, :, 0], b)

    def test_truncated_exif_header_typed(self):
        with pytest.raises(TiffError, match="truncated"):
            parse_exif(b"II")

    def test_jpeg_fill_bytes_tolerated(self):
        """T.81 permits 0xFF fill bytes before markers — EXIF must
        still be found."""
        data = build_jpeg_exif(4, 0)
        spliced = data[:2] + b"\xff" + data[2:]  # fill before APP1
        assert exif_from_jpeg(spliced) == exif_closed_fields(4, 0)

    def test_lzw_expansion_capped(self):
        """A strip whose LZW stream inflates past the declared pixel
        volume dies with a typed error DURING decode."""
        g = _rng().randint(0, 256, (20, 100)).astype(np.uint8)
        data = bytearray(encode_tiff(g, compression=5))
        # shrink the claimed height so the expected output is tiny
        at = data.index(struct.pack("<HHI", 0x0101, 4, 1)) + 8
        struct.pack_into("<I", data, at, 2)
        with pytest.raises(TiffError):
            decode_tiff(bytes(data))

    def test_exif_hostile_types_degrade(self, spark):
        """A RATIONAL orientation must become an error-free NULL, not
        an Arrow batch failure."""
        import struct as _s

        from sax_wasm_spark.operators.multimodal import extract_exif

        data = bytearray(build_jpeg_exif(6, 0))  # little-endian EXIF
        at = data.index(_s.pack("<HH", 0x0112, 3))
        _s.pack_into("<HH", data, at, 0x0112, 5)  # orientation → RATIONAL
        rows = [(0, 0, bytes(data)), (1, 0, build_jpeg_exif(7, 0))]
        df = spark.createDataFrame(rows, "doc_id long, img_idx int, jpeg binary")
        got = {r.doc_id: r for r in extract_exif(df).collect()}
        assert got[0].status == "ok" and got[0].orientation is None
        assert got[0].make == "Cam6"
        assert got[1].orientation == exif_closed_fields(7, 0)["orientation"]
