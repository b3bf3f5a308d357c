"""PDF text/layout extraction as a DataFrame operator.

The north rule's extraction pipeline covers "HTML boilerplate strip,
PDF/layout parse, DOM heuristics"; this module is the PDF leg, layered
on the from-scratch parser in :mod:`sax_wasm_spark.kernel.pdftext` the
same way operators/extract.py layers on the SAX kernel:

* CPU-bound pure-Python work runs inside ``mapInArrow`` through
  :func:`.rows.map_rows` (no pandas object-dtype intermediate), so it scales with
  executor cores exactly like the HTML extract stage and inherits the
  same repartition-before-Python guidance (see queries._wrapped_docs).
* Poison documents (truncated files, unsupported filters, non-PDFs)
  produce a per-row ``status='error:<Type>'`` instead of failing the
  task — at 10^12 documents some WILL be malformed.

``render_pdf_column`` is the synthesis twin (sources/pdfgen.py) used by
tests and the oracle query to materialize a deterministic PDF corpus
from the documents table at small scale; no external data is read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
)

from ..kernel.pdftext import PdfDocument, _runs_from_content
from .rows import map_rows

PDF_EXTRACT_FIELDS = [
    StructField("text", StringType(), True),
    StructField("n_pages", IntegerType(), False),
    StructField("n_runs", IntegerType(), False),
    StructField("status", StringType(), False),
]


def extract_pdf_document(data: bytes) -> tuple[str | None, int, int, str]:
    """Single document → (text, n_pages, n_runs, status)."""
    from ..kernel.pdftext import _assemble  # noqa: PLC0415

    try:
        doc = PdfDocument(data)
        pages = doc.pages()
        texts = []
        n_runs = 0
        for page in pages:
            fonts = doc.page_fonts(page)
            xobjs = doc.page_xobjects(page)
            runs = _runs_from_content(doc.page_content(page), fonts, xobjs)
            n_runs += len(runs)
            texts.append(_assemble(runs))
        return "\n".join(texts), len(pages), n_runs, "ok"
    except Exception as e:  # defensive: poison docs must not kill the task
        return None, 0, 0, f"error:{type(e).__name__}"


def extract_pdf(
    df: DataFrame, pdf_col: str = "pdf", id_cols: tuple[str, ...] = ("url",)
) -> DataFrame:
    """pages(id…, pdf:binary) → (id…, text, n_pages, n_runs, status)."""
    return map_rows(
        df,
        lambda data: [extract_pdf_document(data if data is not None else b"")],
        [pdf_col],
        PDF_EXTRACT_FIELDS,
        id_cols,
    )


PDF_IMAGE_FIELDS = [
    StructField("page_idx", IntegerType(), False),
    StructField("img_name", StringType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("bpc", IntegerType(), False),
    StructField("filter", StringType(), False),
    StructField("colorspace", StringType(), False),
    StructField("n_bytes", IntegerType(), False),
    # JPEG wire truth for pure-/DCTDecode payloads (SOF frame header,
    # kernel/jpegmeta.py); NULL for every other filter
    StructField("codec_w", IntegerType(), True),
    StructField("codec_h", IntegerType(), True),
    StructField("codec_nc", IntegerType(), True),
    StructField("codec_progressive", IntegerType(), True),
]

PDF_DECODE_FIELDS = [
    StructField("page_idx", IntegerType(), False),
    StructField("img_name", StringType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("n_channels", IntegerType(), True),
    StructField("pixel_sum", LongType(), True),
    StructField("pixel_min", IntegerType(), True),
    StructField("pixel_max", IntegerType(), True),
    StructField("status", StringType(), False),
]

PDF_FIELD_FIELDS = [
    StructField("field_ord", IntegerType(), False),
    StructField("field_name", StringType(), False),
    StructField("field_value", StringType(), False),
]

PDF_OUTLINE_FIELDS = [
    StructField("item_ord", IntegerType(), False),
    StructField("depth", IntegerType(), False),
    StructField("title", StringType(), False),
]


def _inventory_rows(fn):
    """Per-document PDF inventories: ``fn`` maps one document's bytes to
    a list of row tuples; poison documents contribute zero rows
    (document-level health is the extract query's ``status`` column;
    inventories are analytics projections)."""

    def rows(data):
        try:
            return fn(data if data is not None else b"")
        except Exception:  # poison doc → zero inventory rows
            return []

    return rows


def pdf_images(
    df: DataFrame, pdf_col: str = "pdf", id_cols: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """pages(id…, pdf:binary) → one row per image XObject reachable
    from any page (incl. images inside nested form XObjects): (id…,
    page_idx, img_name, width, height, bpc, filter, colorspace,
    n_bytes). Metadata only — sample streams stay encoded, so the
    operator needs no image codec and its cost is the object-layer
    parse it shares with text extraction."""
    from ..kernel.pdftext import pdf_image_stats  # noqa: PLC0415

    return map_rows(df, _inventory_rows(pdf_image_stats), [pdf_col], PDF_IMAGE_FIELDS, id_cols)


def pdf_decode_images(
    df: DataFrame, pdf_col: str = "pdf", id_cols: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """pages(id…, pdf:binary) → one row per image XObject with REAL
    pixel decode for /DCTDecode payloads (from-scratch baseline JPEG
    codec, kernel/jpegcodec.py — prefix filters like Flate+DCT applied
    first): (id…, page_idx, img_name, width, height, n_channels,
    pixel_sum, pixel_min, pixel_max, status). Codec facts, not dict
    claims; non-DCT images are ``skip:*`` rows and poison payloads
    ``error:*`` rows. Per-row CPU inside Arrow batches, zero shuffle —
    the 100-TB decode-stage shape, and under the §7.6 encrypting
    variants it proves decode-under-encryption end to end."""
    from ..kernel.pdftext import pdf_decode_image_stats  # noqa: PLC0415

    return map_rows(
        df, _inventory_rows(pdf_decode_image_stats), [pdf_col], PDF_DECODE_FIELDS, id_cols
    )


def pdf_form_fields(
    df: DataFrame, pdf_col: str = "pdf", id_cols: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """pages(id…, pdf:binary) → one row per terminal AcroForm field:
    (id…, field_ord, field_name, field_value) in tree order — the
    filled-form text surface (§12.7) real crawls extract alongside
    body text; values decode as TEXT strings (and decrypt
    transparently under the §7.6 handlers)."""
    from ..kernel.pdftext import PdfDocument  # noqa: PLC0415

    def fn(data: bytes):
        fields = PdfDocument(data).form_fields()
        return [(i, n, v) for i, (n, v) in enumerate(fields)]

    return map_rows(df, _inventory_rows(fn), [pdf_col], PDF_FIELD_FIELDS, id_cols)


def pdf_outline(
    df: DataFrame, pdf_col: str = "pdf", id_cols: tuple[str, ...] = ("doc_id",)
) -> DataFrame:
    """pages(id…, pdf:binary) → one row per outline item (§12.3.3
    bookmarks) in reading order: (id…, item_ord, depth, title)."""
    from ..kernel.pdftext import PdfDocument  # noqa: PLC0415

    def fn(data: bytes):
        items = PdfDocument(data).outline_titles()
        return [(i, d, t) for i, (d, t) in enumerate(items)]

    return map_rows(df, _inventory_rows(fn), [pdf_col], PDF_OUTLINE_FIELDS, id_cols)


def render_pdf_column(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    variant_col: str | None = None,
    images_col: str | None = None,
    fields_col: str | None = None,
    outline_col: str | None = None,
    real_images_col: str | None = None,
) -> DataFrame:
    """(id…, text) → (id…, pdf:binary). Deterministic synthesis — the
    variant defaults to ``first_id % N_VARIANTS`` so the corpus exercises
    every generator/parser surface (uncompressed, flate+indirect-length,
    TJ/hex, split streams+incremental update, LZW, ToUnicode CID);
    identical regardless of partitioning. ``images_col`` (int) embeds
    that many deterministic image XObjects per page (q58's inventory
    corpus); 0/absent keeps the text-only corpus byte-identical."""
    from ..sources.pdfgen import N_VARIANTS, build_pdf  # noqa: PLC0415

    opt_cols = {
        "variant": variant_col,
        "n_images": images_col,
        "n_fields": fields_col,
        "n_outline": outline_col,
        "n_real_images": real_images_col,
    }
    given = {k: c for k, c in opt_cols.items() if c}

    def render(first_id, text, *opts):
        kw = {k: int(v or 0) for k, v in zip(given, opts)}
        kw["variant"] = kw.get("variant", int(first_id)) % N_VARIANTS
        return [(build_pdf(text if text is not None else "", **kw),)]

    return map_rows(
        df,
        render,
        [id_cols[0], text_col, *given.values()],
        [StructField("pdf", BinaryType(), False)],
        id_cols,
    )
