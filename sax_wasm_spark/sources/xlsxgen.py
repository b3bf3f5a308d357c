"""Deterministic XLSX corpus twin for the spreadsheet oracle (q90).

OOXML spreadsheets (ECMA-376 SpreadsheetML) are ZIP packages whose
cell values split across TWO members: ``xl/worksheets/sheet1.xml``
(cells ``<c r="B3" t="s"><v>0</v></c>``) and
``xl/sharedStrings.xml`` (the string table shared-string cells index
into) — the wire shape that forces a real per-document JOIN between
the sheet's cells and the string table. Cell kinds cycle per column:

    col A  shared string   (t="s", <v> = sst index (d + r) % 5)
    col B  number          (no t,  <v> = (7*d + 13*r) % 1000)
    col C  inline string   (t="inlineStr", <is><t>inline <r></t></is>)
             — only when n_cols(d) == 3

Closed forms:

    n_rows(d) = 1 + d % 3        n_cols(d) = 2 + d % 2
    sst entries (always 5): 'Str <k> of <d % 1000>', k in 0..4
    shared cell (r, A) resolves to sst[(d + r) % 5]

The reference repo is an XML tokenizer with no office surface
(``/root/reference/src/sax/parser.rs:1``).
"""

from __future__ import annotations

from ..kernel.zipread import zip_write

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    "</Types>"
)


def xlsx_shape(doc_id: int) -> tuple[int, int]:
    """(n_rows, n_cols)."""
    return 1 + doc_id % 3, 2 + doc_id % 2


def sst_entry(doc_id: int, k: int) -> str:
    return f"Str {k} of {doc_id % 1000}"


def _sheet_xml(doc_id: int) -> bytes:
    n_rows, n_cols = xlsx_shape(doc_id)
    rows = []
    for r in range(n_rows):
        cells = []
        for c in range(n_cols):
            ref = f"{chr(65 + c)}{r + 1}"
            if c == 0:
                cells.append(
                    f'<c r="{ref}" t="s"><v>{(doc_id + r) % 5}</v></c>'
                )
            elif c == 1:
                cells.append(
                    f'<c r="{ref}"><v>{(7 * doc_id + 13 * r) % 1000}</v></c>'
                )
            else:
                cells.append(
                    f'<c r="{ref}" t="inlineStr"><is><t>inline {r}</t></is></c>'
                )
        rows.append(f'<row r="{r + 1}">' + "".join(cells) + "</row>")
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>" + "".join(rows) + "</sheetData></worksheet>"
    ).encode()


def _sst_xml(doc_id: int) -> bytes:
    items = "".join(
        f"<si><t>{sst_entry(doc_id, k)}</t></si>" for k in range(5)
    )
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
        f' count="5" uniqueCount="5">{items}</sst>'
    ).encode()


def build_xlsx(doc_id: int) -> bytes:
    """The full package — the q90 writer twin."""
    return zip_write(
        [
            ("[Content_Types].xml", _CONTENT_TYPES.encode()),
            (
                "xl/workbook.xml",
                b'<?xml version="1.0"?><workbook><sheets>'
                b'<sheet name="Sheet1" sheetId="1"/></sheets></workbook>',
            ),
            ("xl/sharedStrings.xml", _sst_xml(doc_id)),
            ("xl/worksheets/sheet1.xml", _sheet_xml(doc_id)),
        ],
        deflate=doc_id % 2 == 0,
    )
