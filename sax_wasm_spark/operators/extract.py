"""Main-content extractor: the DOM-heuristic boilerplate classifier the
north_star layers on top of the SAX event stream.

The reference supplies the event stream and the element stack
(parser.rs:618-622 text_nodes accumulation, :1144-1194 stack unwind);
this module is the second pass that reduces them to main-content text.

Documented reduction (deterministic; goldens in tests/goldens are frozen
from exactly this spec — FIXTURES.md §6):

1. Subscribe OpenTag | CloseTag | Text | Cdata; replay events in order,
   maintaining a stack of open element names. Self-closing tags and
   WHATWG void elements (meta, link, br, img, …) never push — the
   kernel is a generic SAX parser and keeps an unclosed <meta> open,
   but the classifier is the HTML layer, and a page-leading unclosed
   <meta> must not drop the whole document; the kernel's matching
   unwind CloseTags are skipped symmetrically. Orphan
   closes arrive as Text events, so the stack replay otherwise mirrors
   the kernel's own stack exactly.
2. A Text/Cdata event is *candidate content* iff no open ancestor's
   lowercased name is in DROP_TAGS.
3. Each candidate is labeled with (a) whether an ``<a>`` ancestor is
   open (link text) and (b) its *block*: the innermost open ancestor
   whose name is in BLOCK_TAGS (stack-frame identity, so two sibling
   <p>s are different blocks; document root is block 0).
4. Per block: text_bytes = Σ len(value), link_bytes over link-labeled
   candidates, tag_count = number of OpenTags whose innermost enclosing
   block is this block (the element-stack tag counting of the
   north_star's classifier). A block is kept iff
       text_bytes >= MIN_BLOCK_BYTES (10) and
       link_bytes / text_bytes <= MAX_LINK_DENSITY (0.5) and
       (text_bytes / (1 + tag_count) >= MIN_TEXT_DENSITY (10)
        or text_bytes >= DENSITY_EXEMPT_BYTES (80))
   — link density kills menu-like blocks, text density kills
   tag-fragmented interstitial junk. Whitespace-only candidates never
   contribute (the kernel suppresses whitespace-only inter-element
   text, parser.rs:411-425).
5. Output text = b"\\n".join(values of candidates in kept blocks, in
   document order); spans = their absolute (byte_start, byte_end)
   ranges in the original html stream. Span caveats inherited from the
   reference's byte ranges: CDATA spans cover the whole
   <![CDATA[...]]> construct (value excludes delimiters), and
   orphan-close synthetic texts carry a (0,0) span
   (parser.rs:1164-1179).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernel.fastsax_np import parse_doc_flat_np
from ..kernel.saxkernel import EVT_CDATA, EVT_CLOSE_TAG, EVT_OPEN_TAG, EVT_TEXT
from .rows import map_rows

EXTRACT_MASK = (1 << EVT_OPEN_TAG) | (1 << EVT_CLOSE_TAG) | (1 << EVT_TEXT) | (1 << EVT_CDATA)

DROP_TAGS = frozenset(
    b.lower()
    for b in (
        "script", "style", "noscript", "template", "head", "nav", "header",
        "footer", "aside", "form", "iframe", "svg", "select", "option",
        "button", "datalist", "meta", "link", "title",
    )
)

# WHATWG §13.1.2 void elements: the KERNEL (a generic SAX parser, like
# the reference) keeps an unclosed <meta>/<link>/<br> open until an
# enclosing close unwinds it — correct XML semantics. The CLASSIFIER is
# the HTML-aware layer, so on ITS replay stack these never push:
# otherwise a single unclosed <meta> before <body> opens a drop-subtree
# over the entire page (a ubiquitous real-crawl shape). CloseTag events
# for them (the kernel's unwind emits one per pop) are skipped
# symmetrically, keeping the two stacks aligned.
VOID_TAGS = frozenset(
    (
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr",
    )
)

BLOCK_TAGS = frozenset(
    (
        "p", "div", "article", "section", "main", "li", "td", "th",
        "blockquote", "pre", "h1", "h2", "h3", "h4", "h5", "h6", "body",
    )
)

MIN_BLOCK_BYTES = 10
MAX_LINK_DENSITY = 0.5
MIN_TEXT_DENSITY = 10  # bytes of text per tag within the block
DENSITY_EXEMPT_BYTES = 80

EXTRACT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("title", StringType(), True),
        StructField("text", StringType(), True),
        StructField("text_bytes", BinaryType(), True),
        StructField(
            "spans",
            ArrayType(
                StructType(
                    [
                        StructField("byte_start", LongType(), False),
                        StructField("byte_end", LongType(), False),
                    ]
                )
            ),
            True,
        ),
        StructField("n_events", IntegerType(), False),
        StructField("status", StringType(), False),
    ]
)

# What the Python stage returns: EXTRACT_SCHEMA less ``text``, which
# the JVM derives from ``text_bytes`` (text_of), so the extracted text
# crosses the Python->JVM boundary once.
_ROW_FIELDS = [f for f in EXTRACT_SCHEMA.fields if f.name != "text"]


def text_of() -> Column:
    """The ``text`` column: ``text_bytes`` as UTF-8 with every malformed
    sequence replaced by U+FFFD, exactly as Python's
    ``bytes.decode("utf-8", "replace")`` does it. Spark's
    ``decode(b, 'UTF-8')`` would raise on such bytes instead."""
    return F.make_valid_utf8(F.col("text_bytes").cast("string")).alias("text")


def with_text(df: DataFrame, names: list[str]) -> DataFrame:
    """``df``'s columns ``names``, where ``text`` is derived by text_of."""
    return df.select(*(text_of() if n == "text" else n for n in names))


def _extract_rows(rows) -> tuple[bytes, list[tuple[int, int]], bytes | None]:
    """Replay flat event rows (collect.FIELD_NAMES layout) through the
    documented reduction. Identical semantics to _Replay over entities.
    (r8: per-block byte totals accumulate during the replay itself and
    the membership tests run against cached locals — same reduction,
    one pass fewer over the candidates.)"""
    stack: list[str] = []
    frame_ids: list[int] = []
    next_frame = 1
    drop_depth = 0
    link_depth = 0
    block_frames = [0]
    tag_counts: dict[int, int] = {0: 0}
    totals: dict[int, int] = {0: 0}
    links: dict[int, int] = {0: 0}
    candidates: list[tuple[int, bool, bytes, int, int]] = []
    cand_append = candidates.append
    title: bytes | None = None
    title_depth = 0
    void_tags = VOID_TAGS
    drop_tags = DROP_TAGS
    block_tags = BLOCK_TAGS
    for row in rows:
        code = row[0]
        if code == 7:  # OpenTag
            tag_counts[block_frames[-1]] += 1
            if row[7]:  # self_closing
                continue
            name = row[2].lower()
            if name in void_tags:  # HTML void element: never pushes here
                continue
            stack.append(name)
            if name in drop_tags:
                drop_depth += 1
            if name == "a":
                link_depth += 1
            if name == "title":
                title_depth += 1
            if name in block_tags:
                fid = next_frame
                next_frame += 1
                frame_ids.append(fid)
                block_frames.append(fid)
                tag_counts[fid] = 0
                totals[fid] = 0
                links[fid] = 0
            else:
                frame_ids.append(-1)
        elif code == 8:  # CloseTag
            if row[7] or not stack:
                continue
            if row[2] and row[2].lower() in void_tags:
                continue  # kernel-stack pop of an element we never pushed
            name = stack.pop()
            fid = frame_ids.pop()
            if name in drop_tags:
                drop_depth -= 1
            if name == "a":
                link_depth -= 1
            if name == "title":
                title_depth -= 1
            if fid >= 0:
                block_frames.pop()
        else:  # Text / Cdata
            if title_depth and title is None:
                title = row[3]
            if drop_depth:
                continue
            value = row[3]
            if not value:
                continue
            blk = block_frames[-1]
            m = len(value)
            totals[blk] += m
            if link_depth:
                links[blk] += m
            cand_append((blk, False, value, row[18], row[19]))

    kept = {
        blk
        for blk, total in totals.items()
        if total >= MIN_BLOCK_BYTES
        and links[blk] / total <= MAX_LINK_DENSITY
        and (
            total / (1 + tag_counts[blk]) >= MIN_TEXT_DENSITY
            or total >= DENSITY_EXEMPT_BYTES
        )
    }
    pieces = []
    spans = []
    for blk, _, value, b0, b1 in candidates:
        if blk in kept:
            pieces.append(value)
            spans.append((b0, b1))
    return b"\n".join(pieces), spans, title


def extract_bytes(html: bytes):
    """Single-document extraction:
    -> (text_bytes, spans, n_events, status, title_bytes|None).
    The title is the first text node under a <title> element (captured
    before the head-drop rule — titles are metadata, not boilerplate).

    Runs the POSITIONS-OFF kernel (fastsax_np): the reduction reads
    only codes/names/values/self_closing/byte-offsets, so line/char
    tracking is pure overhead here (~1.5x parse throughput; the
    positions-on twin stays differential-gated and serves every
    position-surfacing query)."""
    try:
        rows = parse_doc_flat_np(html, EXTRACT_MASK)
        text, spans, title = _extract_rows(rows)
        return text, spans, len(rows), "ok", title
    except Exception as e:  # defensive: a poison document must not kill the task
        return b"", [], 0, f"error:{type(e).__name__}", None


def extract_main_content(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """DataFrame operator: pages(url, html, …) → extracted per FIXTURES.md §3.

    One ``map_rows`` row per page; a NULL html extracts as ``b""``. The
    Python stage returns the text once, as ``text_bytes``; ``text`` is
    derived from it on the JVM (text_of), in EXTRACT_SCHEMA's column
    order, so a caller that drops ``text`` never computes it.
    ``passthrough`` columns are copied onto the output row (exactly one
    output row per page, so they ride as ``map_rows`` id columns) —
    e.g. the raw-html hash the incremental refresh keys on
    (plans/lineage.run_extraction stores it so the NEXT refresh can
    classify unchanged pages without re-extracting them)."""

    def extract(url, data):
        text, spans, n_events, status, title = extract_bytes(data if data is not None else b"")
        title = title.decode("utf-8", "replace") if title is not None else None
        return [(url, title, text, spans, n_events, status)]

    out = map_rows(df, extract, [url_col, html_col], _ROW_FIELDS, passthrough)
    return with_text(out, [*EXTRACT_SCHEMA.fieldNames(), *passthrough])
