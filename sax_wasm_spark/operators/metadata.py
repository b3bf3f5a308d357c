"""Head-metadata extraction: <title>, meta description, og:title, canonical.

The fields real pipelines keep alongside main content (retrieval titles,
snippet text, URL canonicalization) are read straight off the SAX
kernel's event stream — no regex scraping, no DOM build. The pairing of
Attribute events with the element that owns them is purely structural:
in the kernel's event order (mirroring the reference's
process_attribute → process_open_tag sequencing,
/root/reference/src/sax/parser.rs), every Attribute event of an element
precedes that element's OpenTag event and no tag event intervenes. So
"number of tag events strictly before me" is constant across an
element's attributes AND its OpenTag row — one running sum (`grp`) over
the per-doc window pairs them exactly. Attribute payloads travel
forward as last(struct(grp, value)) over the same window and are
accepted only when their grp equals the OpenTag row's grp, so a stale
attribute from an earlier element can never leak onto a later one
(e.g. a second <meta> without content must NOT inherit the first's).

Scale shape: the whole extraction is ONE doc_id-partitioned window
(Catalyst stacks the two frame variants over a single hash exchange +
sort) followed by a groupBy on the window's own partition key, which
reuses that partitioning — a single exchange end-to-end, plan-gated in
tests/test_plan_quality.py. Events per document head are bounded, so
the window carries no skew risk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .rows import map_rows
from .tokenize import tokenize_events

_EV_TEXT = 0
_EV_ATTRIBUTE = 6
_EV_OPEN = 7
_EV_CLOSE = 8
_MASK = (
    (1 << _EV_TEXT) | (1 << _EV_ATTRIBUTE) | (1 << _EV_OPEN) | (1 << _EV_CLOSE)
)

# Tags whose OpenTag ends title collection even without </title>: an
# UNCLOSED <title> (common malformation — a generic SAX parser nests
# everything after it inside the title) must not swallow the document,
# but inline markup INSIDE a title (<b>, <span>, <br>…) must not
# truncate it. HTML treats title as RCDATA, so any structural tag
# appearing "inside" it really means the author forgot </title>.
_TITLE_BREAKERS = (
    "head", "body", "html", "meta", "link", "script", "style", "base",
    "p", "div", "main", "article", "section", "nav", "header", "footer",
)


def _ordered_fragments(cond, value):
    """Aggregate expression: the rows matching ``cond``'s values as an
    array sorted in event order (the shared reassembly idiom — title
    fragments, sitemap field fragments, first-occurrence picks)."""
    return F.array_sort(
        F.collect_list(
            F.when(
                cond,
                F.struct(F.col("event_idx").alias("i"), value.alias("v")),
            )
        )
    )


def _attr_carry(key: str, w_run):
    """The grp-gated attribute-carry idiom: the last (grp, value) of
    attribute ``key`` rides forward; an OpenTag row accepts it only
    when the struct's grp equals its own (kernel ordering fact: an
    element's Attribute events immediately precede its OpenTag).
    Shared by head-metadata, feeds, and spreadsheet cells."""
    return F.last(
        F.when(
            (F.col("event") == _EV_ATTRIBUTE) & (F.col("attr_name") == key),
            F.struct(F.col("grp").alias("g"), F.col("attr_value").alias("v")),
        ),
        ignorenulls=True,
    ).over(w_run)


def extract_head_metadata(
    pages: DataFrame,
    html_col: str = "html",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """pages(id…, html:binary) → (id…, title, description, og_title,
    canonical). Every page yields exactly one row; missing fields come
    back NULL. A multi-Text-event title (newline flushes) is
    reassembled in event order; for repeated fields the FIRST
    occurrence wins (crawl convention)."""
    ids = list(id_cols)
    ev = tokenize_events(
        pages.select(*ids, html_col),
        id_cols=tuple(ids),
        events=_MASK,
        positions=False,
    )
    w_prev = (
        Window.partitionBy(*ids)
        .orderBy("event_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(*ids)
        .orderBy("event_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_tag = F.col("event").isin(_EV_OPEN, _EV_CLOSE).cast("int")
    staged = ev.select(
        *ids,
        "event",
        "event_idx",
        "name",
        F.col("value").cast("string").alias("text"),
        F.col("attr_name").cast("string").alias("attr_name"),
        F.col("attr_value").cast("string").alias("attr_value"),
        F.coalesce(F.sum(is_tag).over(w_prev), F.lit(0)).alias("grp"),
        # Title gating is neither a raw open/close depth (an unclosed
        # <title> would swallow the document) nor immediate-predecessor
        # (inline <b>/<span> inside a title would truncate it): text is
        # title text iff it belongs to the FIRST <title> (first-wins)
        # and the running title state is live — set by <title>'s
        # OpenTag, cleared by </title> OR by the OpenTag of any
        # structural tag (_TITLE_BREAKERS), which in RCDATA-correct
        # HTML can only mean the author forgot the close.
        F.sum(
            ((F.col("event") == _EV_OPEN) & (F.col("name") == "title")).cast(
                "int"
            )
        )
        .over(w_run)
        .alias("title_ord"),
        F.coalesce(
            F.last(
                F.when(
                    (F.col("event") == _EV_OPEN) & (F.col("name") == "title"),
                    F.lit(1),
                ).when(
                    (
                        (F.col("event") == _EV_CLOSE)
                        & (F.col("name") == "title")
                    )
                    | (
                        (F.col("event") == _EV_OPEN)
                        & F.col("name").isin(*_TITLE_BREAKERS)
                    ),
                    F.lit(0),
                ),
                ignorenulls=True,
            ).over(w_run),
            F.lit(0),
        ).alias("title_live"),
    )

    def attr_last(key: str):
        return _attr_carry(key, w_run)

    paired = staged.select(
        *ids,
        "event",
        "event_idx",
        "name",
        "text",
        "grp",
        "title_ord",
        "title_live",
        attr_last("name").alias("a_name"),
        attr_last("property").alias("a_prop"),
        attr_last("content").alias("a_content"),
        attr_last("rel").alias("a_rel"),
        attr_last("href").alias("a_href"),
    )
    g = F.col("grp")

    def own(a: str):  # the carried attribute belongs to THIS element
        return F.col(a).isNotNull() & (F.col(a)["g"] == g)

    is_open = F.col("event") == _EV_OPEN
    in_first_title = (
        (F.col("event") == _EV_TEXT)
        & (F.col("title_ord") == 1)
        & (F.col("title_live") == 1)
    )
    kind = (
        F.when(in_first_title, F.lit("title"))
        .when(
            is_open
            & (F.col("name") == "meta")
            & own("a_name")
            & own("a_content")
            & (F.col("a_name")["v"] == "description"),
            F.lit("description"),
        )
        .when(
            is_open
            & (F.col("name") == "meta")
            & own("a_prop")
            & own("a_content")
            & (F.col("a_prop")["v"] == "og:title"),
            F.lit("og_title"),
        )
        .when(
            is_open
            & (F.col("name") == "link")
            & own("a_rel")
            & own("a_href")
            & (F.col("a_rel")["v"] == "canonical"),
            F.lit("canonical"),
        )
    )
    val = (
        F.when(F.col("event") == _EV_TEXT, F.col("text"))
        .when(F.col("name") == "link", F.col("a_href")["v"])
        .otherwise(F.col("a_content")["v"])
    )
    # No kind-filter: a page with no head fields still yields one row
    # (all fields NULL). The groupBy sits on the window's partition key
    # so keeping every event row adds no exchange, only same-partition
    # aggregation input.
    rows = paired.select(
        *ids, "event_idx", kind.alias("kind"), val.alias("val")
    )

    def first_of(k: str):  # first occurrence in event order, NULL if absent
        picked = _ordered_fragments(F.col("kind") == k, F.col("val"))
        return F.try_element_at(picked, F.lit(1))["v"]  # NULL when absent

    title = F.array_join(
        F.transform(
            _ordered_fragments(F.col("kind") == "title", F.col("val")),
            lambda s: s["v"],
        ),
        # The kernel flushes Text at '\n' and the newline byte is not
        # part of either event's value (reference parity) — so with
        # positions off, consecutive title Text events rejoin with the
        # newline that split them (fragments split by inline tags also
        # rejoin with '\n' — the separator position is not recoverable
        # with positions off, and a visible seam beats silent loss).
        "\n",
    )
    out = rows.groupBy(*ids).agg(
        F.nullif(title, F.lit("")).alias("title"),
        first_of("description").alias("description"),
        first_of("og_title").alias("og_title"),
        first_of("canonical").alias("canonical"),
    )
    return out


def parse_sitemap_entries(
    sitemaps: DataFrame,
    xml_col: str = "xml",
    id_cols: tuple[str, ...] = ("doc_id",),
    fields: tuple[str, ...] = ("loc", "lastmod", "changefreq", "priority"),
) -> DataFrame:
    """sitemaps(id…, xml:binary) → one row per <url> entry:
    (id…, url_ord, loc, lastmod, changefreq, priority) — the crawl
    frontier's seed feed (sitemaps.org protocol), parsed by the SAX
    kernel itself (the reference engine's native XML ground).

    Structural pairing, whitespace-robust: a Text event belongs to
    element <t> only when the IMMEDIATELY preceding tag event is
    <t>'s OpenTag (pretty-printing whitespace between a CloseTag and
    the next OpenTag pairs with a CloseTag and drops out). The entry
    ordinal is a running count of <url> OpenTags. Scale shape: one
    doc-partitioned window; the per-entry groupBy keys on
    (id…, url_ord) whose prefix is the window's partition key, so the
    exchange is reused — a single shuffle end-to-end."""
    ids = list(id_cols)
    ev = tokenize_events(
        sitemaps.select(*ids, xml_col),
        html_col=xml_col,
        id_cols=tuple(ids),
        events=(1 << _EV_TEXT) | (1 << _EV_OPEN) | (1 << _EV_CLOSE),
        positions=False,
    )
    w = (
        Window.partitionBy(*ids)
        .orderBy("event_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    url_ord = (
        F.sum(
            ((F.col("event") == _EV_OPEN) & (F.col("name") == "url")).cast(
                "int"
            )
        ).over(w)
        - 1
    )
    last_tag = F.last(
        F.when(
            F.col("event").isin(_EV_OPEN, _EV_CLOSE),
            F.struct(F.col("event").alias("e"), F.col("name").alias("n")),
        ),
        ignorenulls=True,
    ).over(w)
    texts = (
        ev.select(
            *ids,
            "event",
            "event_idx",
            F.col("value").cast("string").alias("text"),
            url_ord.alias("url_ord"),
            last_tag.alias("lt"),
        )
        .where(
            (F.col("event") == _EV_TEXT)
            & (F.col("url_ord") >= 0)
            & (F.col("lt")["e"] == _EV_OPEN)
            & F.col("lt")["n"].isin(*fields)
        )
        .select(
            *ids, "url_ord", "event_idx",
            F.col("lt")["n"].alias("tag"), "text",
        )
    )

    def field_value(f: str):
        # fragments in event order (the kernel flushes Text at '\n', so
        # a pretty-printed value arrives in pieces), rejoined with the
        # newline that split them, then trimmed — NOT F.max, which is
        # lexicographic over fragments and returns garbage for
        # multi-line values
        joined = F.array_join(
            F.transform(
                _ordered_fragments(F.col("tag") == f, F.col("text")),
                lambda x: x["v"],
            ),
            "\n",
        )
        return F.nullif(F.trim(joined), F.lit("")).alias(f)

    return texts.groupBy(*ids, "url_ord").agg(
        *[field_value(f) for f in fields]
    )


XMP_SIMPLE_FIELDS = ("xmp:CreateDate", "xmp:CreatorTool", "pdf:Producer")
XMP_ALT_FIELDS = ("dc:title",)  # value lives in a nested rdf:Alt/rdf:li


def parse_xmp_fields(
    packets: DataFrame,
    xmp_col: str = "xmp",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """packets(id…, xmp:binary) → one row per packet with the XMP
    document-metadata fields a crawl keeps alongside PDFs (ISO 32000-1
    §14.3.2 / Adobe XMP): (id…, title, create_date, creator_tool,
    producer). The RDF/XML is tokenized by the SAX kernel itself — the
    reference engine's native XML ground chained INTO the PDF tier.

    Pairing rules, both purely structural over the event stream:
    simple properties (<xmp:CreateDate>v</…>) pair text with the
    IMMEDIATELY preceding OpenTag (the q65 sitemap rule); language-
    alternative properties (<dc:title><rdf:Alt><rdf:li>v) pair an
    rdf:li's text with the most recent FIELD OpenTag still governing it
    (a running last() over the same window). NULL rows survive for
    packets carrying none of the fields. Scale shape: ONE
    id-partitioned window; the groupBy keys on the window's partition
    key so the exchange is reused — a single shuffle end-to-end."""
    ids = list(id_cols)
    ev = tokenize_events(
        packets.select(*ids, xmp_col),
        html_col=xmp_col,
        id_cols=tuple(ids),
        events=(1 << _EV_TEXT) | (1 << _EV_OPEN) | (1 << _EV_CLOSE),
        positions=False,
    )
    w = (
        Window.partitionBy(*ids)
        .orderBy("event_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_tag = F.last(
        F.when(
            F.col("event").isin(_EV_OPEN, _EV_CLOSE),
            F.struct(F.col("event").alias("e"), F.col("name").alias("n")),
        ),
        ignorenulls=True,
    ).over(w)
    # the governing field element: opens on a FIELD OpenTag, closes on
    # its CloseTag (so stray rdf:li outside any field pairs with NULL)
    gov = F.last(
        F.when(
            (F.col("event") == _EV_OPEN)
            & F.col("name").isin(*XMP_ALT_FIELDS),
            F.col("name"),
        ).when(
            (F.col("event") == _EV_CLOSE)
            & F.col("name").isin(*XMP_ALT_FIELDS),
            F.lit(""),
        ),
        ignorenulls=True,
    ).over(w)
    is_field_text = (
        (F.col("event") == _EV_TEXT)
        & (F.col("lt")["e"] == _EV_OPEN)
        & (
            F.col("lt")["n"].isin(*XMP_SIMPLE_FIELDS)
            | (
                (F.col("lt")["n"] == "rdf:li")
                & F.col("gov").isin(*XMP_ALT_FIELDS)
            )
        )
    )
    # field is NULL on every non-field row — those rows still keep the
    # packet's group alive, so a fieldless packet yields an all-NULL row
    staged = ev.select(
        *ids,
        "event",
        "event_idx",
        F.col("value").cast("string").alias("text"),
        last_tag.alias("lt"),
        gov.alias("gov"),
    )
    texts = staged.select(
        *ids,
        "event_idx",
        F.when(
            is_field_text,
            F.when(F.col("lt")["n"] == "rdf:li", F.col("gov")).otherwise(
                F.col("lt")["n"]
            ),
        ).alias("field"),
        "text",
    )

    def field_value(name: str, alias: str):
        joined = F.array_join(
            F.transform(
                _ordered_fragments(F.col("field") == name, F.col("text")),
                lambda x: x["v"],
            ),
            "\n",
        )
        return F.nullif(F.trim(joined), F.lit("")).alias(alias)

    return texts.groupBy(*ids).agg(
        field_value("dc:title", "title"),
        field_value("xmp:CreateDate", "create_date"),
        field_value("xmp:CreatorTool", "creator_tool"),
        field_value("pdf:Producer", "producer"),
    )


def extract_docx_paragraphs(
    packages: DataFrame,
    docx_col: str = "docx",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """packages(id…, docx:binary) → one row per paragraph:
    (id…, para_idx, text) — OOXML (Word) text extraction: the ZIP
    reader (kernel/zipread.py, central-directory truth, CRC-verified)
    surfaces ``word/document.xml`` and the SAX kernel tokenizes the
    WordprocessingML. Structural rules, all event-order local:
    a Text event belongs to a run iff the IMMEDIATELY preceding tag
    event is a ``w:t`` OpenTag (the q65 rule); ``<w:tab/>``/``<w:br/>``
    OpenTags contribute literal tab/newline; the paragraph ordinal is
    a running count of ``w:p`` OpenTags. Scale shape: a row-local
    unzip stage, then ONE id-partitioned window with the groupBy on
    (id…, para_idx) reusing its exchange — a single shuffle
    end-to-end. Unreadable packages (not a ZIP, missing member, CRC
    fail, ``ZipError``) are dropped by the unzip stage —
    per-package status belongs to an upstream inventory pass, not the
    per-paragraph table."""
    from ..kernel.zipread import ZipError, zip_find  # noqa: PLC0415

    ids = list(id_cols)

    def unzip(data):
        try:
            return [(zip_find(data or b"", "word/document.xml"),)]
        except ZipError:
            return []

    xml_df = map_rows(packages, unzip, [docx_col], "xml binary", ids)
    ev = tokenize_events(
        xml_df,
        html_col="xml",
        id_cols=tuple(ids),
        events=(1 << _EV_TEXT) | (1 << _EV_OPEN) | (1 << _EV_CLOSE),
        positions=False,
    )
    w = (
        Window.partitionBy(*ids)
        .orderBy("event_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    para_ord = (
        F.sum(
            ((F.col("event") == _EV_OPEN) & (F.col("name") == "w:p")).cast(
                "int"
            )
        ).over(w)
        - 1
    )
    last_tag = F.last(
        F.when(
            F.col("event").isin(_EV_OPEN, _EV_CLOSE),
            F.struct(F.col("event").alias("e"), F.col("name").alias("n")),
        ),
        ignorenulls=True,
    ).over(w)
    frag = F.when(
        (F.col("event") == _EV_TEXT)
        & (F.col("lt")["e"] == _EV_OPEN)
        & (F.col("lt")["n"] == "w:t"),
        F.col("text"),
    ).when(
        (F.col("event") == _EV_OPEN) & (F.col("name") == "w:tab"), F.lit("\t")
    ).when(
        (F.col("event") == _EV_OPEN) & (F.col("name") == "w:br"), F.lit("\n")
    )
    staged = ev.select(
        *ids,
        "event",
        "name",
        "event_idx",
        F.col("value").cast("string").alias("text"),
        para_ord.alias("para_ord"),
        last_tag.alias("lt"),
    )
    frags = staged.select(
        *ids, "event_idx", "para_ord", frag.alias("frag")
    ).where(F.col("frag").isNotNull() & (F.col("para_ord") >= 0))
    return (
        frags.groupBy(*ids, "para_ord")
        .agg(
            F.array_join(
                F.transform(
                    _ordered_fragments(F.lit(True), F.col("frag")),
                    lambda x: x["v"],
                ),
                "",
            ).alias("text")
        )
        .select(*ids, F.col("para_ord").cast("int").alias("para_idx"), "text")
    )


def _xml_elements(data: bytes):
    """Row-local mini-walk over kernel events: yields (tag_name,
    {attr: value}) per OpenTag — the kernel emits an element's
    Attribute events immediately before its OpenTag, so one pending
    dict pairs them exactly (the q61 ordering fact, in-process)."""
    from ..kernel.fastsax import parse_doc_flat  # noqa: PLC0415

    pending: dict[str, str] = {}
    mask = (1 << _EV_ATTRIBUTE) | (1 << _EV_OPEN)
    for row in parse_doc_flat(data, mask):
        code = row[0]
        if code == _EV_ATTRIBUTE:
            pending[row[4].decode("utf-8", "replace")] = row[5].decode(
                "utf-8", "replace"
            )
        elif code == _EV_OPEN:
            yield row[2], pending
            pending = {}


def epub_spine(data: bytes) -> list[tuple[int, str, bytes]]:
    """Resolve an EPUB package to its reading order:
    [(spine_idx, chapter_path, xhtml_bytes)]. The kernel parses BOTH
    package-metadata layers — META-INF/container.xml (rootfile
    full-path) and the OPF (manifest id→href, spine idref order);
    chapter hrefs resolve relative to the OPF directory; the central
    directory is parsed ONCE per package (name→entry dict). Typed
    ZipError/ValueError for structural breakage."""
    from ..kernel.zipread import ZipError, zip_entries, zip_read  # noqa: PLC0415

    by_name = {e.name: e for e in zip_entries(data)}

    def member(name: str) -> bytes:
        e = by_name.get(name)
        if e is None:
            raise ZipError(f"member {name!r} not found")
        return zip_read(data, e)

    container = member("META-INF/container.xml")
    opf_path = None
    for name, attrs in _xml_elements(container):
        if name == "rootfile" and "full-path" in attrs:
            opf_path = attrs["full-path"]
            break
    if opf_path is None:
        raise ValueError("container.xml has no rootfile")
    opf_dir = opf_path.rsplit("/", 1)[0] + "/" if "/" in opf_path else ""
    manifest: dict[str, str] = {}
    spine: list[str] = []
    for name, attrs in _xml_elements(member(opf_path)):
        if name == "item" and "id" in attrs and "href" in attrs:
            manifest[attrs["id"]] = attrs["href"]
        elif name == "itemref" and "idref" in attrs:
            spine.append(attrs["idref"])
    if not spine:
        raise ValueError("OPF has an empty spine")
    out = []
    for s, idref in enumerate(spine):
        href = manifest.get(idref)
        if href is None:
            raise ValueError(f"spine idref {idref!r} not in manifest")
        path = opf_dir + href
        out.append((s, path, member(path)))
    return out


def extract_epub_chapters(
    packages: DataFrame,
    epub_col: str = "epub",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """packages(id…, epub:binary) → one row per SPINE entry:
    (id…, spine_idx, path, title, text) — ebook main-content
    extraction: the ZIP reader opens the package, the SAX kernel
    parses container.xml + OPF (manifest/spine indirection — reading
    order is the spine's, NOT the archive's), and each chapter runs
    through the SAME main-content classifier as the web corpus
    (boilerplate stripped, title from <title>). Unreadable packages
    (``ZipError``/``ValueError``) are dropped by the resolve stage.
    Scale shape: two row-local stages + the extractor's
    mapInArrow — zero shuffles in this operator itself."""
    from ..kernel.zipread import ZipError  # noqa: PLC0415
    from .extract import extract_main_content  # noqa: PLC0415

    ids = list(id_cols)

    def resolve(data):
        try:
            return epub_spine(data or b"")
        except (ZipError, ValueError):
            return []

    chapters = map_rows(
        packages, resolve, [epub_col], "spine_idx int, path string, html binary", ids
    )
    # the chapter path stands in for the extractor's url column
    ex = extract_main_content(
        chapters, html_col="html", url_col="path", passthrough=(*ids, "spine_idx")
    )
    return ex.select(*ids, "spine_idx", F.col("url").alias("path"), "title", "text")


_FEED_TEXT_FIELDS = ("title", "pubDate", "updated", "guid", "id", "link")


def parse_feed_items(
    feeds: DataFrame,
    xml_col: str = "xml",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """feeds(id…, xml:binary) → one row per item/entry:
    (id…, item_idx, fmt, title, link, published, entry_id) — the third
    crawl-frontier channel (after robots and sitemaps), parsed by the
    SAX kernel. BOTH wire shapes in one operator: RSS 2.0 (item text
    elements: title/link/pubDate/guid) and Atom (entry elements with
    the link as an ``href`` ATTRIBUTE on a void <link/> — paired via
    the tag-count ``grp`` trick, q61's ordering fact). Channel/feed-
    level title+link+date precede the first item so their
    ``item_ord`` is -1 and they drop out. Scale shape: ONE
    id-partitioned window; the groupBy keys on (id…, item_ord) whose
    prefix is the window's partition key — a single shuffle."""
    ids = list(id_cols)
    ev = tokenize_events(
        feeds.select(*ids, xml_col),
        html_col=xml_col,
        id_cols=tuple(ids),
        events=_MASK,
        positions=False,
    )
    w_prev = (
        Window.partitionBy(*ids)
        .orderBy("event_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(*ids)
        .orderBy("event_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_tag = F.col("event").isin(_EV_OPEN, _EV_CLOSE).cast("int")
    staged = ev.select(
        *ids,
        "event",
        "event_idx",
        "name",
        F.col("value").cast("string").alias("text"),
        F.col("attr_name").cast("string").alias("attr_name"),
        F.col("attr_value").cast("string").alias("attr_value"),
        F.coalesce(F.sum(is_tag).over(w_prev), F.lit(0)).alias("grp"),
        (
            F.sum(
                (
                    (F.col("event") == _EV_OPEN)
                    & F.col("name").isin("item", "entry")
                ).cast("int")
            ).over(w_run)
            - 1
        ).alias("item_ord"),
        (
            F.sum(
                F.when(
                    (F.col("event") == _EV_OPEN)
                    & F.col("name").isin("item", "entry"),
                    F.lit(1),
                )
                .when(
                    (F.col("event") == _EV_CLOSE)
                    & F.col("name").isin("item", "entry"),
                    F.lit(-1),
                )
                .otherwise(F.lit(0))
            ).over(w_run)
            > 0
        ).alias("in_item"),
        F.first(
            F.when(
                (F.col("event") == _EV_OPEN)
                & F.col("name").isin("rss", "feed"),
                F.when(F.col("name") == "rss", F.lit("rss")).otherwise(
                    F.lit("atom")
                ),
            ),
            ignorenulls=True,
        ).over(w_run).alias("fmt"),
        F.last(
            F.when(
                F.col("event").isin(_EV_OPEN, _EV_CLOSE),
                F.struct(F.col("event").alias("e"), F.col("name").alias("n")),
            ),
            ignorenulls=True,
        ).over(w_prev).alias("lt"),
    )
    # the href carry references grp, which the select above computes —
    # stage first, then carry (same-select aliases can't be referenced)
    carried = staged.select(
        *ids,
        "event",
        "event_idx",
        "name",
        "text",
        "item_ord",
        "in_item",
        "fmt",
        "lt",
        "grp",
        _attr_carry("href", w_run).alias("href"),
    )
    # contributions: (kind, value) per row
    kind = (
        F.when(
            (F.col("event") == _EV_TEXT)
            & (F.col("lt")["e"] == _EV_OPEN)
            & F.col("lt")["n"].isin(*_FEED_TEXT_FIELDS),
            F.col("lt")["n"],
        )
        .when(
            (F.col("event") == _EV_OPEN)
            & (F.col("name") == "link")
            & (F.col("href")["g"] == F.col("grp")),
            F.lit("href"),
        )
    )
    val = F.when(F.col("event") == _EV_TEXT, F.col("text")).otherwise(
        F.col("href")["v"]
    )
    # in_item gates BOTH sides of the decoy problem: channel/feed-level
    # elements before the first item (item_ord = -1) AND after the last
    # </item> (depth back to 0) never contribute
    frags = carried.select(
        *ids, "event_idx", "item_ord", "fmt",
        kind.alias("kind"), val.alias("val"),
    ).where(
        F.col("kind").isNotNull()
        & (F.col("item_ord") >= 0)
        & F.col("in_item")
    )

    def field(kinds: tuple[str, ...], alias: str):
        # event-order fragment join (the kernel flushes Text at '\n'),
        # NOT first-fragment — a multi-line title must survive intact
        picked = _ordered_fragments(F.col("kind").isin(*kinds), F.col("val"))
        joined = F.array_join(
            F.transform(picked, lambda x: x["v"]), "\n"
        )
        return F.nullif(joined, F.lit("")).alias(alias)

    return (
        frags.groupBy(*ids, "item_ord")
        .agg(
            F.max("fmt").alias("fmt"),
            field(("title",), "title"),
            # RSS: the <link> element's TEXT; Atom: the href attribute
            # (hrefs are atomic attribute values — first one wins; RSS
            # link text rejoins fragments like every other field)
            F.coalesce(
                F.try_element_at(
                    _ordered_fragments(F.col("kind") == "href", F.col("val")),
                    F.lit(1),
                )["v"],
                F.nullif(
                    F.array_join(
                        F.transform(
                            _ordered_fragments(
                                F.col("kind") == "link", F.col("val")
                            ),
                            lambda x: x["v"],
                        ),
                        "\n",
                    ),
                    F.lit(""),
                ),
            ).alias("link"),
            field(("pubDate", "updated"), "published"),
            field(("guid", "id"), "entry_id"),
        )
        .select(
            *ids,
            F.col("item_ord").cast("int").alias("item_idx"),
            "fmt",
            "title",
            "link",
            "published",
            "entry_id",
        )
    )


def extract_xlsx_cells(
    packages: DataFrame,
    xlsx_col: str = "xlsx",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """packages(id…, xlsx:binary) → one row per cell:
    (id…, row_idx, col_idx, kind, value) — SpreadsheetML extraction
    with the REAL shared-strings join: the sheet's cells and the
    per-document string table are two separate members, tokenized in
    ONE pass (the unzip stage emits (part, xml) rows for both), and
    cells with ``t="s"`` resolve their <v> index against the string
    table by an equi-join on (id…, index). Attribute pairing (r/t on
    <c>) uses the tag-count grp trick; <v>/<is><t> text pairs by the
    immediate-OpenTag rule scoped to the current cell ordinal. Scale
    shape: one windowed exchange per part plus ONE co-partitioned
    join keyed (id…, sst index) — shared strings are per-document, so
    the join never crosses documents."""
    from ..kernel.zipread import ZipError, zip_entries, zip_read  # noqa: PLC0415

    ids = list(id_cols)

    def unzip(data):
        data = data or b""
        # ONE central-directory pass serves both members
        by_name = {e.name: e for e in zip_entries(data)}
        sheet_e = by_name.get("xl/worksheets/sheet1.xml")
        if sheet_e is None:
            raise ZipError("no xl/worksheets/sheet1.xml")
        sheet = zip_read(data, sheet_e)
        sst_e = by_name.get("xl/sharedStrings.xml")
        return [("sheet", sheet), ("sst", zip_read(data, sst_e) if sst_e else b"<sst/>")]

    # an unreadable package comes back as one part='error:…' row, which
    # flows through to one kind='error:…' output row: the key never vanishes
    parts = map_rows(
        packages, unzip, [xlsx_col], "part string, xml binary", ids, error_col="part"
    )
    err_rows = parts.where(~F.col("part").isin("sheet", "sst")).select(
        *ids,
        F.lit(None).cast("int").alias("row_idx"),
        F.lit(None).cast("int").alias("col_idx"),
        F.col("part").alias("kind"),
        F.lit(None).cast("string").alias("value"),
    )
    ev = tokenize_events(
        parts.where(F.col("part").isin("sheet", "sst")),
        html_col="xml",
        id_cols=(*ids, "part"),
        events=_MASK,
        positions=False,
    )
    w_prev = (
        Window.partitionBy(*ids, "part")
        .orderBy("event_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(*ids, "part")
        .orderBy("event_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_tag = F.col("event").isin(_EV_OPEN, _EV_CLOSE).cast("int")
    staged = ev.select(
        *ids,
        "part",
        "event",
        "event_idx",
        "name",
        F.col("value").cast("string").alias("text"),
        F.col("attr_name").cast("string").alias("attr_name"),
        F.col("attr_value").cast("string").alias("attr_value"),
        F.coalesce(F.sum(is_tag).over(w_prev), F.lit(0)).alias("grp"),
        (
            F.sum(
                (
                    (F.col("event") == _EV_OPEN)
                    & F.col("name").isin("c", "si")
                ).cast("int")
            ).over(w_run)
            - 1
        ).alias("cell_ord"),
        F.last(
            F.when(
                F.col("event").isin(_EV_OPEN, _EV_CLOSE),
                F.struct(F.col("event").alias("e"), F.col("name").alias("n")),
            ),
            ignorenulls=True,
        ).over(w_prev).alias("lt"),
    )

    carried = staged.select(
        *ids, "part", "event", "event_idx", "name", "text",
        "grp", "cell_ord", "lt",
        _attr_carry("r", w_run).alias("ref"),
        _attr_carry("t", w_run).alias("typ"),
    )
    # per-cell contributions: the <c> OpenTag row carries ref/type;
    # <v> and <is><t> text rows carry the value fragments
    cell_rows = carried.where(
        (F.col("part") == "sheet")
        & (F.col("event") == _EV_OPEN)
        & (F.col("name") == "c")
    ).select(
        *ids,
        "cell_ord",
        F.when(F.col("ref")["g"] == F.col("grp"), F.col("ref")["v"]).alias(
            "cell_ref"
        ),
        F.when(F.col("typ")["g"] == F.col("grp"), F.col("typ")["v"]).alias(
            "cell_type"
        ),
    )
    val_rows = (
        carried.where(
            (F.col("part") == "sheet")
            & (F.col("event") == _EV_TEXT)
            & (F.col("lt")["e"] == _EV_OPEN)
            & F.col("lt")["n"].isin("v", "t")
            & (F.col("cell_ord") >= 0)
        )
        .groupBy(*ids, "cell_ord")
        .agg(
            F.array_join(
                F.transform(
                    _ordered_fragments(F.lit(True), F.col("text")),
                    lambda x: x["v"],
                ),
                "\n",  # the kernel flushed these fragments AT newlines
            ).alias("raw_value")
        )
    )
    cells = cell_rows.join(val_rows, [*ids, "cell_ord"], "left").select(
        *ids,
        "cell_ord",
        "cell_ref",
        "cell_type",
        "raw_value",
        (
            F.aggregate(
                F.filter(
                    F.split(
                        F.regexp_extract(F.col("cell_ref"), r"^([A-Z]+)", 1),
                        "",
                    ),
                    lambda ch: ch != "",
                ),
                F.lit(0),
                lambda acc, ch: acc * 26 + (F.ascii(ch) - 64),
            )
            - 1
        ).alias("col_idx"),
        (
            F.regexp_extract(F.col("cell_ref"), r"(\d+)$", 1).cast("int") - 1
        ).alias("row_idx"),
    )
    sst = (
        carried.where(
            (F.col("part") == "sst")
            & (F.col("event") == _EV_TEXT)
            & (F.col("lt")["e"] == _EV_OPEN)
            & (F.col("lt")["n"] == "t")
            & (F.col("cell_ord") >= 0)
        )
        .groupBy(*ids, "cell_ord")
        .agg(
            F.array_join(
                F.transform(
                    _ordered_fragments(F.lit(True), F.col("text")),
                    lambda x: x["v"],
                ),
                "\n",  # newline-flushed fragments rejoin losslessly
            ).alias("sst_value")
        )
        .select(*ids, F.col("cell_ord").alias("sst_idx"), "sst_value")
    )
    shared = cells.where(F.col("cell_type") == "s").withColumn(
        "sst_idx", F.col("raw_value").cast("int")
    )
    resolved_shared = shared.join(sst, [*ids, "sst_idx"], "left").select(
        *ids,
        "row_idx",
        "col_idx",
        F.lit("shared").alias("kind"),
        F.col("sst_value").alias("value"),
    )
    others = cells.where(
        F.col("cell_type").isNull() | (F.col("cell_type") != "s")
    ).select(
        *ids,
        "row_idx",
        "col_idx",
        F.when(F.col("cell_type") == "inlineStr", F.lit("inline"))
        .otherwise(F.lit("number"))
        .alias("kind"),
        F.col("raw_value").alias("value"),
    )
    return resolved_shared.unionByName(others).unionByName(err_rows)


def extract_tar_members(
    packages: DataFrame,
    tar_col: str = "tarball",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """packages(id…, tarball:binary) → one row per member:
    (id…, member_idx, name, kind, size, text) — source-archive
    inventory + text surfacing (kernel/tarread.py: ustar headers with
    verified checksums, gzip auto-unwrap with an in-flight expansion
    cap). ``text`` is the utf-8 decode of ``.txt``/``.md`` members;
    other files and directories carry NULL. A malformed archive yields
    one row with NULL member fields and ``kind='error:…'`` — the key
    never vanishes. Row-local, zero shuffle."""
    from ..kernel.tarread import tar_members  # noqa: PLC0415

    def members(data):
        ms = tar_members(data or b"")
        if not ms:  # valid but empty: the key survives
            return [(None, None, "empty", None, None)]
        return [
            (
                idx,
                m.name,
                "dir" if m.typeflag == "5" else "file",
                m.size,
                m.data.decode("utf-8", "replace")
                if m.typeflag == "0" and m.name.rsplit(".", 1)[-1] in ("txt", "md")
                else None,
            )
            for idx, m in enumerate(ms)
        ]

    return map_rows(
        packages,
        members,
        [tar_col],
        "member_idx int, name string, kind string not null, size bigint, text string",
        id_cols,
        error_col="kind",
    )


_FEED_MIME = {
    "application/rss+xml": "rss",
    "application/atom+xml": "atom",
}


def discover_feed_links(
    pages: DataFrame,
    html_col: str = "html",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """pages(id…, html:binary) → one row per ADVERTISED feed:
    (id…, link_ord, feed_kind, feed_url) — feed AUTODISCOVERY, the
    step that turns q61's head metadata into q89's frontier: a <link>
    element counts iff rel="alternate" AND its type is a feed MIME —
    all three attributes (rel/type/href) pair with their element via
    the tag-count grp gate, so a stylesheet link's href or an
    hreflang alternate can never leak in. link_ord is the per-page
    discovery order. ONE id-partitioned window, no joins."""
    ids = list(id_cols)
    ev = tokenize_events(
        pages.select(*ids, html_col),
        id_cols=tuple(ids),
        events=_MASK,
        positions=False,
    )
    w_prev = (
        Window.partitionBy(*ids)
        .orderBy("event_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(*ids)
        .orderBy("event_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_tag = F.col("event").isin(_EV_OPEN, _EV_CLOSE).cast("int")
    staged = ev.select(
        *ids,
        "event",
        "event_idx",
        "name",
        F.col("attr_name").cast("string").alias("attr_name"),
        F.col("attr_value").cast("string").alias("attr_value"),
        F.coalesce(F.sum(is_tag).over(w_prev), F.lit(0)).alias("grp"),
    )
    carried = staged.select(
        *ids,
        "event",
        "event_idx",
        "name",
        "grp",
        _attr_carry("rel", w_run).alias("rel"),
        _attr_carry("type", w_run).alias("typ"),
        _attr_carry("href", w_run).alias("href"),
    )
    mime_map = F.create_map(
        *[F.lit(x) for kv in _FEED_MIME.items() for x in kv]
    )
    hits = carried.where(
        (F.col("event") == _EV_OPEN)
        & (F.col("name") == "link")
        & (F.col("rel")["g"] == F.col("grp"))
        & (F.lower(F.col("rel")["v"]) == "alternate")
        & (F.col("typ")["g"] == F.col("grp"))
        & F.lower(F.col("typ")["v"]).isin(*_FEED_MIME)
        & (F.col("href")["g"] == F.col("grp"))
    ).select(
        *ids,
        "event_idx",
        mime_map[F.lower(F.col("typ")["v"])].alias("feed_kind"),
        F.col("href")["v"].alias("feed_url"),
    )
    w_ord = Window.partitionBy(*ids).orderBy("event_idx")
    return hits.select(
        *ids,
        (F.row_number().over(w_ord) - 1).cast("int").alias("link_ord"),
        "feed_kind",
        "feed_url",
    )
