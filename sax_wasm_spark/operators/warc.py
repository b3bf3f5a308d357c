"""Crawl ingestion: WARC shards → pages rows, as a DataFrame operator.

The north rule's input is "an Iceberg table of Common-Crawl-style web
pages" — this operator is how such a table gets POPULATED from what a
crawl actually produces (WARC shards, see sources/warc.py). Layered
exactly like the PDF leg (operators/pdf.py):

* ``warc_to_pages``: (id…, warc:binary) → one row per response record
  (url, warc_date, http_status, content_type, html) via ``map_rows``
  — CPU-bound pure-Python record parsing scales with executor cores; a
  poison shard yields a single ``status='error:<Type>'`` row instead of
  killing the task (at crawl scale some shards WILL be truncated).
* ``render_warc_column``: the deterministic synthesis twin used by the
  ``warc_roundtrip`` oracle and tests — no external data.

Scale notes: one input row = one WARC shard (CC shards are ~1 GB; in
production the binary column comes from ``spark.read.format("binaryFile")``
or an Iceberg table of shard blobs). Record explosion happens inside the
Arrow batch, so the shuffle only ever carries the *output* page rows;
downstream stages (extract → filter → dedup) consume these rows exactly
as they consume synthesized pages today.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
)

from .rows import map_rows

WARC_PAGE_FIELDS = [
    StructField("url", StringType(), True),
    StructField("warc_date", StringType(), True),
    StructField("http_status", IntegerType(), True),
    StructField("content_type", StringType(), True),
    StructField("html", BinaryType(), True),
    StructField("status", StringType(), False),
    # malformed records skipped while parsing this row's shard (lenient
    # mode: one junk record must not discard a ~1 GB shard's good pages)
    StructField("n_bad_records", IntegerType(), False),
    # segment records (WARC-Segment-Number / continuation) left
    # UNassembled in this row's shard: complete within-shard chains are
    # reassembled into ordinary pages (ISO 28500 §5.20); chains whose
    # other segments live in another shard are skipped with this count
    StructField("n_segment_records", IntegerType(), False),
    # cross-shard stitching columns, populated ONLY on status='segment'
    # rows (emit_segments=True): the chain id, this record's segment
    # number, and the declared total payload length (final continuation
    # only) — the groupBy key and validation inputs of stitch_segments
    StructField("segment_origin", StringType(), True),
    StructField("segment_number", LongType(), True),
    StructField("segment_total", LongType(), True),
    # True = the segment-1 RESPONSE record; False = a continuation.
    # stitch_segments requires exactly one head per chain — a chain of
    # continuations numbered 1..N must not masquerade as complete
    # (ISO 28500 requires continuations to carry WARC-Target-URI too,
    # so the url alone cannot prove headness)
    StructField("segment_is_head", BooleanType(), True),
    # populated ONLY on status='revisit' rows (ISO 28500 §6.7.2
    # identical-payload-digest records — crawl-level dedup): the
    # referred capture's target uri (else record id). The payload is
    # not re-stored, so html is NULL; downstream resolves the page by
    # joining against the referred capture.
    StructField("revisit_of", StringType(), True),
    # populated ONLY on status='metadata' rows (ISO 28500 §6.9
    # application/warc-fields records — CC ships one per response with
    # the page's discovered links and fetch timing): the outlink values
    # SPACE-joined (query outputs never carry array cells — driver
    # contract — and a raw space is illegal inside a URL, so the join
    # is unambiguous where a comma would not be: RFC 3986 sub-delims
    # allow ',' in paths/queries) and the fetchTimeMs integer. html is
    # NULL — the record describes a capture, it isn't one.
    StructField("outlinks", StringType(), True),
    StructField("fetch_ms", LongType(), True),
]


def warc_to_pages(
    df: DataFrame,
    warc_col: str = "warc",
    id_cols: tuple[str, ...] = ("shard_id",),
    emit_segments: bool = False,
) -> DataFrame:
    """(id…, warc:binary) → (id…, url, warc_date, http_status,
    content_type, html, status). One output row per response record;
    one error row per unparseable shard. With ``emit_segments=True``,
    segment records that could not be reassembled within their shard
    come out as ``status='segment'`` rows (raw record body in ``html``,
    chain id / number / total in the segment columns) for a downstream
    :func:`stitch_segments` pass instead of being counted and
    dropped."""
    from ..sources.warc import parse_warc_with_segments  # noqa: PLC0415

    def shard_row(st, n_bad, n_seg):
        # a row for the shard itself: no record fields, only the counts
        return [(None,) * 5 + (st, n_bad, n_seg) + (None,) * 7]

    def shard_rows(blob):
        # one WARC_PAGE_FIELDS tuple per output row
        try:
            pages, n_skipped, leftovers = parse_warc_with_segments(
                blob if blob is not None else b""
            )
        except Exception as e:  # wholly unreadable shard → one error row
            return shard_row(f"error:{type(e).__name__}", 1, 0)
        n_segmented = len(leftovers)
        out = []
        if emit_segments:
            # unassembled segment records become stitchable rows
            for h, body in leftovers:
                is_cont = h.get("warc-type", "").lower() == "continuation"
                origin = (
                    h.get("warc-segment-origin-id", "")
                    if is_cont
                    else h.get("warc-record-id", "")
                ) or None
                try:
                    number = int(h.get("warc-segment-number", ""))
                except ValueError:
                    number = None
                try:
                    total = int(h["warc-segment-total-length"])
                except (KeyError, ValueError):
                    total = None
                out.append((
                    h.get("warc-target-uri") or None, h.get("warc-date") or None,
                    None, None, body, "segment", n_skipped, n_segmented,
                    origin, number, total, not is_cont, None, None, None,
                ))
        if not pages and not (emit_segments and leftovers):
            # a shard that yields no pages must not vanish: an
            # auditor reconciling input shards against output
            # rows needs one row per shard regardless of why it
            # produced nothing (ADVICE r4 + round-5 review).
            # 'segmented' = only cross-shard segments, 'empty' =
            # records skipped, 'no_responses' = a valid shard of
            # warcinfo/request records only (metadata records
            # produce their own rows).
            if n_segmented and not n_skipped:
                st = "segmented"
            elif n_skipped:
                st = "empty"
            else:
                st = "no_responses"
            return shard_row(st, n_skipped, n_segmented)
        for p in pages:
            revisit = outlinks = fetch_ms = None
            if p.metadata:
                status, html, st = None, None, "metadata"
                outlinks, fetch_ms = " ".join(p.outlinks) or None, p.fetch_ms
            elif p.revisit_of is not None:
                status, html, st, revisit = p.status, None, "revisit", p.revisit_of
            elif p.conversion:
                # WET-style converted payload: no HTTP envelope;
                # a §5.13-capped record keeps the truncation
                # signal exactly like the response path
                status, html = None, p.body
                st = "conversion_truncated" if p.truncated else "conversion"
            else:
                status, html = p.status, p.body
                st = "truncated" if p.truncated else "ok"
            out.append((
                p.url, p.warc_date, status, p.content_type, html, st,
                n_skipped, n_segmented, None, None, None, None,
                revisit, outlinks, fetch_ms,
            ))
        return out

    return map_rows(df, shard_rows, [warc_col], WARC_PAGE_FIELDS, id_cols)


def _render_blob_column(
    df: DataFrame,
    text_col: str,
    id_cols: tuple[str, ...],
    url_col: str | None,
    variant_col: str | None,
    make_blob,
) -> DataFrame:
    """Shared synthesis scaffold of the WARC/WET render twins:
    (id…, text[, url][, variant]) → (id…, warc:binary) via map_rows,
    with ``make_blob(first_id, url, text, variant) -> bytes`` supplying
    the per-document file. The default url is the ONE deterministic
    scheme every oracle states in closed form — keeping it here (not
    copy-pasted per renderer) is what lets the oracles share it."""
    opt_cols = [c for c in (url_col, variant_col) if c]

    def render(first_id, text, *opts):
        url = opts[0] if url_col else f"https://synth.example.com/p/{first_id}"
        variant = opts[-1] if variant_col else None
        return [(make_blob(first_id, url, text if text is not None else "", variant),)]

    return map_rows(
        df,
        render,
        [id_cols[0], text_col, *opt_cols],
        [StructField("warc", BinaryType(), False)],
        id_cols,
    )


def render_warc_column(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    url_col: str | None = None,
    variant_col: str | None = None,
) -> DataFrame:
    """(id…, text) → (id…, warc:binary): one 3-record gzipped WARC file
    per document (warcinfo + request + response — the reader's record
    filtering is always exercised). The response shape cycles
    ``first_id % 9`` (identity / chunked / gzip HTTP bodies, a
    WARC-Truncated record, a lone segment-1 record, a complete
    reassemblable segment chain, deflate HTTP bodies, a §6.7.2
    revisit record, and a response + §6.9 metadata-record pair — see
    ``build_warc``) unless ``variant_col`` names a
    per-row variant column; url defaults to a deterministic function of
    the first id. Partitioning-invariant. Oracle twin of warc_to_pages —
    change the cycle in BOTH or the warc_roundtrip oracle breaks."""
    from ..sources.warc import build_warc  # noqa: PLC0415

    def make_blob(i, url, text, variant):
        v = int(variant) if variant is not None else int(i) % 9
        return build_warc(
            url, "2024-01-01T00:00:00Z", text.encode("utf-8"), variant=v
        )

    return _render_blob_column(df, text_col, id_cols, url_col, variant_col, make_blob)


def stitch_segments(
    df: DataFrame, id_cols: tuple[str, ...] = ("shard_id",)
) -> DataFrame:
    """Cross-shard segment reassembly (ISO 28500 §5.20) — the one WARC
    path that cannot stay shard-local: ``status='segment'`` rows from
    ``warc_to_pages(..., emit_segments=True)`` are shuffled ON THE
    CHAIN ID (one groupBy — chains are bounded by a response's size, so
    no group can be hot beyond one document) and each complete chain is
    stitched back into an ordinary page row. Complete means: exactly
    ONE head (the segment-1 RESPONSE — continuations numbered 1..N must
    not masquerade, same rule as the within-shard reassembler),
    segments 1..N present exactly once, and the declared total length
    matches. Everything else — incomplete, conflicting, head-less, or
    missing its WARC-Segment-Origin-ID entirely — comes back as a
    ``status='segment_error'`` row with a record count, so stitch
    output reconciles 1:1 against input chains. Output schema ==
    warc_to_pages (id columns = MIN over the chain's shards)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from ..sources.warc import WarcError, _parse_http_response  # noqa: PLC0415

    seg = df.where(F.col("status") == "segment")
    # a continuation with no WARC-Segment-Origin-ID can never join a
    # chain — surface it as its own error row instead of dropping it
    # (each is its own "chain" keyed by a generated null-origin id)
    orphans = seg.where(F.col("segment_origin").isNull()).select(
        *id_cols,
        "url",
        "warc_date",
        F.lit(None).cast("int").alias("http_status"),
        F.lit(None).cast("string").alias("content_type"),
        F.lit(None).cast("binary").alias("html"),
        F.lit("segment_error").alias("status"),
        F.lit(0).alias("n_bad_records"),
        F.lit(1).alias("n_segment_records"),
        F.lit(None).cast("string").alias("segment_origin"),
        F.col("segment_number"),
        F.col("segment_total"),
        F.col("segment_is_head"),
        F.lit(None).cast("string").alias("revisit_of"),
        F.lit(None).cast("string").alias("outlinks"),
        F.lit(None).cast("long").alias("fetch_ms"),
    )
    grouped = (
        seg.where(F.col("segment_origin").isNotNull())
        .groupBy("segment_origin")
        .agg(
            # plain collect_list: order is irrelevant (the stitcher
            # re-keys by segment number) and sort_array would compare
            # multi-MB binary payloads byte-wise for nothing
            F.collect_list(
                F.struct("segment_number", "segment_is_head", "html")
            ).alias("_parts"),
            F.max("segment_total").alias("_total"),
            # url/date must come from the HEAD record only — a
            # continuation's Target-URI must not be attributed to the
            # page if records disagree
            F.max(F.when(F.col("segment_is_head"), F.col("url"))).alias("_url"),
            F.max(
                F.when(F.col("segment_is_head"), F.col("warc_date"))
            ).alias("_date"),
            *[F.min(c).alias(c) for c in id_cols],
        )
    )

    def stitch(origin, recs, total, url, date):
        parts = {p["segment_number"]: p["html"] for p in recs}
        heads = [p["segment_number"] for p in recs if p["segment_is_head"]]
        ok = (
            heads == [1]  # exactly one head, and it is segment 1
            and None not in parts
            and len(parts) == len(recs)  # no duplicate numbers
            and set(parts) == set(range(1, max(parts) + 1))
            and total is not None
            and url is not None
        )
        page = None
        if ok:
            payload = b"".join(parts[k] for k in range(1, max(parts) + 1))
            if len(payload) == total:
                try:
                    page = _parse_http_response(payload)
                except WarcError:
                    page = None
        if page is None:
            head = (None, None, None, "segment_error", 0, len(recs))
        else:
            head = (*page, "ok", 0, 0)
        return [(url, date, *head, origin, None, total, None, None, None, None)]

    return map_rows(
        grouped,
        stitch,
        ["segment_origin", "_parts", "_total", "_url", "_date"],
        WARC_PAGE_FIELDS,
        id_cols,
    ).unionByName(orphans)


def render_warc_split_column(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Cross-shard synthesis twin of :func:`stitch_segments`: every
    document becomes TWO shard rows — (id…, part 0) holding
    warcinfo + request + the segment-1 response, (id…, part 1) holding
    the continuation record alone — i.e. the chain is guaranteed to
    span shards, so within-shard reassembly can never fire and the
    stitch path is what reconstructs every page. Deterministic, no
    external data (build_warc variant 5 split at the continuation
    marker)."""
    from ..sources.warc import build_warc  # noqa: PLC0415

    marker = b"WARC/1.0\r\nWARC-Type: continuation"

    def split(first_id, text):
        full = build_warc(
            f"https://synth.example.com/p/{first_id}",
            "2024-01-01T00:00:00Z",
            (text if text is not None else "").encode("utf-8"),
            variant=5,
            gzipped=False,
        )
        cut = full.find(marker)
        return [(0, full[:cut]), (1, full[cut:])]

    return map_rows(
        df,
        split,
        [id_cols[0], text_col],
        [
            StructField("part", IntegerType(), False),
            StructField("warc", BinaryType(), False),
        ],
        id_cols,
    )


def resolve_revisits(pages: DataFrame, keep_unresolved: bool = True) -> DataFrame:
    """Fill ``status='revisit'`` rows' payloads from their referred
    captures: each revisit row joins against the corpus's full captures
    (``status in (ok, truncated)``) on ``revisit_of == url`` and, when
    a capture exists, takes its html/content_type and becomes
    ``status='revisit_resolved'``. Rows whose referred capture is not
    in this corpus (another crawl, an unsurfaced shard) stay
    ``'revisit'`` when ``keep_unresolved`` (the accounting-honest
    default) or drop otherwise. Non-revisit rows pass through
    untouched.

    Scale shape: the captures side first reduces to ONE representative
    row per url (max over a (warc_date, http_status, content_type,
    html) struct — latest capture wins, full lexicographic tiebreak so
    the choice is deterministic under any partitioning), then ONE
    url-keyed join against only the revisit subset — the join's left
    side is the corpus's revisit fraction, not the corpus."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    cap = F.struct("warc_date", "http_status", "content_type", "html")
    captures = (
        pages.where(F.col("status").isin("ok", "truncated"))
        .groupBy(F.col("url").alias("_cap_url"))
        .agg(F.max(cap).alias("_cap"))
    )
    revisits = pages.where(F.col("status") == "revisit")
    others = pages.where(F.col("status") != "revisit")
    joined = revisits.join(
        captures, revisits["revisit_of"] == captures["_cap_url"], "left"
    )
    resolved = joined.select(
        *[
            c
            for c in revisits.columns
            if c not in ("http_status", "content_type", "html", "status")
        ],
        F.coalesce(F.col("_cap.http_status"), F.col("http_status")).alias(
            "http_status"
        ),
        F.coalesce(F.col("_cap.content_type"), F.col("content_type")).alias(
            "content_type"
        ),
        F.col("_cap.html").alias("html"),
        F.when(F.col("_cap_url").isNotNull(), F.lit("revisit_resolved"))
        .otherwise(F.lit("revisit"))
        .alias("status"),
    )
    if not keep_unresolved:
        resolved = resolved.where(F.col("status") == "revisit_resolved")
    return others.unionByName(resolved.select(*others.columns))


def render_wet_column(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    url_col: str | None = None,
) -> DataFrame:
    """(id…, text) → (id…, warc:binary): one WET file per document
    (warcinfo + a §6.8 conversion record whose block is the text) —
    the synthesis twin of the conversion-record reader path, sharing
    :func:`render_warc_column`'s scaffold. Partitioning-invariant."""
    from ..sources.warc import build_wet  # noqa: PLC0415

    return _render_blob_column(
        df, text_col, id_cols, url_col, None,
        lambda i, url, text, variant: build_wet([(url, text)]),
    )
