"""Spark tokenizer operator: html bytes → SAX event rows.

Design (SURVEY.md §1.6/§3.4): the corpus is a DataFrame; each row's
``html`` binary cell is one reference byte-stream. The kernel runs
inside ``mapInArrow`` through ``operators/rows.map_rows`` (Arrow-batched,
iterator API — no per-row Python UDFs), emitting the flat event schema
of FIXTURES.md §2 one row per event.

Why exploded-flat rather than array<struct>: the downstream relational
operators (explode/filter/agg/window in SURVEY.md §2.4) all want events
as rows, and flat columns keep the Arrow transfer columnar and cheap.
Per-document event order is carried by an explicit ``event_idx`` column
because shuffles do not preserve row order.

The per-task memory is bounded: one document's parser state + the events
of one ``rows.SLICE_ROWS``-document slice — the analogue of the
reference's fixed WASM linear memory (saxWasm.ts:794).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernel.collect import ALL_EVENTS
from ..kernel.fastsax import parse_doc_flat
from ..kernel.fastsax_np import parse_doc_flat_np
from .rows import map_rows

_EVENT_FIELDS = [
    StructField("event", IntegerType(), False),
    StructField("event_idx", IntegerType(), False),
    StructField("name", StringType(), True),
    StructField("value", BinaryType(), True),
    StructField("attr_name", BinaryType(), True),
    StructField("attr_value", BinaryType(), True),
    StructField("attr_type", IntegerType(), True),
    StructField("self_closing", BooleanType(), True),
    StructField("target", BinaryType(), True),
    StructField("content", BinaryType(), True),
    StructField("line_start", LongType(), True),
    StructField("char_start", LongType(), True),
    StructField("line_end", LongType(), True),
    StructField("char_end", LongType(), True),
    StructField("open_end_line", LongType(), True),
    StructField("open_end_char", LongType(), True),
    StructField("close_start_line", LongType(), True),
    StructField("close_start_char", LongType(), True),
    StructField("byte_start", LongType(), True),
    StructField("byte_end", LongType(), True),
]

_COLS = [f.name for f in _EVENT_FIELDS]


def tokenize_events(
    df: DataFrame,
    html_col: str = "html",
    id_cols: tuple[str, ...] = ("url",),
    events: int = ALL_EVENTS,
    positions: bool = True,
) -> DataFrame:
    """One output row per SAX event, flat columns (FIXTURES.md §2); the
    id columns are repeated per event row and a NULL html yields no
    rows. Streaming-parity checks (the same document fed in fixed-size
    writes) run on the kernel directly: ``kernel.collect.parse_events``
    with ``chunk_size``.

    ``positions=False`` runs the positions-off kernel (fastsax_np):
    line/char columns come back 0, byte offsets stay exact, the parse
    is ~1.5x faster — the Python-stage analogue of column pruning.
    Pass it whenever downstream never reads the position columns
    (the extractor and the event-histogram/text/attribute queries);
    the position surface itself is oracle-checked by sax_positions,
    which keeps the default.

    The kernel's row tuples are the output rows: ``map_rows`` builds
    the Arrow batch from them and repeats the ids in Arrow.
    """
    parse = parse_doc_flat if positions else parse_doc_flat_np

    def tokenize(data):
        return [] if data is None else parse(data, events)

    return map_rows(df, tokenize, [html_col], _EVENT_FIELDS, id_cols)


def tokenize_nested(
    df: DataFrame,
    html_col: str = "html",
    id_cols: tuple[str, ...] = ("url",),
    events: int = ALL_EVENTS,
) -> DataFrame:
    """Nested variant (SURVEY.md §1.6): one row per document with an
    ``events array<struct<...>>`` column. Prefer ``tokenize_events`` for
    analytics (flat columns transfer faster through Arrow); this shape
    suits per-document consumers that want the whole stream in one cell.
    """
    def nest(data):
        if data is None:
            return []
        return [([dict(zip(_COLS, r)) for r in parse_doc_flat(data, events)],)]

    return map_rows(
        df,
        nest,
        [html_col],
        [StructField("events", ArrayType(StructType(_EVENT_FIELDS)), False)],
        id_cols,
    )
