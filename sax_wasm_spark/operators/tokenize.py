"""Spark tokenizer operator: html bytes → SAX event rows.

Design (SURVEY.md §1.6/§3.4): the corpus is a DataFrame; each row's
``html`` binary cell is one reference byte-stream. The kernel runs
inside ``mapInArrow`` (Arrow-batched, iterator API — the fast Python
lane per the input_hint's "no per-row Python UDFs"), emitting the flat
event schema of FIXTURES.md §2 one row per event.

Why exploded-flat rather than array<struct>: the downstream relational
operators (explode/filter/agg/window in SURVEY.md §2.4) all want events
as rows, and flat columns keep the Arrow transfer columnar and cheap.
Per-document event order is carried by an explicit ``event_idx`` column
because shuffles do not preserve row order.

The per-task memory is bounded: one document's parser state + one Arrow
batch (``spark.sql.execution.arrow.maxRecordsPerBatch``) — the analogue
of the reference's fixed WASM linear memory (saxWasm.ts:794).
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

from ..kernel.collect import ALL_EVENTS, EventCollector
from ..kernel.fastsax import parse_doc_flat
from ..kernel.fastsax_np import parse_doc_flat_np
from ..kernel.saxkernel import SaxParser
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


def event_schema(id_fields: list[StructField]) -> StructType:
    return StructType(list(id_fields) + _EVENT_FIELDS)


def tokenize_events(
    df: DataFrame,
    html_col: str = "html",
    id_cols: tuple[str, ...] = ("url",),
    events: int = ALL_EVENTS,
    chunk_size: int = 0,
    positions: bool = True,
) -> DataFrame:
    """One output row per SAX event, flat columns (FIXTURES.md §2).

    ``chunk_size`` > 0 streams each document through the parser in
    fixed-size writes (event values are identical; used for streaming-
    parity tests). The id columns are repeated per event row.

    ``positions=False`` runs the positions-off kernel (fastsax_np):
    line/char columns come back 0, byte offsets stay exact, the parse
    is ~1.5x faster — the Python-stage analogue of column pruning.
    Pass it whenever downstream never reads the position columns
    (the extractor and the event-histogram/text/attribute queries);
    the position surface itself is oracle-checked by sax_positions,
    which keeps the default.

    Output batches are built as pyarrow RecordBatches directly
    (``mapInArrow``): the kernel's row tuples are transposed once and
    handed to ``pa.array`` (C-level), skipping the round-1
    pandas-DataFrame intermediate and its object-dtype inference +
    pandas→Arrow reconversion on every batch.
    """
    import pyarrow as pa  # noqa: PLC0415

    from pyspark.sql.pandas.types import to_arrow_type  # noqa: PLC0415

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = event_schema(id_fields)
    arrow_fields = [
        pa.field(f.name, to_arrow_type(f.dataType), f.nullable) for f in out_schema.fields
    ]
    arrow_schema = pa.schema(arrow_fields)
    n_id = len(id_cols)
    src = df.select(*id_cols, html_col)

    def run(batches):
        collector = EventCollector()
        for rb in batches:
            htmls = rb.column(n_id).to_pylist()
            ids = [rb.column(j).to_pylist() for j in range(n_id)]
            out_ids: list[list] = [[] for _ in range(n_id)]
            out_rows: list[tuple] = []
            for i, data in enumerate(htmls):
                if data is None:
                    continue
                if isinstance(data, (bytearray, memoryview)):
                    data = bytes(data)
                if chunk_size and chunk_size < len(data):
                    # streaming-parity mode: feed the FSM in fixed chunks
                    collector.reset()
                    parser = SaxParser(events=events, handler=collector)
                    for o in range(0, len(data), chunk_size):
                        parser.write(data[o : o + chunk_size])
                    parser.end()
                    rows = collector.rows
                elif positions:
                    # hot path: single-shot kernel w/ automatic FSM fallback
                    rows = parse_doc_flat(data, events)
                else:
                    rows = parse_doc_flat_np(data, events)
                if rows:
                    for j in range(n_id):
                        out_ids[j].extend([ids[j][i]] * len(rows))
                    out_rows.extend(rows)
            if out_rows:
                cols = list(zip(*out_rows))
            else:
                cols = [[] for _ in _COLS]
            arrays = [
                pa.array(out_ids[j], type=arrow_fields[j].type) for j in range(n_id)
            ] + [
                pa.array(cols[k], type=arrow_fields[n_id + k].type)
                for k in range(len(_COLS))
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return src.mapInArrow(run, schema=out_schema)


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
