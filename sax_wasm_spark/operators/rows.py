"""One Arrow row-map primitive for every Python stage.

``map_rows`` runs a per-row Python function inside ``mapInArrow`` and
owns everything around it: slicing each incoming batch into
``SLICE_ROWS``-row slices, one ``to_pylist`` per input column per
slice, the Arrow types of the output fields (built once, on the
driver), repetition of the id columns onto every output row, batch
assembly, and the poison policy. ``fn`` returns a list of output tuples, so one shape
covers filters (1→0), projections (1→1) and fan-outs (1→n).

Batch assembly: a slice's output tuples are collected in one list with
a parallel row index, transposed once (``zip(*rows)``) into one
``pa.array`` per output field, and the id columns are repeated in
Arrow (``take`` on the row index) — never turned into Python objects,
so they keep the input's exact Arrow type. A tokenizer's per-event id
columns are runs of a few hundred equal values; ``take`` builds them
without one Python object per event.

Poison policy: a stage that names an ``error_col`` turns any exception
from ``fn`` into ONE row carrying the input's ids, NULL outputs and
``error:<message>`` in that column — at 10^12 documents some input
WILL be malformed, and one escaped exception fails the job. Typed
errors that need a partial field on their row (a sniffed ``format``,
say) are built by ``fn`` itself; the policy is the backstop. A stage
without an ``error_col`` lets the exception fail the task (writer-twin
renders, whose input is trusted).
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType

# input rows per slice: a task may read a whole scan split as one
# batch, so turning at most this many rows (and their outputs) into
# Python objects at a time keeps worker memory flat
SLICE_ROWS = 128


def map_rows(
    df: DataFrame,
    fn: Callable[..., list],
    in_cols: Sequence[str],
    out_fields: Sequence[StructField] | str,
    id_cols: Sequence[str] = (),
    error_col: str | None = None,
) -> DataFrame:
    """(id…, in…) → (id…, out…): ``fn(*in_values)`` returns a list of
    tuples matching ``out_fields`` (a StructField list or a DDL string);
    each tuple becomes one output row with the input row's ids. NULL
    input cells reach ``fn`` as ``None``. A column may be both an id and
    an input. With ``error_col`` every other output field is declared
    nullable, since any row may be an error row."""
    import pyarrow as pa  # noqa: PLC0415

    from pyspark.sql.pandas.types import to_arrow_type  # noqa: PLC0415

    id_cols, in_cols = list(id_cols), list(in_cols)
    src_cols = list(dict.fromkeys(id_cols + in_cols))
    id_pos = [src_cols.index(c) for c in id_cols]
    in_pos = [src_cols.index(c) for c in in_cols]
    if isinstance(out_fields, str):
        out_fields = StructType.fromDDL(out_fields).fields
    out_fields = list(out_fields)
    n_out = len(out_fields)
    err = None
    if error_col is not None:
        err = [f.name for f in out_fields].index(error_col)
        out_fields = [
            f if k == err else StructField(f.name, f.dataType, True, f.metadata)
            for k, f in enumerate(out_fields)
        ]
    out_schema = StructType([df.schema[c] for c in id_cols] + out_fields)
    arrow_out = [
        pa.field(f.name, to_arrow_type(f.dataType), f.nullable) for f in out_fields
    ]

    def error_row(e: Exception) -> tuple:
        # the message goes into an Arrow utf-8 column: lone surrogates
        # (from surrogateescape'd names) must not fail the batch
        msg = f"error:{e}".encode("utf-8", "replace").decode("utf-8")
        return tuple(msg if k == err else None for k in range(n_out))

    def run(batches):
        for batch in batches:
            # id fields as the JVM sent them: take() keeps their type
            schema = pa.schema([batch.schema.field(p) for p in id_pos] + arrow_out)
            for off in range(0, batch.num_rows, SLICE_ROWS):
                rb = batch.slice(off, SLICE_ROWS)
                args = (
                    zip(*[rb.column(p).to_pylist() for p in in_pos])
                    if in_pos
                    else [()] * rb.num_rows
                )
                rows: list[tuple] = []
                idx: list[int] = []
                for r, vals in enumerate(args):
                    try:
                        recs = fn(*vals)
                    except Exception as e:
                        if err is None:
                            raise
                        recs = [error_row(e)]
                    n = len(rows)
                    rows.extend(recs)
                    idx.extend([r] * (len(rows) - n))
                take = pa.array(idx, pa.int32())
                cols = list(zip(*rows)) if rows else [()] * n_out
                arrays = [rb.column(p).take(take) for p in id_pos] + [
                    pa.array(vals, type=f.type) for vals, f in zip(cols, arrow_out)
                ]
                yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    return df.select(*src_cols).mapInArrow(run, schema=out_schema)
