"""One Arrow row-map primitive for the Python stages.

``map_rows`` runs a per-row Python function inside ``mapInArrow`` and
owns everything around it: one ``to_pylist`` per column per batch, the
Arrow output schema (built once, on the driver), repetition of the id
columns onto every output row, batch assembly, and the poison policy.
``fn`` returns a list of output tuples, so one shape covers filters
(1→0), projections (1→1) and fan-outs (1→n).

Poison policy: a stage that names an ``error_col`` turns any exception
from ``fn`` into ONE row carrying the input's ids, NULL outputs and
``error:<message>`` in that column — at 10^12 documents some input
WILL be malformed, and one escaped exception fails the job. Typed
errors that need a partial field on their row (a sniffed ``format``,
say) are built by ``fn`` itself; the policy is the backstop. A stage
without an ``error_col`` lets the exception fail the task (writer-twin
renders, whose input is trusted).

The benchmarked operators (``extract_main_content``,
``tokenize_events``, ``warc_to_pages``) keep their own batch loops:
each has a batch-level specialisation (slicing, bulk id repetition,
columnar kernels) that a per-row primitive would give up.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.types import StructField, StructType


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
    arrow_schema = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType), f.nullable) for f in out_schema.fields]
    )

    def error_row(e: Exception) -> tuple:
        # the message goes into an Arrow utf-8 column: lone surrogates
        # (from surrogateescape'd names) must not fail the batch
        msg = f"error:{e}".encode("utf-8", "replace").decode("utf-8")
        return tuple(msg if k == err else None for k in range(n_out))

    def run(batches):
        for rb in batches:
            cols = [c.to_pylist() for c in rb.columns]
            ids = [cols[p] for p in id_pos]
            args = zip(*[cols[p] for p in in_pos]) if in_pos else [()] * rb.num_rows
            out_ids: list[list] = [[] for _ in ids]
            out: list[list] = [[] for _ in range(n_out)]
            for row, vals in enumerate(args):
                try:
                    recs = fn(*vals)
                except Exception as e:
                    if err is None:
                        raise
                    recs = [error_row(e)]
                for rec in recs:
                    for src, dst in zip(ids, out_ids):
                        dst.append(src[row])
                    for dst, v in zip(out, rec):
                        dst.append(v)
            arrays = [
                pa.array(vals, type=f.type)
                for vals, f in zip(out_ids + out, arrow_schema)
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return df.select(*src_cols).mapInArrow(run, schema=out_schema)
