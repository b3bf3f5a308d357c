"""Deterministic hash sampling & corpus mixing (codegen expressions).

Training-corpus preparation ends with MIXING: each source gets a target
weight and the job must sample it reproducibly — the same document set
regardless of partitioning, cluster size, retries, or engine, which
rules out ``df.sample()`` (seeded per-partition RNG: the sample changes
whenever partitioning does). The standard fix is a content-keyed hash
gate: ``bucket = int(md5(seed || key)[:8 hex], 16) % granularity``,
keep iff ``bucket < weight * granularity``. md5 is bit-identical
everywhere (the DuckDB oracle mirrors it verbatim), uniform enough for
rate gating, and keyed on a stable id — so mixes are idempotent and
auditable at 10^12 documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

GRANULARITY = 1_000_000


def hash_bucket(col: Column | str, seed: str = "", granularity: int = GRANULARITY) -> Column:
    """Uniform deterministic bucket in [0, granularity): first 8 hex
    chars of md5(seed ':' key) parsed base-16. Engine-portable: the SQL
    twin is ``CAST('0x' || substr(md5(...), 1, 8) AS BIGINT)``."""
    key = F.concat(F.lit(seed + ":"), F.col(col).cast("string") if isinstance(col, str) else col.cast("string"))
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % granularity


def mix_corpus(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    key_col: str = "doc_id",
    default_weight: float = 0.0,
    seed: str = "mix",
) -> DataFrame:
    """Per-source deterministic sampling: source s keeps ``weights[s]``
    of its documents (``default_weight`` otherwise; weight ≥ 1 keeps
    all). One scan, one codegen predicate — no per-source job."""
    thresh = F.lit(int(default_weight * GRANULARITY))
    for s, w in sorted(weights.items()):
        thresh = F.when(F.col(source_col) == s, F.lit(int(w * GRANULARITY))).otherwise(
            thresh
        )
    return df.where(hash_bucket(key_col, seed) < thresh)
