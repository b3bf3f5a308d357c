"""Snapshot diff — recrawl-delta classification for a living corpus.

A web-scale training corpus is re-crawled continuously; each refresh
needs to know, per key (url / doc_id), whether the document is
``unchanged`` (same content hash — skip reprocessing), ``changed``
(re-extract + re-dedup just these), ``added`` (new work), or
``deleted`` (tombstone downstream artifacts). Classifying the delta
FIRST is what keeps an incremental pipeline incremental: at a 5%
churn rate, 95% of extraction/dedup compute is skipped.

Scale shape: one full-outer join on the key — both sides shuffle on
the same key the corpus is already sharded by (url-hash), so with
bucketed/co-partitioned snapshot tables the exchange disappears
entirely; content comparison is an md5 equality, never a byte-wise
text comparison across the join. No driver-side state, no windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "url",
    text_col: str = "text",
    out_col: str = "change",
    hash_col: str | None = None,
) -> DataFrame:
    """(key, change, old_hash, new_hash) for every key in either
    snapshot: ``unchanged`` / ``changed`` / ``added`` / ``deleted``.
    Hashes travel through the join instead of the texts, so the
    shuffle carries ~32 bytes per row regardless of document size.

    Presence is tracked by KEY membership (never by hash nullity) and
    the content comparison is null-safe, so a key whose text is NULL
    on one or both sides classifies as changed/unchanged — not as a
    phantom add/delete that would tombstone a live document.

    Exactly ONE output row per key, even when a key is duplicated in
    either snapshot: each side pre-aggregates to (key, count, min
    hash) before the join, and a key duplicated on either side never
    classifies as ``unchanged`` — per-row identity is ambiguous under
    duplication, so it is ``changed`` (reprocess). The reported hash
    for a duplicated key is the minimum across its rows.

    This is the one implementation of the rule: the extraction refresh
    (plans/lineage.run_extraction_incremental, over ``html_hash``) and
    the incremental dedup (operators/dedup.dedup_churn, over
    ``content_hash``) both classify through it.

    ``hash_col`` names an already-computed content-hash column on both
    inputs (e.g. the ``html_hash`` the extraction snapshot persists);
    without it the hash is ``md5(text_col)``.
    """
    if hash_col is not None:
        oh = F.col(hash_col)
        nh = F.col(hash_col)
    else:
        oh = F.md5(F.col(text_col))
        nh = F.md5(F.col(text_col))
    o = (
        old.select(F.col(key_col).alias("_k"), oh.alias("old_hash"))
        .groupBy("_k")
        .agg(
            F.count("*").alias("_n_old"),
            F.min("old_hash").alias("old_hash"),
        )
    )
    n = (
        new.select(F.col(key_col).alias("_k"), nh.alias("new_hash"))
        .groupBy("_k")
        .agg(
            F.count("*").alias("_n_new"),
            F.min("new_hash").alias("new_hash"),
        )
    )
    joined = o.join(n, "_k", "full_outer")
    return joined.select(
        F.col("_k").alias(key_col),
        F.when(F.col("_n_old").isNull(), F.lit("added"))
        .when(F.col("_n_new").isNull(), F.lit("deleted"))
        .when(
            (F.col("_n_old") == 1)
            & (F.col("_n_new") == 1)
            & F.col("old_hash").eqNullSafe(F.col("new_hash")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
        .alias(out_col),
        "old_hash",
        "new_hash",
    )

