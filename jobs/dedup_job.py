"""Production dedup job — the full "which rows do I drop" pipeline.

Composes the dedup family end-to-end over a documents table:

  1. exact pass: md5(content) groupBy — exact duplicates collapse to
     their min-id representative without any pair machinery;
  2. near-dup candidates: in-row shingle/minhash signatures → band
     buckets → bucket self-join (operators/dedup.minhash_lsh_pairs);
  3. verification: exact n-gram Jaccard on candidates only, filtered
     at --jaccard (kills LSH false positives);
  4. cluster resolution: verified pairs → connected components →
     (doc_id, rep_id, keep) (operators/clusters.resolve_clusters);
  5. survivors: documents anti-joined against the drop list
     (near-dup non-representatives ∪ exact-dup non-representatives).

Usage (cluster):
    zip -r sax_wasm_spark.zip sax_wasm_spark
    spark-submit --py-files sax_wasm_spark.zip jobs/dedup_job.py \\
        --input <documents parquet> --output <root> --jaccard 0.8

Usage (sandbox):
    python jobs/dedup_job.py --input /root/testdata/sf0.01/documents.parquet \\
        --output /tmp/dedup_out

With ``--previous <prior output root>`` the job runs INCREMENTALLY:
churn is classified against the prior run's persisted hash table, only
churned docs re-shingle, their band rows join against the persisted
signature store, and still-valid previous verified pairs carry over —
at a few percent churn the signature and self-join stages shrink to
the churn's size (see run_dedup_incremental).

Scale notes: stages 1-3 shuffle only on hash/bucket/id keys (never on
raw text); stage 4's loop runs over the pair list (orders of magnitude
smaller than the corpus); stage 5 is one broadcast-able anti-join. The
drop list, keep table, verified-pair table, content-hash table and
band-bucket signature store are all persisted — the last two are the
next refresh's --previous input.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_dedup(
    spark,
    docs,
    out_path: str,
    jaccard: float = 0.8,
    n_hashes: int = 8,
    band_size: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = 10_000,
) -> dict:
    from pyspark.sql import functions as F  # noqa: PLC0415

    from sax_wasm_spark.operators.dedup import (  # noqa: PLC0415
        band_buckets,
        content_hashes,
        minhash_lsh_pairs,
        ngram_jaccard,
    )

    # 0. persist the refresh state FIRST: the content-hash table, the
    # band-bucket signature store, and the LSH/verify parameters are
    # what a later incremental run (--previous) diffs against. Hashes
    # and buckets are also reused below, so the signature stage runs
    # exactly once (read back from parquet).
    _write_params(spark, out_path, jaccard, n_hashes, band_size)
    hashes = content_hashes(docs, id_col, text_col)
    hashes.write.mode("overwrite").parquet(f"{out_path}/hashes")
    hashes = spark.read.parquet(f"{out_path}/hashes")
    band_buckets(docs, n_hashes, band_size, id_col, text_col).write.mode(
        "overwrite"
    ).parquet(f"{out_path}/buckets")
    buckets = spark.read.parquet(f"{out_path}/buckets")

    # 1. exact duplicates (hash-table groupBy — 32 B/row, no text)
    exact_drops = _exact_drops(hashes, id_col)

    # 2-3. near-dup candidates, verified by exact Jaccard. The hot-
    # bucket guard caps the bucket self-join's worst key: a degenerate
    # bucket (mass-duplicated boilerplate) is dropped WITH a logged
    # count — its members are exact duplicates of each other in
    # practice and stage 1 already collapsed those.
    pairs = minhash_lsh_pairs(
        docs,
        n_hashes,
        band_size,
        id_col,
        text_col,
        max_bucket=max_bucket,
        buckets=buckets,
    )
    verified = ngram_jaccard(docs, pairs, id_col, text_col).where(
        F.col("jaccard") >= jaccard
    )
    verified.write.mode("overwrite").parquet(f"{out_path}/pairs")
    cached = getattr(pairs, "_sax_persisted", None)
    if cached is not None:  # free the armed hot-bucket guard's cache
        cached.unpersist()

    return _finish_dedup(spark, docs, out_path, exact_drops, id_col)


def _write_params(spark, out_path: str, jaccard: float, n_hashes: int, band_size: int):
    """One-row parquet recording the parameters the persisted state
    was built with — the incremental path validates against it, since
    carried-over pairs filtered at a different jaccard (or a store
    built with a different LSH geometry) would silently break the
    incremental == from-scratch guarantee (round-6 review)."""
    spark.createDataFrame(
        [(float(jaccard), int(n_hashes), int(band_size))],
        "jaccard double, n_hashes int, band_size int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{out_path}/params")


def _check_params(spark, previous_path: str, jaccard: float, n_hashes: int, band_size: int):
    from pyspark.errors import AnalysisException  # noqa: PLC0415

    try:
        row = spark.read.parquet(f"{previous_path}/params").first()
    except AnalysisException:
        raise ValueError(
            f"previous run at {previous_path!r} has no params table — "
            "it predates incremental-state persistence; re-run dedup "
            "from scratch once to establish a refreshable state"
        ) from None
    prev = (row["jaccard"], row["n_hashes"], row["band_size"])
    cur = (float(jaccard), int(n_hashes), int(band_size))
    if prev != cur:
        raise ValueError(
            f"incremental dedup parameter drift: previous state was built "
            f"with (jaccard, n_hashes, band_size)={prev}, refresh asked "
            f"for {cur}. Carried-over pairs/store rows would not match a "
            "from-scratch run — re-run without --previous to change "
            "parameters"
        )


def _exact_drops(hashes, id_col: str):
    """Non-representative exact duplicates from the hash table."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from sax_wasm_spark.operators.dedup import exact_dedup  # noqa: PLC0415

    exact = exact_dedup(hashes, id_col)
    return (
        hashes.join(exact.where(F.col("n_copies") > 1), "content_hash")
        .where(F.col(id_col) != F.col("rep_doc_id"))
        .select(F.col(id_col).alias("drop_id"), F.lit("exact").alias("reason"))
    )


def _finish_dedup(spark, docs, out_path: str, exact_drops, id_col: str) -> dict:
    """Shared tail of the from-scratch and incremental jobs: verified
    pairs (already at {out_path}/pairs) → connected components → drop
    list → survivors → stats."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from sax_wasm_spark.operators.clusters import resolve_clusters  # noqa: PLC0415

    verified = spark.read.parquet(f"{out_path}/pairs")

    # 4. components → representatives
    clusters = resolve_clusters(verified)
    clusters.write.mode("overwrite").parquet(f"{out_path}/clusters")
    cached = getattr(clusters, "_sax_persisted", None)
    if cached is not None:  # free the final checkpoint's blocks
        cached.unpersist()
    clusters = spark.read.parquet(f"{out_path}/clusters")
    near_drops = clusters.where(~F.col("keep")).select(
        F.col("doc_id").alias("drop_id"), F.lit("near").alias("reason")
    )

    # 5. survivors = docs minus the union-ed drop list
    drops = exact_drops.unionByName(near_drops).groupBy("drop_id").agg(
        F.min("reason").alias("reason")
    )
    drops.write.mode("overwrite").parquet(f"{out_path}/drops")
    drops = spark.read.parquet(f"{out_path}/drops")
    kept = docs.join(
        drops.withColumnRenamed("drop_id", id_col), id_col, "left_anti"
    )
    kept.write.mode("overwrite").parquet(f"{out_path}/kept")

    n_docs = docs.count()
    n_drop = drops.count()
    return {
        "n_docs": n_docs,
        "n_pairs_verified": verified.count(),
        "n_clusters": clusters.where(F.col("keep")).count(),
        "n_dropped": n_drop,
        "n_kept": n_docs - n_drop,
    }


def run_dedup_incremental(
    spark,
    docs,
    out_path: str,
    previous_path: str,
    jaccard: float = 0.8,
    n_hashes: int = 8,
    band_size: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = 10_000,
) -> dict:
    """Refresh dedup against a PREVIOUS run's persisted state
    (VERDICT r5 item 6): unchanged docs (hash-equal per the previous
    {previous_path}/hashes table) keep their signature-store rows and
    their verified pairs verbatim; only churned docs re-shingle, and
    only (churned × store) band matches pay the Jaccard check. Cluster
    resolution then runs over the merged pair list — orders of
    magnitude smaller than the corpus — so the refresh never touches
    the signature or self-join stages for the unchanged ~95%+. Output
    layout and stats match :func:`run_dedup`; with the guard settings
    equal and no hot-bucket threshold crossings the output tables are
    row-identical to a from-scratch run (asserted in
    tests/test_spark_operators.py)."""
    from sax_wasm_spark.operators.dedup import (  # noqa: PLC0415
        content_hashes,
        dedup_churn,
        incremental_band_buckets,
        incremental_verified_pairs,
    )

    if previous_path == out_path:
        raise ValueError(
            "incremental dedup cannot write in place: out_path must "
            "differ from previous_path (the previous state is lazily "
            "read during the refresh writes)"
        )
    _check_params(spark, previous_path, jaccard, n_hashes, band_size)
    _write_params(spark, out_path, jaccard, n_hashes, band_size)
    prev_hashes = spark.read.parquet(f"{previous_path}/hashes")
    prev_buckets = spark.read.parquet(f"{previous_path}/buckets")
    prev_verified = spark.read.parquet(f"{previous_path}/pairs")

    hashes = content_hashes(docs, id_col, text_col)
    hashes.write.mode("overwrite").parquet(f"{out_path}/hashes")
    hashes = spark.read.parquet(f"{out_path}/hashes")
    churned_ids, unchanged_ids = dedup_churn(hashes, prev_hashes, id_col)

    # refreshed signature store: materialized before the pair join so
    # the store side reads parquet instead of recomputing churned
    # signatures per consumer
    incremental_band_buckets(
        docs, prev_buckets, churned_ids, unchanged_ids,
        n_hashes, band_size, id_col, text_col,
    ).write.mode("overwrite").parquet(f"{out_path}/buckets")
    new_buckets = spark.read.parquet(f"{out_path}/buckets")

    verified = incremental_verified_pairs(
        docs,
        new_buckets,
        prev_verified,
        churned_ids,
        unchanged_ids,
        jaccard=jaccard,
        id_col=id_col,
        text_col=text_col,
        max_bucket=max_bucket,
    )
    verified.write.mode("overwrite").parquet(f"{out_path}/pairs")
    cached = getattr(verified, "_sax_persisted", None)
    if cached is not None:
        cached.unpersist()

    stats = _finish_dedup(
        spark, docs, out_path, _exact_drops(hashes, id_col), id_col
    )
    stats["n_churned"] = churned_ids.count()
    stats["n_sigs_reused"] = unchanged_ids.count()
    return stats


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet (doc_id, text, ...)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument(
        "--max-bucket",
        type=int,
        default=10_000,
        help="drop LSH buckets larger than this before the self-join (0 disables)",
    )
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument(
        "--previous",
        default=None,
        help="previous run's output root: refresh incrementally against "
        "its hashes/buckets/pairs state instead of re-running minhash "
        "over the full corpus",
    )
    args = ap.parse_args()

    from sax_wasm_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark(app_name="sax-dedup-job", cores=args.cores)
    try:
        docs = spark.read.parquet(args.input)
        if args.previous:
            stats = run_dedup_incremental(
                spark,
                docs,
                args.output,
                previous_path=args.previous,
                jaccard=args.jaccard,
                max_bucket=args.max_bucket or None,
            )
        else:
            stats = run_dedup(
                spark,
                docs,
                args.output,
                jaccard=args.jaccard,
                max_bucket=args.max_bucket or None,
            )
        print(json.dumps(stats))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
