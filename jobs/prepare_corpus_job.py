"""End-to-end training-corpus preparation — the full pipeline a
100 TB data-curation run needs, composed from the engine's operators:

  0. ROBOTS    optional RFC 9309 gate (functions/robots.py): pages
               whose url a per-host robots.txt dim table disallows are
               dropped BEFORE extraction spends any compute on them,
               with the blocked count in the stage stats;
  1. EXTRACT   raw pages → main-content text, url-hash sharded,
               resumable per shard with lineage (plans/lineage.py;
               positions-off kernel in the Python stage);
  2. FILTER    language ID + quality score + length gates + Gopher-
               style repetition gates (top-word fraction, duplicate-
               bigram fraction), all whole-stage-codegen column
               expressions (functions/text.py) — no Python here;
  3. DEDUP     exact (content-hash) + near (minhash/LSH with the
               hot-bucket guard → Jaccard verify → connected
               components) → surviving representatives
               (jobs/dedup_job.run_dedup);
  4. DECON     optional benchmark decontamination (word-n-gram overlap
               vs an eval set, operators/decontaminate.py) + optional
               deterministic per-source sampling (md5 hash gate,
               functions/sampling.py) — reproducible regardless of
               partitioning/cluster size/retries;
  5. STATS     per-language document/byte/token counts of the final
               corpus (one aggregation pass, persisted next to the
               data for the audit trail).

Usage (cluster):
    zip -r sax_wasm_spark.zip sax_wasm_spark
    spark-submit --py-files sax_wasm_spark.zip jobs/prepare_corpus_job.py \\
        --input <pages parquet/iceberg> --output <root> \\
        --num-shards 4096 --min-quality 0.5 --jaccard 0.8

Usage (sandbox, synthesizes input):
    python jobs/prepare_corpus_job.py --synth 5000 --output /tmp/corpus_out

Scale notes: stage 2 is a pure projection+filter over the extracted
parquet (predicate pushdown applies — the scan never rereads html);
stage 3 shuffles only on hash/bucket/id keys; every stage reads the
previous stage's persisted output, so any stage can be re-run
independently and the extract stage resumes per shard. Outputs:
<out>/extracted (one directory per pass), <out>/filtered, <out>/pairs, /clusters,
/drops, /kept, /stats, /lineage.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _has_dedup_state(spark, previous_path: str | None) -> bool:
    """True iff the previous run persisted the incremental-dedup state
    (hashes + buckets + pairs). Only a missing table counts as absent;
    other read errors propagate (same rule as the extraction refresh's
    fresh-root probe)."""
    if not previous_path:
        return False
    from pyspark.errors import AnalysisException  # noqa: PLC0415

    for t in ("hashes", "buckets", "pairs", "params"):
        try:
            spark.read.parquet(f"{previous_path}/{t}").schema
        except AnalysisException:
            return False
    return True


def run_pipeline(
    spark,
    pages,
    out_path: str,
    num_shards: int = 64,
    min_quality: float = 0.5,
    min_chars: int = 100,
    max_top_word_frac: float | None = 0.5,
    max_dup_bigram: float | None = 0.5,
    line_min_df: int | None = None,
    redact: bool = False,
    mix_weights: dict[str, float] | None = None,
    mix_default: float = 1.0,
    decon_eval=None,
    decon_n: int = 13,
    line_broadcast_limit: int = 1_000_000,
    decon_broadcast_limit: int = 5_000_000,
    lang_allow: tuple[str, ...] = (),
    jaccard: float = 0.8,
    max_bucket: int | None = 10_000,
    robots=None,
    robots_user_agent: str = "*",
    previous_path: str | None = None,
    run_id: str = "run",
    transcode: bool = False,
) -> dict:
    from pyspark.sql import functions as F  # noqa: PLC0415

    from jobs.dedup_job import run_dedup, run_dedup_incremental  # noqa: PLC0415
    from sax_wasm_spark.functions.text import (  # noqa: PLC0415
        dup_bigram_fraction,
        lang_guess,
        quality_score,
        redact_pii,
        token_count,
        top_word_count,
    )
    from sax_wasm_spark.plans.lineage import (  # noqa: PLC0415
        read_extracted,
        run_extraction,
        run_extraction_incremental,
    )

    # ---- -1. optional charset front porch ----
    # BEFORE everything: sniff + transcode html to utf-8 in place
    # (functions/charset.pages_to_utf8). Stateless and row-local, so it
    # fuses into the extraction stage; BOM-less utf-8 pages re-encode
    # byte-identically, so lineage hashes of the unchanged majority are
    # stable across runs that toggle this flag only for corpora that
    # were already utf-8.
    if transcode:
        from sax_wasm_spark.functions.charset import pages_to_utf8  # noqa: PLC0415

        pages = pages_to_utf8(pages).drop("encoding")

    # ---- 0. optional robots.txt gate (RFC 9309) ----
    # BEFORE extraction: a disallowed page must cost a broadcast-join
    # probe, not a kernel run. ``robots`` is the per-host dim table
    # (host, robots_txt); pages on hosts absent from it are allowed
    # (the RFC's unavailable rule). One aggregation job records the
    # blocked count; the filter itself is lazy and fuses into the
    # extraction stage's scan.
    robots_stats = None
    if robots is not None:
        from sax_wasm_spark.functions.robots import with_robots_allowed  # noqa: PLC0415

        gated = with_robots_allowed(
            pages, robots, url_col="url", user_agent=robots_user_agent
        )
        # stats job reads ONLY the flag column: Catalyst prunes the scan
        # to the url column (the gate's sole input) — at corpus scale
        # this pass costs a url-column scan + broadcast probe, never a
        # re-read of the html bytes. The gate itself is then re-probed
        # lazily inside the extraction scan (same cost model: one
        # broadcast probe per row, fused into the stage).
        c = gated.select("robots_allowed").agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.when(~F.col("robots_allowed"), 1)), F.lit(0)
            ).alias("blocked"),
        ).collect()[0]
        robots_stats = {"n_pages": c["n"], "n_blocked": c["blocked"]}
        pages = gated.where(F.col("robots_allowed")).drop("robots_allowed")

    # ---- 1. extract (resumable; idempotent per shard) ----
    # with --previous, the refresh classifies pages against the prior
    # snapshot's html_hash and reuses unchanged rows instead of
    # re-running the kernel on them (the dominant stage at scale)
    if previous_path:
        ex_stats = run_extraction_incremental(
            spark, pages, out_path, previous_path,
            num_shards=num_shards, run_id=run_id,
        )
    else:
        ex_stats = run_extraction(
            spark, pages, out_path, num_shards=num_shards, run_id=run_id
        )
    extracted = read_extracted(spark, out_path)

    # ---- 2. language + quality gates (codegen-only projection) ----
    docs = (
        extracted.where(F.col("status") == "ok")
        .select(
            F.col("url"),
            F.col("shard"),
            F.col("title"),
            F.col("text"),
            # a stable id for the dedup stage (deterministic in url —
            # survives re-runs and cluster-size changes). 128 bits: at
            # the 10^12-document scale this pipeline targets, a 64-bit
            # key expects ~27k birthday collisions (n^2/2^65), silently
            # conflating distinct documents in dedup/cluster/sampling
            # keys; 128 bits puts the expectation at ~10^-15.
            F.substring(F.sha2(F.col("url"), 256), 1, 32).alias("doc_id"),
        )
        .withColumn("lang", lang_guess(F.col("text")))
        .withColumn("quality", F.round(quality_score(F.col("text")), 4))
        .where(F.length("text") >= min_chars)
        .where(F.col("quality") >= min_quality)
    )
    if max_top_word_frac is not None:
        docs = docs.where(
            top_word_count(F.col("text")) / token_count(F.col("text"))
            <= max_top_word_frac
        )
    if max_dup_bigram is not None:
        # NULL (single-token doc) passes: no bigrams = no repetition signal
        dup = dup_bigram_fraction(F.col("text"))
        docs = docs.where(dup.isNull() | (dup <= max_dup_bigram))
    if lang_allow:
        docs = docs.where(F.col("lang").isin(*lang_allow))
    if redact:
        docs = docs.withColumn("text", redact_pii(F.col("text")))
    if line_min_df is not None:
        # C4-style cross-corpus line dedup on the extracted text (the
        # banner/nav lines the per-document DOM classifier cannot see)
        from sax_wasm_spark.operators.lines import remove_boilerplate_lines  # noqa: PLC0415

        cleaned = (
            remove_boilerplate_lines(
                docs,
                text_col="text",
                id_col="doc_id",
                min_df=line_min_df,
                # auto: broadcast the hot set while it fits, fall back
                # to the left-anti join once it cannot (driver-OOM
                # escape hatch for low min_df / adversarial corpora)
                strategy="auto",
                broadcast_limit=line_broadcast_limit,
            )
        )
        docs = (
            cleaned.drop("text")
            .withColumnRenamed("clean_text", "text")
            .where(F.length("text") > 0)
        )
    docs.write.mode("overwrite").parquet(f"{out_path}/filtered")
    if line_min_df is not None:
        cached = getattr(cleaned, "_sax_persisted", None)
        if cached is not None:  # free the auto-strategy sizing cache
            cached.unpersist()
    docs = spark.read.parquet(f"{out_path}/filtered")
    n_filtered = docs.count()

    # ---- 3. dedup (exact + near → clusters → survivors) ----
    # with --previous AND a prior run that persisted its dedup state
    # (hashes/buckets/pairs), the refresh re-shingles only churned
    # docs and joins their bands against the persisted signature
    # store — the dedup leg of the same incremental story stage 1
    # already tells. Filter-threshold changes between runs are just
    # churn (docs entering/leaving the filtered set) and classify
    # correctly. Prior runs from before the state tables existed fall
    # back to a from-scratch dedup.
    prev_dedup = previous_path if _has_dedup_state(spark, previous_path) else None
    if prev_dedup:
        de_stats = run_dedup_incremental(
            spark,
            docs,
            out_path,
            previous_path=prev_dedup,
            jaccard=jaccard,
            max_bucket=max_bucket,
        )
    else:
        de_stats = run_dedup(
            spark,
            docs,
            out_path,
            jaccard=jaccard,
            max_bucket=max_bucket,
        )
    de_stats["incremental"] = bool(prev_dedup)

    # ---- 4. optional decontamination + deterministic mix ----
    kept = spark.read.parquet(f"{out_path}/kept")
    if decon_eval is not None:
        from sax_wasm_spark.operators.decontaminate import decontaminate  # noqa: PLC0415

        kept = decontaminate(
            kept,
            decon_eval,
            n=decon_n,
            strategy="auto",
            broadcast_limit=decon_broadcast_limit,
            id_col="doc_id",
        )
        kept.write.mode("overwrite").parquet(f"{out_path}/decontaminated")
        cached = getattr(kept, "_sax_persisted", None)
        if cached is not None:  # free the auto-strategy sizing cache
            cached.unpersist()
        kept = spark.read.parquet(f"{out_path}/decontaminated")
    if mix_weights:
        from sax_wasm_spark.functions.sampling import mix_corpus  # noqa: PLC0415

        src = "source" if "source" in kept.columns else "lang"
        kept = mix_corpus(
            kept, mix_weights, source_col=src, key_col="doc_id",
            default_weight=mix_default,
        )
        kept.write.mode("overwrite").parquet(f"{out_path}/mixed")
        kept = spark.read.parquet(f"{out_path}/mixed")

    # ---- 5. final corpus stats (audit trail) ----
    stats = (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("n_chars"),
            F.sum(F.size(F.filter(F.split("text", " "), lambda w: w != ""))).alias(
                "n_tokens"
            ),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
        .orderBy("lang")
    )
    stats.coalesce(1).write.mode("overwrite").parquet(f"{out_path}/stats")

    return {
        "run_id": run_id,
        "robots": robots_stats,
        "extract": ex_stats,
        "n_filtered": n_filtered,
        "dedup": de_stats,
        "langs": {r["lang"]: r["n_docs"] for r in stats.collect()},
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages parquet path (url, warc_ts, html, text, lang)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--synth", type=int, default=0, help="synthesize N pages instead of --input")
    ap.add_argument("--num-shards", type=int, default=256)
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--min-chars", type=int, default=100)
    ap.add_argument("--max-top-word-frac", type=float, default=0.5)
    ap.add_argument("--max-dup-bigram", type=float, default=0.5)
    ap.add_argument("--line-min-df", type=int, default=0, help="0 = off")
    ap.add_argument("--redact-pii", action="store_true")
    ap.add_argument("--transcode", action="store_true",
                    help="charset-sniff + transcode html to utf-8 first"
                         " (WHATWG subset; for non-utf-8-only corpora)")
    ap.add_argument("--eval-path", default="", help="parquet of eval texts for decontamination")
    ap.add_argument("--decon-n", type=int, default=13)
    ap.add_argument("--line-broadcast-limit", type=int, default=1_000_000,
                    help="hot-line rows above which line dedup switches to anti-join")
    ap.add_argument("--decon-broadcast-limit", type=int, default=5_000_000,
                    help="eval grams above which decontamination switches to anti-join")
    ap.add_argument("--mix", default="", help="src=w,src=w per-source sample weights")
    ap.add_argument("--mix-default", type=float, default=1.0)
    ap.add_argument("--langs", default="", help="comma list; empty = keep all")
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument("--max-bucket", type=int, default=10_000)
    ap.add_argument("--robots", default="",
                    help="parquet of (host, robots_txt) — RFC 9309 gate before extraction")
    ap.add_argument("--robots-user-agent", default="*")
    ap.add_argument("--previous", default="",
                    help="prior run's output root — refresh incrementally, reusing unchanged pages")
    ap.add_argument("--run-id", default=f"run-{int(time.time())}")
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from sax_wasm_spark.session import get_spark  # noqa: PLC0415
    from sax_wasm_spark.sources.pages import synthesize_pages  # noqa: PLC0415

    spark = get_spark(app_name="sax-prepare-corpus", cores=args.cores)
    try:
        if args.synth:
            pages = synthesize_pages(spark, args.synth)
        elif args.input:
            pages = spark.read.parquet(args.input)
        else:
            ap.error("either --input or --synth is required")
        stats = run_pipeline(
            spark,
            pages,
            args.output,
            num_shards=args.num_shards,
            min_quality=args.min_quality,
            min_chars=args.min_chars,
            max_top_word_frac=args.max_top_word_frac,
            max_dup_bigram=args.max_dup_bigram,
            line_min_df=args.line_min_df or None,
            redact=args.redact_pii,
            mix_weights=(
                {k: float(v) for k, v in (kv.split("=") for kv in args.mix.split(","))}
                if args.mix
                else None
            ),
            mix_default=args.mix_default,
            decon_eval=(spark.read.parquet(args.eval_path) if args.eval_path else None),
            decon_n=args.decon_n,
            line_broadcast_limit=args.line_broadcast_limit,
            decon_broadcast_limit=args.decon_broadcast_limit,
            lang_allow=tuple(x for x in args.langs.split(",") if x),
            jaccard=args.jaccard,
            max_bucket=args.max_bucket or None,
            robots=(spark.read.parquet(args.robots) if args.robots else None),
            robots_user_agent=args.robots_user_agent,
            previous_path=args.previous or None,
            run_id=args.run_id,
            transcode=args.transcode,
        )
        print(json.dumps(stats))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
