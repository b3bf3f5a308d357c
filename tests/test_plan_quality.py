"""Physical-plan quality gates: the properties the 100 TB design relies
on must be visible in `explain` output, not just intended.

- column pruning: the extraction scan must read ONLY (url, html);
- the extractor's Python stage returns the text once, as text_bytes,
  and a pass writes no derived ``text``;
- predicate pushdown: filters reach the parquet scan (PushedFilters);
- broadcast joins: small dims broadcast;
- partial aggregation: map-side combine before the shuffle;
- whole-stage codegen spans exist on the relational queries;
- one stage per extraction pass: the extractor and the write both run
  in the scan stage, with no shuffle, and the lineage rows are a JVM
  scan;
- the number of files a pass writes follows the input splits, not
  ``num_shards``;
- the read-back starts no Spark job (declared schemas, driver-side
  listing), after a partial resume too;
- resume set read once to the driver: a fully-done resume runs only
  the lineage read, on a sparse corpus too, and a partial resume's
  lineage aggregate scans only the pass directory it wrote;
- a refresh classifies through one persisted ``snapshot_diff`` and
  reads its counters in one job (its job count is pinned).
"""

import os
import re
import shutil
import time

import pytest
from pyspark.sql import functions as F

from sax_wasm_spark.operators.extract import extract_bytes, extract_main_content
from sax_wasm_spark.plans import lineage
from sax_wasm_spark.plans.lineage import (
    completed_shards,
    extract_shards,
    lineage_rows,
    not_done,
    read_extracted,
    run_extraction,
    with_html_hash,
    with_shard,
)
from sax_wasm_spark.plans.queries import (
    q01_pricing_summary,
    q02_revenue_by_nation,
    q05_customers_without_orders,
)
from sax_wasm_spark.sources.pages import synthesize_pages

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("planq") / "pages")
    synthesize_pages(spark, 50, partitions=2).write.parquet(p)
    return p


def test_extract_scan_prunes_columns(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    plan = plan_of(extract_main_content(pages))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan[:2000]
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"url", "html"}, f"scan reads {cols}, wanted only url+html"


def tree_of(df) -> str:
    """Indented operator tree, one node per line (child below parent)."""
    return df._jdf.queryExecution().executedPlan().treeString()


def test_extractor_returns_text_once(spark, pages_path):
    """The Python stage returns the extracted text once, as
    ``text_bytes``: the ``MapInArrow`` node outputs no ``text``, which a
    JVM projection above it derives. The pass's write keeps only the
    stored columns, so the derivation is pruned out of it."""
    pages = spark.read.parquet(pages_path)
    (node,) = [ln for ln in tree_of(extract_main_content(pages)).splitlines() if "MapInArrow" in ln]
    out = re.search(r"\)#\d+, \[([^\]]*)\]", node).group(1)
    names = [a.split("#")[0] for a in out.split(", ")]
    assert names == ["url", "title", "text_bytes", "spans", "n_events", "status"], node
    stored = extract_shards(with_html_hash(with_shard(pages, 64)))
    assert "text" not in stored.columns
    assert "makeValid" not in tree_of(stored)


def test_extraction_pass_plan_has_no_shuffle(spark, pages_path, tmp_path):
    """The extraction pass runs ONE stage: the extractor reads the
    resume-filtered pages unshuffled, and the write takes its output in
    the same stage. A shuffle in front of the extractor would make the
    number of Python tasks follow the shuffle's partition count instead
    of the input splits; one behind it would make the write tasks, and
    the files, follow ``num_shards``."""
    pages = spark.read.parquet(pages_path)
    done = completed_shards(spark, str(tmp_path / "no_lineage"))
    assert done == frozenset()
    todo = not_done(with_shard(pages, 64), done | {3})
    tree = tree_of(extract_shards(with_html_hash(todo))).splitlines()
    assert sum("MapInArrow" in ln for ln in tree) == 1, "\n".join(tree)
    assert not any("Exchange" in ln for ln in tree), "\n".join(tree)


def test_lineage_rows_are_a_jvm_scan(spark):
    from pyspark.sql import Row

    rows = [
        Row(shard=s, status="ok", n_docs=3, n_chars=40, n_events=9, run_id="r", finished_at=1,
            pass_id="p")
        for s in range(3)
    ]
    df = lineage_rows(spark, rows)
    plan = plan_of(df)
    assert "Scan ExistingRDD" not in plan, plan
    assert "LocalTableScan" in plan, plan
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in rows]


def jobs_of(spark, group, fn):
    """(fn's result, the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


def test_pass_file_count_follows_input_splits(spark, pages_path, tmp_path):
    """A pass writes one directory, ``pass=<pass_id>``, from the scan
    stage, so the number of files follows the input splits: 64 and
    1,024 shards write the same files, each holding many shards."""
    pages = spark.read.parquet(pages_path)
    files = {}
    for num_shards in (64, 1024):
        out = tmp_path / f"out{num_shards}"
        run_extraction(spark, pages, str(out), num_shards, "r1")
        (pass_dir,) = os.listdir(out / "extracted")
        assert pass_dir.startswith("pass=")
        files[num_shards] = [
            f for f in os.listdir(out / "extracted" / pass_dir) if f.endswith(".parquet")
        ]
    assert 0 < len(files[64]) == len(files[1024]) <= pages.rdd.getNumPartitions(), files


@pytest.fixture(scope="module")
def passes_64(spark, tmp_path_factory):
    """A fresh pass and a fully-done resume over 400 pages on 64 shards
    (every shard populated), with the Spark jobs each ran."""
    root = tmp_path_factory.mktemp("passes64")
    synthesize_pages(spark, 400, partitions=2).write.parquet(str(root / "pages"))
    pages = spark.read.parquet(str(root / "pages"))
    assert with_shard(pages, 64).select("shard").distinct().count() == 64
    out = str(root / "out")
    fresh = jobs_of(spark, "fresh", lambda: run_extraction(spark, pages, out, 64, "r1"))
    done = jobs_of(spark, "done", lambda: run_extraction(spark, pages, out, 64, "r2"))
    return out, fresh, done


def test_extraction_pass_job_counts(passes_64):
    """A fresh 64-shard pass runs 4 jobs: the extract stage (scan,
    extractor and the pass directory write, in one stage), the lineage
    aggregate's shuffle stage over that directory and its collect, and
    the lineage append, which commits the pass. A resume pass whose
    shards are all done runs only the lineage read: no pages scan,
    write or aggregate."""
    _, (fresh, n_fresh), (done, n_done) = passes_64
    assert fresh["processed_shards"] == 64
    assert done == {"processed_shards": 0, "skipped_shards": 64, "n_docs": 0}
    assert (n_fresh, n_done) == (4, 1)


def test_refresh_job_count(spark, passes_64, tmp_path):
    """A refresh of a committed 64-shard root classifies every url once,
    through ``snapshot_diff``, and reads ``n_reused`` and ``n_deleted``
    from one count per change class. Of the 400 pages, about a tenth
    are dropped and about a tenth change; the rest reuse their rows."""
    prev, _, _ = passes_64
    pages = spark.read.parquet(os.path.join(os.path.dirname(prev), "pages"))
    bucket = F.pmod(F.xxhash64("url"), F.lit(10))
    new_pages = pages.where(bucket != 0).withColumn(
        "html",
        F.when(bucket == 1, F.concat("html", F.lit(b"<p>refresh delta</p>"))).otherwise(
            F.col("html")
        ),
    )
    n_deleted = pages.where(bucket == 0).count()
    n_changed = pages.where(bucket == 1).count()
    assert n_deleted and n_changed
    out = str(tmp_path / "refresh")
    stats, n = jobs_of(
        spark,
        "refresh",
        lambda: lineage.run_extraction_incremental(spark, new_pages, out, prev, 64, "r3"),
    )
    assert stats == {
        "n_reused": 400 - n_deleted - n_changed,
        "n_extracted": n_changed,
        "n_deleted": n_deleted,
        "n_docs": 400 - n_deleted,
    }
    assert n == 15


def test_read_extracted_starts_no_job(spark, passes_64, tmp_path):
    """Reading a root back declares the schemas of its rows and of its
    lineage (no footer job) and lists the pass directories on the
    driver (no listing job): no job after a fresh pass, nor after a
    partial resume, which leaves two pass directories."""
    out = str(tmp_path / "out")
    shutil.copytree(passes_64[0], out)

    def check(n_passes):
        assert len(os.listdir(f"{out}/extracted")) == n_passes
        df, n = jobs_of(spark, f"read{n_passes}", lambda: read_extracted(spark, out))
        assert n == 0
        assert df.schema.simpleString() == lineage.EXTRACTED_SCHEMA.simpleString()
        assert df.count() == 400

    check(1)
    # reopen shards >= 32 and re-extract them as a second pass
    kept = spark.read.parquet(f"{out}/lineage").where(F.col("shard") < 32).collect()
    lineage_rows(spark, kept).write.mode("overwrite").parquet(f"{out}/lineage")
    pages = spark.read.parquet(os.path.join(os.path.dirname(passes_64[0]), "pages"))
    run_extraction(spark, pages, out, 64, "r2")
    check(2)


def test_sparse_corpus_resume_runs_one_job(spark, pages_path, tmp_path):
    """50 pages on 64 shards leave some shards empty. The first pass
    records each with a zero-count ok row, so the second pass finds
    every shard done and runs only the lineage read."""
    pages = spark.read.parquet(pages_path)
    populated = {r.shard for r in with_shard(pages, 64).select("shard").distinct().collect()}
    assert 0 < len(populated) < 64
    out = str(tmp_path / "out")
    first = run_extraction(spark, pages, out, 64, "r1")
    assert first == {"processed_shards": 64, "skipped_shards": 0, "n_docs": 50}
    second, n = jobs_of(spark, "sparse", lambda: run_extraction(spark, pages, out, 64, "r2"))
    assert second == {"processed_shards": 0, "skipped_shards": 64, "n_docs": 0}
    assert n == 1
    lin = spark.read.parquet(f"{out}/lineage").collect()
    assert sorted(r.shard for r in lin) == list(range(64))
    empty = {r.shard for r in lin if r.n_docs == 0}
    assert empty == set(range(64)) - populated
    assert all((r.status, r.n_chars, r.n_events) == ("ok", 0, 0) for r in lin if r.shard in empty)


def test_partial_resume_lineage_scans_only_new_pass(spark, pages_path, tmp_path, monkeypatch):
    """The lineage aggregate of a partial resume reads only the pass
    directory this pass wrote, so the done shards' files, which sit in
    the first pass directory, are never opened."""
    pages = spark.read.parquet(pages_path)
    out = str(tmp_path / "out")
    run_extraction(spark, pages, out, 64, "r1")
    (first,) = os.listdir(f"{out}/extracted")
    # reopen shards >= 32: drop their lineage rows, as one does to have
    # the next pass re-extract them (a completed pass records every shard
    # it covered, so a pass over fewer pages would not leave them open)
    kept = spark.read.parquet(f"{out}/lineage").where(F.col("shard") < 32).collect()
    lineage_rows(spark, kept).write.mode("overwrite").parquet(f"{out}/lineage")
    done = completed_shards(spark, f"{out}/lineage")
    assert done and all(s < 32 for s in done)

    aggregated = []
    append = lineage._append_lineage

    def spy(spark_, written, *args):
        aggregated.append(written)
        return append(spark_, written, *args)

    monkeypatch.setattr(lineage, "_append_lineage", spy)
    rows = run_extraction(spark, pages, out, 64, "r2")
    assert rows["skipped_shards"] == len(done) and rows["processed_shards"] > 0
    (second,) = set(os.listdir(f"{out}/extracted")) - {first}
    (written,) = aggregated
    files = written.inputFiles()
    assert files and all(f"/{second}/" in f for f in files), files
    assert {r.shard for r in written.select("shard").collect()}.isdisjoint(done)


def test_killed_pass_is_invisible(spark, tmp_path, monkeypatch):
    """A pass that dies between its write and its lineage commit changes
    nothing a reader sees: its pass directory holds the new rows, but no
    lineage row names it. The next pass re-extracts its shards, and
    every url reads back once, with the new text."""
    pages_path = str(tmp_path / "pages")
    synthesize_pages(spark, 50, partitions=2).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    out = str(tmp_path / "out")
    run_extraction(spark, pages, out, 8, "r1")
    cols = lineage.EXTRACTED_SCHEMA.fieldNames()

    # reopen shards 0 and 1, then change their pages' html
    kept = spark.read.parquet(f"{out}/lineage").where(F.col("shard") > 1).collect()
    lineage_rows(spark, kept).write.mode("overwrite").parquet(f"{out}/lineage")
    reopened = with_shard(pages, 8).where(F.col("shard") <= 1)
    urls = {r.url for r in reopened.select("url").collect()}
    assert urls
    delta = b"<p>the second crawl of this page</p>"
    changed = pages.withColumn(
        "html",
        F.when(F.col("url").isin(*urls), F.concat("html", F.lit(delta))).otherwise(F.col("html")),
    )
    before = sorted(map(tuple, read_extracted(spark, out).select(*cols).collect()))

    def killed(*args):
        raise RuntimeError("killed before the commit")

    with monkeypatch.context() as m:
        m.setattr(lineage, "_append_lineage", killed)
        with pytest.raises(RuntimeError, match="killed"):
            run_extraction(spark, changed, out, 8, "r2")
    after = sorted(map(tuple, read_extracted(spark, out).select(*cols).collect()))
    assert after == before
    assert len(os.listdir(f"{out}/extracted")) == 2  # the killed pass did write

    third = run_extraction(spark, changed, out, 8, "r3")
    assert third["processed_shards"] == 2 and third["n_docs"] == len(urls)
    rows = read_extracted(spark, out).collect()
    assert len(rows) == 50  # no url twice
    got = {r.url: r.text_bytes for r in rows}
    want = {r.url: extract_bytes(r.html)[0] for r in changed.collect()}
    assert got == want
    orig = {r.url: extract_bytes(r.html)[0] for r in pages.collect()}
    assert all(got[u] != orig[u] for u in urls)  # the new html shows in the text


def test_extraction_leaves_session_conf_alone(spark, pages_path, tmp_path):
    """A pass sets no session conf: the partition overwrite mode and the
    parallel listing threshold read as they did before the call."""
    keys = (
        "spark.sql.sources.partitionOverwriteMode",
        "spark.sql.sources.parallelPartitionDiscovery.threshold",
    )
    prev = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], "static")
    try:
        before = {k: spark.conf.get(k) for k in keys}
        run_extraction(spark, spark.read.parquet(pages_path), str(tmp_path / "out"), 64, "r1")
        assert {k: spark.conf.get(k) for k in keys} == before
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_resume_filter_builds_fast_at_16k_shards(spark, pages_path):
    """The resume filter is one SQL string, one JVM call: building and
    planning it for 16,384 done shards takes ~1 s. ``Column.isin``
    makes one call per literal and takes ~15 s."""
    pages = spark.read.parquet(pages_path)
    t0 = time.perf_counter()
    todo = not_done(with_shard(pages, 16384), frozenset(range(16384)))
    todo._jdf.queryExecution().executedPlan()
    assert time.perf_counter() - t0 < 2.0


def test_filter_pushdown_reaches_scan(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    df = pages.where(F.col("lang") == "en").select("url")
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[.*EqualTo\(lang,en\).*\]", plan), plan[:2000]


def test_broadcast_join_on_small_dim(spark):
    plan = plan_of(q02_revenue_by_nation(spark, SF))
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_anti_join_is_broadcast(spark):
    plan = plan_of(q05_customers_without_orders(spark, SF))
    assert "LeftAnti" in plan
    # orders at sf0.001 is small → AQE/broadcast threshold makes it BHJ
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_partial_aggregation_before_shuffle(spark):
    plan = plan_of(q01_pricing_summary(spark, SF))
    # two HashAggregate operators (partial + final) around the exchange
    assert plan.count("HashAggregate") >= 2, plan[:3000]
    assert "Exchange" in plan


def test_shingle_minhash_is_shuffle_free(spark):
    """The shingle → minhash signature stage is built within the row
    (transform/slice/array_min) — no Window, no Exchange before the
    signature projection (round 1 shuffled the token table)."""
    from sax_wasm_spark.operators.dedup import minhash_signatures

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(minhash_signatures(d))
    assert "Window" not in plan, plan[:3000]
    assert "Exchange" not in plan, plan[:3000]


def test_q16_has_no_window_shuffle(spark):
    from sax_wasm_spark.plans.queries import q16_minhash_signature

    plan = plan_of(q16_minhash_signature(spark, SF))
    assert "Window" not in plan, plan[:3000]
    # the only exchange allowed is the final orderBy's range partitioning
    assert "hashpartitioning" not in plan, plan[:3000]


def test_q30_has_no_unbounded_pandas_group(spark):
    """Round-3 rewrite: per-language z-score = two-pass agg + broadcast
    join. The plan must contain NO grouped-map pandas stage (the old
    groupBy(lang).applyInPandas held ~half the corpus in one task at
    100 TB) and the per-lang stats join must be a broadcast (VERDICT r2
    item 3 done-criterion)."""
    from sax_wasm_spark.plans.queries import q30_doc_zscore_grouped

    plan = plan_of(q30_doc_zscore_grouped(spark, SF))
    assert "FlatMapGroupsInPandas" not in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_q17_simhash_is_shuffle_free(spark):
    """Round-3 rewrite: the 16-bit simhash folds entirely within the
    row (transform + aggregate over the token array) — the ONLY
    Exchange left is the final orderBy's range partitioning (VERDICT
    r2 item 7 done-criterion)."""
    from sax_wasm_spark.plans.queries import q17_simhash16

    plan = plan_of(q17_simhash16(spark, SF))
    assert "hashpartitioning" not in plan, plan[:3000]
    assert "Window" not in plan, plan[:3000]
    # exactly one Exchange NODE (the formatted plan names each node
    # twice: in the tree and in its detail block)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan[:3000]


def test_embedding_neardup_lsh_has_no_cartesian(spark):
    """q31's blocking join must be a real equi-join on (band, bucket) —
    no CartesianProduct / BroadcastNestedLoopJoin anywhere (q25's
    all-pairs shape is the O(n²) anti-pattern this replaces)."""
    from sax_wasm_spark.plans.queries import q31_embedding_neardup_lsh

    plan = plan_of(q31_embedding_neardup_lsh(spark, SF))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]


def test_no_cartesian_anywhere_in_battery(spark):
    """Battery-wide scale gate: NO query plan may contain a cartesian
    product or nested-loop join. Exemptions, each deliberate:
    - q25: the exact all-pairs embedding near-dup — kept ONLY as the
      small-n oracle twin of q31 (its docstring says so);
    - q18: a broadcast of a single-row query vector frame (the textbook
      broadcast-the-query kNN shape) — BroadcastNestedLoopJoin over
      exactly one build-side row is a constant, not a blow-up. (q34,
      the ANN twin, folds the query to literals and needs no exemption.)
    - q38/q41: broadcast of a GLOBAL-aggregate set (hot lines / eval
      n-grams) — also exactly one build-side row by construction
      (Catalyst folds the constant join key, so the 1-row broadcast
      plans as BNLJ; same shape as q18).
    """
    from sax_wasm_spark.plans.queries import QUERIES

    exempt = {
        "q25_embedding_neardup",
        "q18_knn_cosine",
        "q38_boilerplate_lines",
        "q41_decontaminate",
    }
    bad = {}
    for name, fn in QUERIES.items():
        if name in exempt:
            continue
        plan = plan_of(fn(spark, SF))
        hits = [
            tok
            for tok in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if tok in plan
        ]
        if hits:
            bad[name] = hits
    assert not bad, f"scale-unsafe join shapes: {bad}"


def test_ivf_query_prunes_partitions(spark, tmp_path):
    """ivf_query over a list_id-partitioned write must read ONLY the
    probed lists' partitions — the partition filter must appear in the
    scan, not as a post-scan Filter (VERDICT r2 item 2 done-criterion)."""
    from sax_wasm_spark.operators.similarity import ivf_build, ivf_query

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    query = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0].embedding]
    assigned, centroids = ivf_build(emb.where(F.col("vec_id") != 0), n_lists=8, n_iter=1)
    path = str(tmp_path / "ivf_pruned")
    assigned.write.partitionBy("list_id").parquet(path)
    stored = spark.read.parquet(path)
    plan = plan_of(ivf_query(stored, centroids, query, k=5, n_probe=2))
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "list_id" in m.group(1), plan[:3000]


def test_whole_stage_codegen_present(spark):
    df = q01_pricing_summary(spark, SF)
    df.collect()  # AQE finalizes the physical plan only on execution
    plan = plan_of(df)
    assert "== Final Plan ==" in plan
    # '*' marks operators inside WholeStageCodegen subtrees
    assert "* HashAggregate" in plan and "* Filter" in plan, plan[:3000]


def test_q44_row_window_is_time_bucket_salted(spark):
    """q44's ROW-LEVEL lag window must be salted by event-time bucket
    (VERDICT r5 item 7): partitioned by (host, bucket), never host
    alone — a mega-host spreads across its hours instead of
    serializing into one straggler. Host-only partitioning may appear
    only on the per-(host, bucket) AGGREGATE frame (#buckets rows) and
    the final partial-agg'd groupBy."""
    from sax_wasm_spark.plans.queries import q44_host_politeness

    plan = plan_of(q44_host_politeness(spark, SF))
    # exactly two windows: the salted row-level lag + the bucket-
    # aggregate boundary lag
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2, plan[:3000]
    assert re.search(r"hashpartitioning\(host#\d+, bucket#\d+", plan), plan[:3000]
    # every Sort feeding a Window over raw events must include bucket;
    # equivalently: each host-only exchange is immediately downstream
    # of a HashAggregate (the tiny frames), checked structurally by
    # asserting the row count of host-only sorts that order by event_id
    # (the raw-row sort key) is zero
    for m in re.finditer(r"Arguments: \[host#\d+ ASC NULLS FIRST, ts#\d+ ASC", plan):
        raise AssertionError("raw-row sort keyed by host alone:\n" + plan[:3000])


def test_q45_window_is_shard_partitioned(spark):
    """Sequence packing must never plan a GLOBAL window (single-task
    sort of the corpus): the cumsum window is partitioned by shard."""
    from sax_wasm_spark.plans.queries import q45_sequence_pack

    plan = plan_of(q45_sequence_pack(spark, SF))
    assert "Window" in plan
    assert re.search(r"hashpartitioning\(shard", plan), plan[:3000]
    # a window with an empty partition spec would show SinglePartition
    # feeding the Window node
    assert "SinglePartition" not in plan.split("Sort")[0], plan[:3000]


def test_q47_emit_stays_shard_partitioned(spark):
    """The sequence-EMIT query (member arrays + offsets) must keep
    q45's scale shape: one shard-partitioned window, arrays assembled
    in-row — exactly one Window node, no global (SinglePartition)
    sort before it, and no second window shuffle for the offsets."""
    from sax_wasm_spark.plans.queries import q47_sequence_emit

    plan = plan_of(q47_sequence_emit(spark, SF))
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan[:3000]
    assert re.search(r"hashpartitioning\(shard", plan), plan[:3000]
    assert "SinglePartition" not in plan.split("Sort")[0], plan[:3000]


def test_q49_schedule_single_host_window(spark):
    """Crawl scheduling must plan one host-partitioned window (plus
    the broadcast robots probe) — never a global sort."""
    from sax_wasm_spark.plans.queries import q49_crawl_schedule

    plan = plan_of(q49_crawl_schedule(spark, SF))
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan[:3000]
    assert re.search(r"hashpartitioning\(host", plan), plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SinglePartition" not in plan.split("Sort")[0], plan[:3000]


def test_bucketed_snapshot_join_eliminates_exchange(spark, tmp_path):
    """SCALE_DESIGN's standing claim for the refresh/diff joins: "with
    bucketed/co-partitioned snapshot tables the exchange disappears
    entirely". Demonstrate it: two snapshots written bucketed+sorted
    by url join WITHOUT any Exchange (and without even a Sort — the
    bucket files are pre-sorted), versus the plain-parquet join whose
    plan shuffles both sides."""
    from pyspark.sql import functions as F

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bucketdemo LOCATION '{tmp_path}/wh'"
    )
    try:
        docs = spark.read.parquet(SF + "/documents.parquet").select(
            F.concat(F.lit("https://b.example/p/"), F.col("doc_id").cast("string")).alias("url"),
            F.md5("text").alias("html_hash"),
        )
        for t in ("bucketdemo.snap_a", "bucketdemo.snap_b"):
            docs.write.bucketBy(8, "url").sortBy("url").mode(
                "overwrite"
            ).format("parquet").saveAsTable(t)
        j = (
            spark.table("bucketdemo.snap_a")
            .hint("merge")
            .join(spark.table("bucketdemo.snap_b"), "url")
        )
        plan = plan_of(j)
        assert "SortMergeJoin" in plan, plan[:2000]
        assert "Exchange" not in plan, plan[:3000]
        assert "Bucketed: true" in plan, plan[:3000]
        # control: the same join over plain parquet shuffles both sides
        docs.write.mode("overwrite").parquet(f"{tmp_path}/plain_a")
        docs.write.mode("overwrite").parquet(f"{tmp_path}/plain_b")
        pj = (
            spark.read.parquet(f"{tmp_path}/plain_a")
            .hint("merge")
            .join(spark.read.parquet(f"{tmp_path}/plain_b"), "url")
        )
        assert "Exchange" in plan_of(pj)
    finally:
        spark.sql("DROP DATABASE IF EXISTS bucketdemo CASCADE")


def test_q55_link_graph_single_aggregation_exchange(spark):
    """Both degree directions come from ONE hash aggregation: each edge
    explodes row-locally into a (src, out) + (dst, in) pair, so the
    plan carries exactly one hashpartitioning Exchange (the groupBy) —
    no edge-list self-join, no second aggregation pass. The only other
    exchange is the presentation sort's range partitioning."""
    from sax_wasm_spark.plans.queries import q55_link_graph

    plan = plan_of(q55_link_graph(spark, SF))
    assert "Join" not in plan, plan[:3000]
    # exactly ONE hash-partitioned exchange (the degree groupBy); the
    # other exchanges are the deliberate round-robin fan-out that
    # spreads the Python tokenize stage and the final sort's range
    # partitioning — neither keys on data
    hash_ex = re.findall(r"Arguments: hashpartitioning\(\w+", plan)
    assert hash_ex == ["Arguments: hashpartitioning(host"], plan[:3000]
    # partial aggregation runs upstream of that shuffle
    assert plan.count("HashAggregate") >= 2, plan[:3000]


def test_q56_anchor_text_single_doc_window(spark):
    """Anchor-text pairing is ONE lag window partitioned by doc_id
    (events per doc are bounded — no skew risk) and no join: the only
    hash exchange is the window's."""
    from sax_wasm_spark.plans.queries import q56_anchor_text

    plan = plan_of(q56_anchor_text(spark, SF))
    assert "Join" not in plan, plan[:3000]
    hash_ex = re.findall(r"Arguments: hashpartitioning\(\w+", plan)
    assert hash_ex == ["Arguments: hashpartitioning(doc_id"], plan[:3000]
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan[:3000]


def test_q57_two_hop_joins_deduped_host_edges(spark):
    """The 2-hop self-join must run on the DISTINCT host-level edge
    set, not the page-level edge stream: the dedup aggregation keyed
    (src_host, dst_host) sits upstream of an equi join (SMJ/BHJ —
    never a nested-loop shape). At web scale this is the difference
    between joining ~10^8 host edges and joining 10^12 page edges."""
    from sax_wasm_spark.plans.queries import q57_two_hop_reach

    plan = plan_of(q57_two_hop_reach(spark, SF))
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:3000]
    assert re.search(r"Keys \[2\]: \[src_host", plan), plan[:3000]


def test_q61_head_metadata_single_doc_exchange(spark):
    """Head-metadata extraction is window-only: both window frames
    stack over ONE doc_id hash exchange, and the first-occurrence
    groupBy keys on the window's own partition column so it reuses
    that partitioning — no join, no second hash exchange."""
    from sax_wasm_spark.plans.queries import q61_head_metadata

    plan = plan_of(q61_head_metadata(spark, SF))
    assert "Join" not in plan, plan[:3000]
    hash_ex = re.findall(r"Arguments: hashpartitioning\(\w+", plan)
    assert hash_ex == ["Arguments: hashpartitioning(doc_id"], plan[:3000]


def test_q63_paragraph_dedup_two_exchanges_no_join(spark):
    """Paragraph dedup shuffles exactly twice — once on the paragraph
    md5 (first-occurrence window; fixed 16-byte keys) and once back on
    doc_id for reassembly — and never joins."""
    from sax_wasm_spark.plans.queries import q63_paragraph_dedup

    plan = plan_of(q63_paragraph_dedup(spark, SF))
    assert "Join" not in plan, plan[:3000]
    # the window key is the md5 projection (_w0); the reassembly keys
    # on doc_id — exactly two hash exchanges
    hash_ex = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert len(hash_ex) == 2 and "doc_id" in hash_ex, plan[:3000]
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan[:3000]


def test_q65_sitemap_single_doc_exchange(spark):
    """Sitemap parsing reuses the window's doc_id exchange for the
    (doc_id, url_ord) groupBy (prefix key) — one hash exchange, no
    join beyond the presentation sort."""
    from sax_wasm_spark.plans.queries import q65_sitemap_parse

    plan = plan_of(q65_sitemap_parse(spark, SF))
    assert "Join" not in plan, plan[:3000]
    hash_ex = re.findall(r"Arguments: hashpartitioning\(\w+", plan)
    assert hash_ex == ["Arguments: hashpartitioning(doc_id"], plan[:3000]


def test_q69_canonical_cluster_no_join(spark):
    """Canonical clustering is metadata-window + ONE hash aggregation
    on the canonical target — no self-join of the page set (at web
    scale the cluster map is built by aggregation, never by joining
    pages to pages)."""
    from sax_wasm_spark.plans.queries import q69_canonical_cluster

    plan = plan_of(q69_canonical_cluster(spark, SF))
    assert "Join" not in plan, plan[:3000]
    hash_ex = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert len(hash_ex) == 2 and "canonical" in hash_ex, plan[:3000]
    assert plan.count("HashAggregate") >= 2, plan[:3000]  # partial agg


def test_q76_phash_dedup_plan(spark):
    """Perceptual image dedup never joins and shuffles only 16-byte
    fingerprints: decode+hash are per-row Python stages upstream, then
    exactly ONE hashpartitioning on phash with a map-side partial
    aggregate — the shape that dedups billions of images because the
    exchange never carries pixels."""
    from sax_wasm_spark.plans.queries import q76_image_phash_dedup

    plan = plan_of(q76_image_phash_dedup(spark, SF))
    assert "Join" not in plan, plan[:3000]
    hash_ex = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert hash_ex.count("phash") == 1, plan[:3000]
    assert all(k == "phash" for k in hash_ex), plan[:3000]
    assert plan.count("HashAggregate") >= 2, plan[:3000]  # partial agg


def test_q75_html_media_chain_plan(spark):
    """The HTML→media chain shuffles exactly twice (the explicit
    repartition + the per-doc img_idx window), never joins, and keeps
    base64 JVM-side: exactly one window-scoped hashpartitioning on
    doc_id, unbase64 fused into the scan-side projection rather than a
    separate Python stage."""
    from sax_wasm_spark.plans.queries import q75_html_media_decode

    plan = plan_of(q75_html_media_decode(spark, SF))
    assert "Join" not in plan, plan[:3000]
    hash_ex = re.findall(r"Arguments: hashpartitioning\(doc_id", plan)
    assert len(hash_ex) == 1, plan[:3000]
    assert "unbase64" in plan, plan[:3000]  # JVM expression, not a UDF
    # three Python stages exactly: page twin, tokenize kernel, decode
    py_stages = re.findall(r"\(\d+\) MapIn(?:Pandas|Arrow)", plan)
    assert len(py_stages) == 3, plan[:3000]


def test_q78_video_phash_dedup_plan(spark):
    """Video perceptual dedup mirrors q76's shape one tier up: render,
    decode, and per-frame hashing are per-row Python stages upstream,
    then exactly ONE hashpartitioning on the signature string with a
    map-side partial aggregate — the exchange carries short hex
    signatures, never frames."""
    from sax_wasm_spark.plans.queries import q78_video_phash_dedup

    plan = plan_of(q78_video_phash_dedup(spark, SF))
    assert "Join" not in plan, plan[:3000]
    hash_ex = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert hash_ex.count("vhash") == 1, plan[:3000]
    assert all(k == "vhash" for k in hash_ex), plan[:3000]
    assert plan.count("HashAggregate") >= 2, plan[:3000]  # partial agg


def test_q80_frame_image_match_plan(spark):
    """The cross-modal join shuffles BOTH sides on the 64-bit
    fingerprint (pinned shuffle-hash — a broadcast would be the
    small-SF accident: at crawl scale neither the image corpus nor the
    video-frame table fits an executor) and the exchanges carry only
    hex keys + ids, never decoded pixels."""
    from sax_wasm_spark.plans.queries import q80_frame_image_match

    plan = plan_of(q80_frame_image_match(spark, SF))
    assert "ShuffledHashJoin" in plan, plan[:3000]
    assert "BroadcastHashJoin" not in plan and "NestedLoop" not in plan, plan[:3000]
    keys = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert "fhash" in keys and "phash" in keys, (keys, plan[:2000])


def test_q83_xmp_metadata_plan(spark):
    """The XMP field extraction runs the per-doc window and the
    per-doc groupBy over ONE hash exchange (the groupBy keys on the
    window's own partition key), join-free."""
    from sax_wasm_spark.plans.queries import q83_pdf_xmp_metadata

    plan = plan_of(q83_pdf_xmp_metadata(spark, SF))
    assert "Join" not in plan, plan[:3000]
    keys = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert keys.count("doc_id") == 1, (keys, plan[:3000])


def test_q87_docx_text_plan(spark):
    """OOXML text extraction: row-local unzip + tokenize stages, then
    ONE doc_id hash exchange shared by the window and the per-paragraph
    groupBy; join-free."""
    from sax_wasm_spark.plans.queries import q87_docx_text

    plan = plan_of(q87_docx_text(spark, SF))
    assert "Join" not in plan, plan[:3000]
    keys = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert keys.count("doc_id") == 1, (keys, plan[:3000])


def test_q89_feed_discovery_plan(spark):
    """Feed parsing (both RSS and Atom in one operator): ONE doc_id
    hash exchange shared by the window and the per-item groupBy,
    join-free."""
    from sax_wasm_spark.plans.queries import q89_feed_discovery

    plan = plan_of(q89_feed_discovery(spark, SF))
    assert "Join" not in plan, plan[:3000]
    keys = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert keys.count("doc_id") == 1, (keys, plan[:3000])


def test_q92_feed_autodiscovery_plan(spark):
    """Feed autodiscovery: ONE doc_id hash exchange (the window);
    join-free."""
    from sax_wasm_spark.plans.queries import q92_feed_autodiscovery

    plan = plan_of(q92_feed_autodiscovery(spark, SF))
    assert "Join" not in plan, plan[:3000]
    keys = re.findall(r"Arguments: hashpartitioning\((\w+)", plan)
    assert all(k == "doc_id" for k in keys), (keys, plan[:2000])
