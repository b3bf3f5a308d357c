"""Spark-level operator tests: tokenize/extract operators, lineage
resume, skew salting, similarity search, multimodal decode, streaming.
One shared local[4] session (tests/conftest.py)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from sax_wasm_spark.kernel.collect import EventCollector, parse_events
from sax_wasm_spark.kernel.saxkernel import SaxParser
from sax_wasm_spark.operators.extract import extract_bytes, extract_main_content
from sax_wasm_spark.operators.similarity import ann_lsh, knn_bruteforce
from sax_wasm_spark.operators.tokenize import tokenize_events
from sax_wasm_spark.plans.lineage import lineage_rows, read_extracted, run_extraction, with_shard
from sax_wasm_spark.sources.pages import build_page, synthesize_pages

N_PAGES = 120


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize_pages(spark, N_PAGES, partitions=4).cache()


def test_tokenize_matches_kernel(spark, pages):
    """Distributed tokenize == local kernel, row for row."""
    ev = tokenize_events(pages, id_cols=("url",))
    got = {}
    for r in ev.collect():
        got.setdefault(r.url, []).append(tuple(r)[1:])
    rows = pages.select("url", "html").collect()
    assert len(got) > 0
    for r in rows:
        collector = EventCollector()
        p = SaxParser(events=0x3FF, handler=collector)
        p.write(bytes(r.html))
        p.end()
        expect = [
            tuple(bytes(x) if isinstance(x, (bytearray, memoryview)) else x for x in row)
            for row in collector.rows
        ]
        actual = [
            tuple(bytes(x) if isinstance(x, (bytearray, memoryview)) else x for x in row)
            for row in got.get(r.url, [])
        ]
        assert actual == expect, f"url={r.url}"


def test_tokenize_chunked_values_match(spark, pages):
    """The distributed tokenizer's event values equal the streaming
    kernel fed in 64-byte writes (kernel.collect.parse_events).

    OpenTagStart (event 5) is excluded: the reference re-emits it when a
    write boundary lands mid-tag-name (parser.rs:535-541 runs once per
    re-entry), shifting event indices — verified reference behavior
    (tools/diff_ref.py --sweep)."""
    sub = pages.limit(12)
    flat = tokenize_events(sub, id_cols=("url",))
    cols = ["url", "event", "name", "value", "attr_name", "attr_value", "self_closing"]
    a = sorted(map(tuple, flat.where(F.col("event") != 5).select(*cols).collect()))
    # FIELD_NAMES positions of cols[1:] in a kernel row
    picks = (0, 2, 3, 4, 5, 7)
    b = sorted(
        (r.url, *(ev[k] for k in picks))
        for r in sub.select("url", "html").collect()
        for ev in parse_events(bytes(r.html), chunk_size=64)
        if ev[0] != 5
    )
    assert len(a) > 0 and a == b


def test_extract_matches_local(spark, pages):
    ex = extract_main_content(pages)
    got = {r.url: bytes(r.text_bytes) for r in ex.collect()}
    for r in pages.select("url", "html").collect():
        text, _, _, _, _ = extract_bytes(bytes(r.html))
        assert got[r.url] == text, f"url={r.url}"


def test_extract_slices_large_batches(spark):
    """One partition of 300 pages reaches the extractor as a batch larger
    than SLICE_ROWS; every slice's rows come out once and unchanged."""
    from sax_wasm_spark.operators.rows import SLICE_ROWS

    n = 300
    assert n > 2 * SLICE_ROWS
    one = synthesize_pages(spark, n, partitions=1).coalesce(1)
    got = {}
    for r in extract_main_content(one).collect():
        assert r.url not in got, f"url={r.url} extracted twice"
        got[r.url] = (bytes(r.text_bytes), r.n_events, r.status)
    rows = one.select("url", "html").collect()
    assert len(got) == len(rows) == n
    for r in rows:
        text, _, n_events, status, _ = extract_bytes(bytes(r.html))
        assert got[r.url] == (text, n_events, status), f"url={r.url}"


def test_extract_drops_boilerplate():
    _, _, html, _, _ = build_page(1)  # boilerplate-rich page
    text, spans, n_events, status, title = extract_bytes(html)
    assert status == "ok"
    assert b"about" not in text  # footer link text dropped
    assert len(spans) > 0
    assert text  # article content kept


def test_lineage_resume_idempotent(spark, pages, tmp_path):
    out = str(tmp_path / "extract_out")
    r1 = run_extraction(spark, pages, out, num_shards=8, run_id="r1")
    assert r1["processed_shards"] == 8
    # shards 0 and 1 "fail": their lineage rows are lost, so their rows
    # no longer read back (a completed pass records every shard it
    # covered, so a pass over fewer pages would not leave them open)
    lost = with_shard(pages, 8).where(F.col("shard").isin(0, 1)).count()
    assert lost > 0
    kept = spark.read.parquet(f"{out}/lineage").where(~F.col("shard").isin(0, 1)).collect()
    lineage_rows(spark, kept).write.mode("overwrite").parquet(f"{out}/lineage")
    n1 = read_extracted(spark, out).count()
    assert n1 == N_PAGES - lost
    # resume: only the lost shards run
    r2 = run_extraction(spark, pages, out, num_shards=8, run_id="r2")
    assert r2 == {"processed_shards": 2, "skipped_shards": 6, "n_docs": lost}
    total = read_extracted(spark, out).count()
    assert total == N_PAGES
    assert total > n1
    # third run: everything already done → no-op
    r3 = run_extraction(spark, pages, out, num_shards=8, run_id="r3")
    assert r3["processed_shards"] == 0
    after = read_extracted(spark, out)
    assert after.count() == N_PAGES
    assert after.select("url").distinct().count() == N_PAGES  # each url once
    # lineage covers every shard exactly once with ok status
    lin = spark.read.parquet(f"{out}/lineage")
    ok = lin.where(F.col("status") == "ok").select("shard").distinct().count()
    assert ok == lin.count() == 8


def test_parquet_output_commits_only_to_its_own_lineage(spark, pages, tmp_path, monkeypatch):
    """Parquet output reads back through ``<out>/lineage``, so a pass
    refuses any other lineage path before it writes, and a root whose
    pass was never committed (killed before its lineage append) raises
    on read, and as a refresh's previous root, instead of reading as no
    rows."""
    from pyspark.errors import AnalysisException

    from sax_wasm_spark.plans import lineage

    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="commits to"):
        run_extraction(spark, pages, out, 8, "r1", lineage_path=str(tmp_path / "lin"))
    assert not os.path.exists(out) and not os.path.exists(tmp_path / "lin")

    def killed(*args):
        raise RuntimeError("killed before the commit")

    monkeypatch.setattr(lineage, "_append_lineage", killed)
    with pytest.raises(RuntimeError, match="killed"):
        run_extraction(spark, pages, out, 8, "r1")
    assert os.listdir(f"{out}/extracted") and not os.path.exists(f"{out}/lineage")
    with pytest.raises(AnalysisException):
        read_extracted(spark, out).count()
    with pytest.raises(AnalysisException):
        lineage.run_extraction_incremental(spark, pages, str(tmp_path / "new"), out, 8, "i")


def test_lineage_unreadable_table_raises(spark, pages, tmp_path):
    """A missing lineage table reads as no shard done; an unreadable one
    raises, instead of reading as empty and re-extracting the whole
    corpus into an output whose lineage still cannot be read."""
    from sax_wasm_spark.plans.lineage import completed_shards

    assert completed_shards(spark, str(tmp_path / "missing")) == frozenset()
    out = tmp_path / "out"
    (out / "lineage").mkdir(parents=True)
    (out / "lineage" / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet") as exc:
        run_extraction(spark, pages, str(out), num_shards=8, run_id="r1")
    assert type(exc.value).__name__ != "AnalysisException"
    assert not (out / "extracted").exists()


def test_shard_determinism(spark, pages):
    a = with_shard(pages, 16).select("url", "shard").orderBy("url").collect()
    b = with_shard(pages.repartition(7), 16).select("url", "shard").orderBy("url").collect()
    assert a == b


def test_knn_and_ann(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    query = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0].embedding]
    exact = knn_bruteforce(emb.where(F.col("vec_id") != 0), query, k=10)
    approx = ann_lsh(emb.where(F.col("vec_id") != 0), query, k=10, n_planes=16, n_bands=8)
    exact_ids = [r.vec_id for r in exact.collect()]
    approx_ids = [r.vec_id for r in approx.collect()]
    assert len(exact_ids) == 10
    # multi-band LSH recall on the top-10 should be substantial
    recall = len(set(exact_ids) & set(approx_ids)) / 10
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_ann_index_persisted(spark, tmp_path):
    """AnnIndex materializes signatures once; query() runs against the
    persisted parquet with NO Python stage (no re-signing)."""
    from sax_wasm_spark.operators.similarity import AnnIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    query = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0].embedding]
    idx = AnnIndex(dim=len(query), n_planes=16, n_bands=8)
    path = str(tmp_path / "ann_index")
    idx.build(emb.where(F.col("vec_id") != 0)).write.parquet(path)

    signed = spark.read.parquet(path)
    out = idx.query(signed, query, k=10)
    # the probe plan must not contain the signature pandas UDF stage
    plan = out._sc._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan[:2000]

    exact_ids = [r.vec_id for r in knn_bruteforce(emb.where(F.col("vec_id") != 0), query, k=10).collect()]
    approx_ids = [r.vec_id for r in out.collect()]
    recall = len(set(exact_ids) & set(approx_ids)) / 10
    assert recall >= 0.5, f"persisted-index recall too low: {recall}"
    # same result as the one-shot path (identical planes/seed)
    oneshot_ids = [
        r.vec_id
        for r in ann_lsh(emb.where(F.col("vec_id") != 0), query, k=10, n_planes=16, n_bands=8).collect()
    ]
    assert approx_ids == oneshot_ids


def test_resolve_clusters_small_graph(spark):
    """Chain + triangle + isolated pair: min-id propagation with pointer
    jumping must label every node with its component's min id."""
    from sax_wasm_spark.operators.clusters import resolve_clusters

    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5),   # chain → rep 1
        (10, 11), (11, 12), (10, 12),     # triangle → rep 10
        (20, 21),                          # pair → rep 20
    ]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: (r.rep_id, r.keep) for r in resolve_clusters(pairs).collect()}
    want = {
        1: (1, True), 2: (1, False), 3: (1, False), 4: (1, False), 5: (1, False),
        10: (10, True), 11: (10, False), 12: (10, False),
        20: (20, True), 21: (20, False),
    }
    assert got == want


def test_ivf_index_and_query(spark, tmp_path):
    """IVF coarse quantizer: deterministic build, partition-pruned
    probe, recall vs brute force."""
    from sax_wasm_spark.operators.similarity import ivf_build, ivf_query

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    query = [float(x) for x in emb.where(F.col("vec_id") == 0).collect()[0].embedding]
    assigned, centroids = ivf_build(emb.where(F.col("vec_id") != 0), n_lists=8, n_iter=2)
    path = str(tmp_path / "ivf")
    assigned.write.partitionBy("list_id").parquet(path)
    stored = spark.read.parquet(path)
    # every vector in exactly one list; all lists non-degenerate
    assert stored.count() == emb.count() - 1
    assert stored.select("list_id").distinct().count() > 1

    got = ivf_query(stored, centroids, query, k=10, n_probe=4)
    got_ids = [r.vec_id for r in got.collect()]
    exact_ids = [r.vec_id for r in knn_bruteforce(emb.where(F.col("vec_id") != 0), query, k=10).collect()]
    recall = len(set(got_ids) & set(exact_ids)) / 10
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # determinism: rebuilding yields the same centroids
    _, c2 = ivf_build(emb.where(F.col("vec_id") != 0), n_lists=8, n_iter=2)
    assert [[round(v, 9) for v in c] for c in centroids] == [[round(v, 9) for v in c] for c in c2]


def test_iceberg_writer_contract(spark):
    """The iceberg branch of write_extracted_partitioned is
    unexercisable in-sandbox (no iceberg-spark jars), so its call
    sequence is contract-tested against a mock (VERDICT r2 item 6):
    existing table → partitionedBy(shard) + overwritePartitions()
    (snapshot-isolated REPLACE of exactly the shards present); missing
    table → createOrReplace() bootstrap (ADVICE r2: bare
    overwritePartitions() fails on first run). Off-container runbook:
    docstring of write_extracted_partitioned + README 'Iceberg' note."""
    from unittest.mock import MagicMock

    from sax_wasm_spark.plans.lineage import write_extracted_partitioned

    existing = MagicMock()
    existing.sparkSession.catalog.tableExists.return_value = True
    write_extracted_partitioned(existing, "cat.db.pages", "iceberg")
    existing.writeTo.assert_called_once_with("cat.db.pages_extracted")
    writer = existing.writeTo.return_value.partitionedBy.return_value
    writer.overwritePartitions.assert_called_once_with()
    writer.createOrReplace.assert_not_called()

    fresh = MagicMock()
    fresh.sparkSession.catalog.tableExists.return_value = False
    write_extracted_partitioned(fresh, "cat.db.pages", "iceberg")
    w2 = fresh.writeTo.return_value.partitionedBy.return_value
    w2.createOrReplace.assert_called_once_with()
    w2.overwritePartitions.assert_not_called()


def test_lsh_hot_bucket_guard(spark):
    """Adversarial corpus: 1000 byte-identical docs share EVERY band
    bucket — unguarded, that one key yields ~500k quadratic pairs.
    With max_bucket armed the degenerate buckets are dropped (logged,
    not silent) while ordinary near-dup pairs in small buckets
    survive (VERDICT r2 next-round item 4)."""
    from sax_wasm_spark.operators.dedup import minhash_lsh_pairs

    spam = " ".join(["lorem", "ipsum", "dolor", "sit", "amet"] * 4)
    rows = [(i, spam) for i in range(1000)]
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows += [(2000, base + " mu"), (2001, base + " nu")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = minhash_lsh_pairs(docs, max_bucket=100)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (2000, 2001) in got, got
    assert all(a >= 2000 for a, _ in got), f"hot-bucket pairs leaked: {sorted(got)[:5]}"

    # the armed guard's cached hot frame is exposed for release (ADVICE
    # r4: it leaked for the application lifetime) and unpersisting it
    # leaves no persistent RDDs behind
    cached = getattr(pairs, "_sax_persisted", None)
    assert cached is not None
    assert cached.storageLevel.useMemory  # armed guard cached its frame
    cached.unpersist(blocking=True)
    # released (other fixtures may hold their own caches in the shared
    # session, so assert on THIS frame, not the global RDD registry)
    assert not cached.storageLevel.useMemory


def test_ivf_build_scales_in_n_lists(spark):
    """n_lists=64 / dim=64 (VERDICT r2 item 2 done-criterion): the
    round-2 when-chain argmin grew the expression tree linearly in
    n_lists; the vectorized matmul-argmin keeps the plan constant-size,
    so 64 lists must build as routinely as 8."""
    from sax_wasm_spark.operators.similarity import ivf_build

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assigned, centroids = ivf_build(emb, n_lists=64, n_iter=2)
    assert len(centroids) == 64 and all(len(c) == 64 for c in centroids)
    counts = {r.list_id: r.n for r in assigned.groupBy("list_id").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == emb.count()
    assert len(counts) > 16  # assignment actually spreads across lists


@pytest.mark.parametrize("error_col", ["status", None])
def test_map_rows(spark, error_col):
    """The row-map primitive: 0, 1 and 3 outputs per row with the ids
    repeated, a NULL input cell reaching ``fn`` as None, and a raising
    ``fn`` — one ``error:`` row with NULL outputs when the stage has an
    error column, a failed job when it has none."""
    from sax_wasm_spark.operators.rows import map_rows

    def fan(n):
        if n is None:
            return [(None, "null", "ok")]
        if n == 5:
            raise TypeError("poison row")
        return [(k, f"r{k}", "ok") for k in range(n)]

    df = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1), (3, "c", 3), (4, "d", None), (5, "e", 5)],
        "id long, tag string, n int",
    )
    out_ddl = "k int, v string not null, status string not null"
    expected = [
        (2, "b", 0, "r0", "ok"),
        (3, "c", 0, "r0", "ok"),
        (3, "c", 1, "r1", "ok"),
        (3, "c", 2, "r2", "ok"),
        (4, "d", None, "null", "ok"),
    ]
    if error_col is None:
        with pytest.raises(Exception, match="poison row"):
            map_rows(df, fan, ["n"], out_ddl, ["id", "tag"]).collect()
        df = df.where(F.col("id") != 5)
    else:
        expected.append((5, "e", None, None, "error:poison row"))
    out = map_rows(df, fan, ["n"], out_ddl, ["id", "tag"], error_col=error_col)
    assert out.columns == ["id", "tag", "k", "v", "status"]
    # an error row may NULL any output but the error column
    nullable = {f.name: f.nullable for f in out.schema.fields}
    assert (nullable["v"], nullable["status"]) == (error_col is not None, False)
    got = sorted(out.collect(), key=lambda r: (r.id, r.k if r.k is not None else -1))
    assert [tuple(r) for r in got] == expected

    # one input batch (one partition, below maxRecordsPerBatch) spanning
    # three slices: the ids are repeated across slice boundaries by an
    # Arrow take, keeping their types and NULLs
    from sax_wasm_spark.operators.rows import SLICE_ROWS

    n_rows = 2 * SLICE_ROWS + 44
    big = spark.range(0, n_rows, numPartitions=1).select(
        "id",
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.concat(F.lit("t"), F.col("id").cast("string")))
        .alias("tag"),
        (F.col("id") % 4).cast("int").alias("n"),
    )
    out = map_rows(big, fan, ["n"], out_ddl, ["id", "tag"], error_col=error_col)
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema.fields[:2]] == [
        ("id", "bigint", False),
        ("tag", "string", True),
    ]
    expected = sorted(
        (i, None if i % 7 == 0 else f"t{i}", k, f"r{k}", "ok")
        for i in range(n_rows)
        for k in range(i % 4)
    )
    assert sorted(tuple(r) for r in out.collect()) == expected


def test_multimodal_resize_and_frames(spark):
    """Frame-sample (1→n) plumbing: one row per sampled frame, in
    timestamp order."""
    from sax_wasm_spark.operators.multimodal import sample_frames

    rows = [(i, "video", bytes([i % 251]) * (400 + i)) for i in range(12)]
    df = spark.createDataFrame(rows, "media_id long, kind string, media binary")
    fr = sample_frames(df, n_frames=5).collect()
    assert len(fr) == 12 * 5
    one = sorted([r for r in fr if r.media_id == 3], key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in one] == [0, 1, 2, 3, 4]
    assert all(one[i].ts_ms <= one[i + 1].ts_ms for i in range(4))
    assert all(r.frame for r in one)


def test_dedup_job_end_to_end(spark, tmp_path):
    """jobs/dedup_job.run_dedup: exact + near dups drop, one rep per
    cluster survives, kept ∪ dropped partitions the corpus."""
    from jobs.dedup_job import run_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    rows = [
        (1, base),                      # near-dup cluster {1,2,3}: 1 kept
        (2, base + "tail one"),
        (3, base + "tail two"),
        (10, "totally different words " + "x y z w v u t s r q " * 6),
        (11, "another unrelated doc " + "m n o p q r s t u v " * 6),
        (20, "exact twin content " + "a b c d e f g h i j " * 6),
        (21, "exact twin content " + "a b c d e f g h i j " * 6),  # == 20
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "dedup")
    stats = run_dedup(spark, docs, out, jaccard=0.5)
    kept = {r.doc_id for r in spark.read.parquet(f"{out}/kept").collect()}
    drops = {r.drop_id: r.reason for r in spark.read.parquet(f"{out}/drops").collect()}
    assert 1 in kept and 2 not in kept and 3 not in kept
    assert drops[2] == "near" and drops[3] == "near"
    assert 20 in kept and drops[21] == "exact"
    assert {10, 11} <= kept
    assert stats["n_kept"] + stats["n_dropped"] == stats["n_docs"] == 7
    assert kept | set(drops) == {r[0] for r in rows}


def test_dedup_job_incremental_matches_from_scratch(spark, tmp_path):
    """run_dedup_incremental (VERDICT r5 item 6): a refresh with a few
    churned docs must (a) reuse the previous run's signature store and
    verified pairs for unchanged docs, (b) produce pairs/drops/kept
    tables row-identical to a from-scratch run on the new corpus, and
    (c) refuse to write in place."""
    import pytest as _pytest
    from jobs.dedup_job import run_dedup, run_dedup_incremental

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    other = "totally different words " + "x y z w v u t s r q " * 6
    old_rows = [
        (1, base),
        (2, base + "tail one"),
        (3, base + "tail two"),
        (10, other),
        (11, "another unrelated doc " + "m n o p q r s t u v " * 6),
        (20, "exact twin content " + "a b c d e f g h i j " * 6),
        (21, "exact twin content " + "a b c d e f g h i j " * 6),
    ]
    # refresh: drop 3, change 11 into a near-dup of 10 (new cross-pair
    # between a churned and an unchanged doc), add 30 as a near-dup of
    # 1 (added doc joins an existing cluster), keep the rest unchanged
    new_rows = [
        (1, base),
        (2, base + "tail one"),
        (10, other),
        (11, other + "slightly"),
        (20, "exact twin content " + "a b c d e f g h i j " * 6),
        (21, "exact twin content " + "a b c d e f g h i j " * 6),
        (30, base + "tail three"),
    ]
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    out0, out1, out2 = (str(tmp_path / d) for d in ("base", "inc", "scratch"))
    run_dedup(spark, old, out0, jaccard=0.5)
    stats = run_dedup_incremental(spark, new, out1, previous_path=out0, jaccard=0.5)
    run_dedup(spark, new, out2, jaccard=0.5)

    assert stats["n_churned"] == 2  # 11 changed + 30 added
    assert stats["n_sigs_reused"] == 5
    for table in ("pairs", "drops", "kept", "buckets", "hashes"):
        a = sorted(map(tuple, spark.read.parquet(f"{out1}/{table}").collect()))
        b = sorted(map(tuple, spark.read.parquet(f"{out2}/{table}").collect()))
        assert a == b, f"{table} diverged between incremental and scratch"
    kept = {r.doc_id for r in spark.read.parquet(f"{out1}/kept").collect()}
    # the added doc joined cluster {1,2,30}; the changed doc paired
    # with unchanged 10; deleted 3 is gone everywhere
    assert 1 in kept and 2 not in kept and 30 not in kept
    assert 10 in kept and 11 not in kept
    assert 3 not in kept | {
        r.drop_id for r in spark.read.parquet(f"{out1}/drops").collect()
    }

    with _pytest.raises(ValueError, match="in place"):
        run_dedup_incremental(spark, new, out0, previous_path=out0)

    # round-6 review: parameter drift against the persisted state must
    # fail fast (carried-over pairs filtered at a different jaccard
    # would silently break incremental == from-scratch)
    out3 = str(tmp_path / "drift")
    with _pytest.raises(ValueError, match="parameter drift"):
        run_dedup_incremental(spark, new, out3, previous_path=out0, jaccard=0.8)
    with _pytest.raises(ValueError, match="parameter drift"):
        run_dedup_incremental(
            spark, new, out3, previous_path=out0, jaccard=0.5, n_hashes=16
        )
    # a pre-params legacy state refuses incremental with guidance
    import shutil as _shutil

    legacy = str(tmp_path / "legacy_state")
    _shutil.copytree(out0, legacy)
    _shutil.rmtree(f"{legacy}/params")
    with _pytest.raises(ValueError, match="no params table"):
        run_dedup_incremental(spark, new, out3, previous_path=legacy, jaccard=0.5)


def test_prepare_corpus_pipeline_end_to_end(spark, pages, tmp_path):
    """jobs/prepare_corpus_job.run_pipeline: extract → filter → dedup →
    stats over the synthetic pages corpus, then a second run resumes
    without re-extracting (every shard already has an ok lineage row)."""
    from jobs.prepare_corpus_job import run_pipeline

    out = str(tmp_path / "corpus")
    stats = run_pipeline(
        spark,
        pages,
        out,
        num_shards=8,
        min_quality=0.0,
        min_chars=10,
        run_id="p1",
    )
    assert stats["extract"]["processed_shards"] == 8
    assert stats["n_filtered"] > 0
    kept = spark.read.parquet(f"{out}/kept")
    n_kept = kept.count()
    assert 0 < n_kept <= stats["n_filtered"]
    assert stats["dedup"]["n_kept"] == n_kept
    # audit stats cover exactly the kept corpus
    agg = spark.read.parquet(f"{out}/stats")
    assert sum(r.n_docs for r in agg.collect()) == n_kept
    assert set(kept.columns) >= {"url", "doc_id", "text", "lang", "quality"}

    # resume: run 2 skips all shards, final corpus unchanged
    stats2 = run_pipeline(
        spark,
        pages,
        out,
        num_shards=8,
        min_quality=0.0,
        min_chars=10,
        run_id="p2",
    )
    assert stats2["extract"]["processed_shards"] == 0
    assert stats2["extract"]["skipped_shards"] == 8
    assert spark.read.parquet(f"{out}/kept").count() == n_kept

    # third run with the C4-style line dedup armed: same extract (still
    # resumes), filtered texts must contain no corpus-repeated line
    out3 = str(tmp_path / "corpus3")
    import shutil

    shutil.copytree(f"{out}/extracted", f"{out3}/extracted")
    shutil.copytree(f"{out}/lineage", f"{out3}/lineage")
    eval_df = spark.createDataFrame(
        [
            (r.text,)
            for r in spark.read.parquet(f"{out}/kept").select("text").limit(2).collect()
        ],
        "text string",
    )
    stats3 = run_pipeline(
        spark,
        pages,
        out3,
        num_shards=8,
        min_quality=0.0,
        min_chars=10,
        line_min_df=3,
        decon_eval=eval_df,
        decon_n=8,
        mix_weights={"en": 1.0},
        mix_default=1.0,
        run_id="p3",
    )
    assert stats3["extract"]["processed_shards"] == 0
    # decontamination: no surviving doc shares an 8-gram with the eval set
    decon = spark.read.parquet(f"{out3}/decontaminated")
    eval_texts = {r.text for r in eval_df.collect()}
    assert all(r.text not in eval_texts for r in decon.select("text").collect())
    assert (tmp_path / "corpus3" / "mixed").exists()
    filtered3 = spark.read.parquet(f"{out3}/filtered")
    from pyspark.sql import functions as F

    line_df = (
        filtered3.select(F.explode(F.array_distinct(F.split("text", "\n"))).alias("l"))
        .groupBy("l")
        .count()
    )
    assert line_df.where(F.col("count") >= 3).count() == 0
    assert 0 < filtered3.count() <= stats["n_filtered"]


def test_pipeline_full_incremental_refresh(spark, pages, tmp_path):
    """The complete refresh story: run_pipeline with --previous chains
    the extraction refresh (stage 1 reuses unchanged pages' rows) INTO
    incremental dedup (stage 3 re-shingles only churned docs against
    the persisted signature store), and the refreshed corpus equals a
    from-scratch pipeline run on the new crawl."""
    from pyspark.sql import functions as F

    from jobs.prepare_corpus_job import run_pipeline
    from sax_wasm_spark.sources.pages import synthesize_pages

    base = str(tmp_path / "base")
    kw = dict(num_shards=4, min_quality=0.0, min_chars=10)
    run_pipeline(spark, pages, base, run_id="b", **kw)

    # new crawl: drop 3 urls, mutate 4 pages, add 5 new ones
    urls = sorted(r.url for r in pages.select("url").collect())
    dropped, mutated = set(urls[:3]), set(urls[3:7])
    new_pages = (
        pages.where(~F.col("url").isin(*dropped))
        .withColumn(
            "html",
            F.when(
                F.col("url").isin(*mutated),
                F.concat(F.col("html"), F.lit(b"<p>fresh content this round</p>")),
            ).otherwise(F.col("html")),
        )
        .unionByName(synthesize_pages(spark, 5, partitions=1, start_id=70_000))
    )

    inc = str(tmp_path / "inc")
    stats = run_pipeline(
        spark, new_pages, inc, previous_path=base, run_id="i", **kw
    )
    assert stats["extract"]["n_reused"] == len(urls) - 3 - 4
    assert stats["dedup"]["incremental"] is True
    assert stats["dedup"]["n_sigs_reused"] > 0

    scratch = str(tmp_path / "scratch")
    s2 = run_pipeline(spark, new_pages, scratch, run_id="s", **kw)
    assert s2["dedup"]["incremental"] is False
    cols = ["url", "doc_id", "text", "lang"]
    a = sorted(map(tuple, spark.read.parquet(f"{inc}/kept").select(*cols).collect()))
    b = sorted(map(tuple, spark.read.parquet(f"{scratch}/kept").select(*cols).collect()))
    assert a == b


def test_streaming_extraction(spark, pages, tmp_path):
    from sax_wasm_spark.streaming.stream import extract_stream

    in_path = str(tmp_path / "pages_in")
    out_path = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    pages.limit(40).write.mode("overwrite").parquet(in_path)
    q = extract_stream(spark, in_path, out_path, ckpt, available_now=True)
    q.awaitTermination(120)
    got = spark.read.parquet(out_path)
    assert got.count() == 40
    batch = {r.url: bytes(r.text_bytes) for r in extract_main_content(
        spark.read.parquet(in_path)).collect()}
    stream = {r.url: bytes(r.text_bytes) for r in got.collect()}
    assert stream == batch


def test_stateful_streaming_host_totals(spark, pages, tmp_path):
    """applyInPandasWithState accumulates per-host counters across
    micro-batches (maxFilesPerTrigger=1 forces multiple batches)."""
    from sax_wasm_spark.sources.pages import PAGES_SCHEMA
    from sax_wasm_spark.streaming.stateful import running_host_totals

    in_path = str(tmp_path / "stateful_in")
    ckpt = str(tmp_path / "stateful_ckpt")
    sub = pages.limit(60).cache()
    # three separate files → three micro-batches
    for i in range(3):
        sub.where(F.pmod(F.xxhash64("url"), F.lit(3)) == i).coalesce(1).write.mode(
            "append"
        ).parquet(in_path)

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_path)
    )
    q = (
        running_host_totals(stream)
        .writeStream.format("memory")
        .queryName("host_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # last update per host == full batch counts
    final = {
        r.host: r.total_pages
        for r in spark.sql(
            """
            SELECT host, total_pages FROM (
              SELECT host, total_pages,
                     row_number() OVER (PARTITION BY host ORDER BY total_pages DESC) rn
              FROM host_totals
            ) WHERE rn = 1
            """
        ).collect()
    }
    expect = {
        r.host: r.n
        for r in sub.groupBy(
            F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("host")
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert final == expect


def test_tokenize_nested_matches_flat(spark, pages):
    from sax_wasm_spark.operators.tokenize import tokenize_nested

    sub = pages.limit(10)
    flat = tokenize_events(sub, id_cols=("url",))
    nested = tokenize_nested(sub, id_cols=("url",))
    flat_by_url = {}
    for r in flat.collect():
        flat_by_url.setdefault(r.url, []).append(tuple(r)[1:])
    for r in nested.collect():
        ev = [tuple(e) for e in r.events]
        want = [
            tuple(bytes(x) if isinstance(x, (bytearray, memoryview)) else x for x in t)
            for t in flat_by_url.get(r.url, [])
        ]
        got = [
            tuple(bytes(x) if isinstance(x, (bytearray, memoryview)) else x for x in t)
            for t in ev
        ]
        assert got == want
    # the nested column supports F.filter / F.size expressions
    n = nested.select(
        F.size(F.filter("events", lambda e: e["event"] == 7)).alias("n_open")
    ).agg(F.sum("n_open")).collect()[0][0]
    assert n > 0


def test_pipeline_robots_gate_blocks_and_counts(spark, pages, tmp_path):
    """The --robots stage (VERDICT r4 item 5): a deny-all host's pages
    are dropped BEFORE extraction and counted in the stage stats; an
    allow-all host and hosts absent from the dim table pass through."""
    from pyspark.sql import functions as F

    from jobs.prepare_corpus_job import run_pipeline
    from sax_wasm_spark.functions.url import url_host

    hosts = [
        r.h
        for r in pages.select(url_host(F.col("url")).alias("h"))
        .groupBy("h").count().orderBy(F.desc("count")).limit(2).collect()
    ]
    deny_host, allow_host = hosts[0], hosts[1]
    n_denied = pages.where(
        url_host(F.col("url")) == deny_host
    ).count()
    assert n_denied > 0
    robots = spark.createDataFrame(
        [
            (deny_host, "User-agent: *\nDisallow: /\n"),
            (allow_host, "User-agent: *\nAllow: /\n"),
        ],
        "host string, robots_txt string",
    )
    out = str(tmp_path / "robots_corpus")
    stats = run_pipeline(
        spark,
        pages,
        out,
        num_shards=4,
        min_quality=0.0,
        min_chars=10,
        robots=robots,
        run_id="robots1",
    )
    assert stats["robots"]["n_pages"] == pages.count()
    assert stats["robots"]["n_blocked"] == n_denied
    extracted = read_extracted(spark, out)
    ex_hosts = {
        r.h for r in extracted.select(url_host(F.col("url")).alias("h")).collect()
    }
    assert deny_host not in ex_hosts  # blocked before extraction
    assert allow_host in ex_hosts  # allow-all and absent hosts pass


def test_snapshot_diff_classification(spark):
    """operators/delta.snapshot_diff: the four change classes on a
    hand-built pair of snapshots."""
    from sax_wasm_spark.operators.delta import snapshot_diff

    old = spark.createDataFrame(
        [("u1", "same"), ("u2", "before"), ("u3", "gone")],
        "url string, text string",
    )
    new = spark.createDataFrame(
        [("u1", "same"), ("u2", "after"), ("u4", "fresh")],
        "url string, text string",
    )
    diff = snapshot_diff(old, new)
    got = {r.url: r.change for r in diff.collect()}
    assert got == {
        "u1": "unchanged",
        "u2": "changed",
        "u3": "deleted",
        "u4": "added",
    }
    rows = diff.collect()
    by_url = {r.url: r for r in rows}
    assert by_url["u3"].new_hash is None and by_url["u4"].old_hash is None
    # the join must carry hashes, not texts: plan projects md5 before
    # the exchange
    plan = diff._sc._jvm.PythonSQLUtils.explainString(
        diff._jdf.queryExecution(), "formatted"
    )
    assert "md5" in plan and "FullOuter" in plan, plan[:2000]


def test_snapshot_diff_duplicate_keys_one_row_never_unchanged(spark):
    """ADVICE r5: duplicate keys must not fan out through the
    full-outer join — exactly one row per key, and a duplicated key is
    never 'unchanged' (matches the incremental refresh's
    never-reuse-duplicates rule)."""
    from sax_wasm_spark.operators.delta import snapshot_diff

    old = spark.createDataFrame(
        [("dup", "a"), ("dup", "b"), ("solo", "x"), ("newdup", "p")],
        "url string, text string",
    )
    new = spark.createDataFrame(
        [("dup", "a"), ("solo", "x"), ("newdup", "p"), ("newdup", "q")],
        "url string, text string",
    )
    rows = snapshot_diff(old, new).collect()
    assert len(rows) == 3  # one row per key, no fan-out
    got = {r.url: r.change for r in rows}
    # dup: 2 old rows vs 1 new (hash-equal on one pair) → changed
    # newdup: 1 old vs 2 new → changed; solo: genuine unchanged
    assert got == {"dup": "changed", "newdup": "changed", "solo": "unchanged"}


def test_incremental_extraction_reuses_unchanged(spark, pages, tmp_path):
    """run_extraction_incremental: a refresh where most pages are
    byte-identical must reuse their previous extracted rows (no kernel
    run), extract only the changed/added pages, and count deletions —
    with the combined snapshot byte-identical to a from-scratch run."""
    from pyspark.sql import functions as F

    from sax_wasm_spark.plans.lineage import (
        run_extraction,
        run_extraction_incremental,
    )

    base = str(tmp_path / "snap0")
    run_extraction(spark, pages, base, num_shards=8, run_id="base")
    prev = read_extracted(spark, base)
    assert "html_hash" in prev.columns  # the refresh key is persisted

    # new crawl: drop 5 urls, mutate 7 pages' html, add 6 new pages
    from sax_wasm_spark.sources.pages import synthesize_pages

    urls = sorted(r.url for r in pages.select("url").collect())
    dropped = set(urls[:5])
    mutated = set(urls[5:12])
    new_pages = (
        pages.where(~F.col("url").isin(*dropped))
        .withColumn(
            "html",
            F.when(
                F.col("url").isin(*mutated),
                F.concat(F.col("html"), F.lit(b"<p>refresh delta</p>")),
            ).otherwise(F.col("html")),
        )
        .unionByName(
            synthesize_pages(spark, 6, partitions=1, start_id=90_000)
        )
    )
    out = str(tmp_path / "snap1")
    stats = run_extraction_incremental(
        spark, new_pages, out, previous_path=base, num_shards=8, run_id="inc"
    )
    assert stats["n_deleted"] == 5
    assert stats["n_extracted"] == 7 + 6  # mutated + added only
    assert stats["n_reused"] == len(urls) - 5 - 7
    assert stats["n_docs"] == stats["n_reused"] + stats["n_extracted"]

    # the combined snapshot equals a from-scratch extraction bit for bit
    scratch = str(tmp_path / "scratch")
    run_extraction(spark, new_pages, scratch, num_shards=8, run_id="scratch")
    cols = ["url", "text", "status", "n_events", "html_hash", "shard"]
    a = sorted(map(tuple, read_extracted(spark, out).select(*cols).collect()))
    b = sorted(map(tuple, read_extracted(spark, scratch).select(*cols).collect()))
    assert a == b


def test_snapshot_diff_null_text_is_not_phantom_delete(spark):
    """NULL text must classify by KEY presence + null-safe hash
    compare — never as a phantom add/delete that would tombstone a
    live document (round-5 review)."""
    from sax_wasm_spark.operators.delta import snapshot_diff

    old = spark.createDataFrame(
        [("u1", "x"), ("u2", None), ("u3", None)], "url string, text string"
    )
    new = spark.createDataFrame(
        [("u1", None), ("u2", None), ("u3", "y")], "url string, text string"
    )
    got = {r.url: r.change for r in snapshot_diff(old, new).collect()}
    assert got == {"u1": "changed", "u2": "unchanged", "u3": "changed"}


def test_incremental_edge_cases(spark, tmp_path):
    """Refresh edge rules: a pre-html_hash snapshot degrades to
    all-changed (no crash), duplicated urls are never reused, NULL
    html survives, and in-place / stale-output roots are refused."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from sax_wasm_spark.plans.lineage import (
        run_extraction,
        run_extraction_incremental,
    )
    from sax_wasm_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, 20, partitions=2)
    base = str(tmp_path / "base")
    run_extraction(spark, pages, base, num_shards=4, run_id="b")

    # 1. previous snapshot WITHOUT html_hash → everything re-extracts;
    #    it is committed through its lineage table like any snapshot
    legacy = str(tmp_path / "legacy")
    shutil.copytree(f"{base}/lineage", f"{legacy}/lineage")
    (pass_id,) = {r.pass_id for r in spark.read.parquet(f"{legacy}/lineage").collect()}
    read_extracted(spark, base).drop("html_hash").write.parquet(
        f"{legacy}/extracted/pass={pass_id}"
    )
    out1 = str(tmp_path / "out1")
    stats = run_extraction_incremental(
        spark, pages, out1, previous_path=legacy, num_shards=4, run_id="i1"
    )
    assert stats["n_reused"] == 0 and stats["n_extracted"] == 20

    # 2. duplicated url (re-fetched twice, identical html) + NULL html:
    #    neither is reused, neither is lost, output == from-scratch
    dup_url = pages.limit(1).collect()[0].url
    messy = (
        pages.unionByName(pages.where(F.col("url") == dup_url))
        .unionByName(
            pages.limit(1).select(
                F.lit("https://nullhtml.example.com/x").alias("url"),
                F.col("warc_ts"),
                F.lit(None).cast("binary").alias("html"),
                F.col("text"),
                F.col("lang"),
            )
        )
    )
    out2 = str(tmp_path / "out2")
    stats = run_extraction_incremental(
        spark, messy, out2, previous_path=base, num_shards=4, run_id="i2"
    )
    assert stats["n_docs"] == 22  # 20 + dup row + null-html row
    assert stats["n_reused"] == 19  # all but the duplicated url
    got = read_extracted(spark, out2)
    assert got.where(F.col("url") == dup_url).count() == 2
    assert got.where(F.col("url") == "https://nullhtml.example.com/x").count() == 1
    scratch = str(tmp_path / "scratch2")
    run_extraction(spark, messy, scratch, num_shards=4, run_id="s2")
    cols = ["url", "text", "status", "html_hash"]
    a = sorted(map(tuple, got.select(*cols).collect()))
    b = sorted(
        map(tuple, read_extracted(spark, scratch).select(*cols).collect())
    )
    assert a == b

    # 3. guards: in-place refresh and stale output roots are refused
    with _pytest.raises(ValueError, match="in place"):
        run_extraction_incremental(spark, pages, base, previous_path=base)
    with _pytest.raises(ValueError, match="stale"):
        run_extraction_incremental(spark, pages, out2, previous_path=base)

    # 4. num_shards change (ADVICE r5): reused rows' shard must be
    #    recomputed under the NEW modulus, never carried from the
    #    previous snapshot — every output row satisfies
    #    shard == url-hash % num_shards for the refresh's num_shards
    out3 = str(tmp_path / "out3")
    run_extraction_incremental(
        spark, pages, out3, previous_path=base, num_shards=7, run_id="i3"
    )
    from sax_wasm_spark.plans.lineage import with_shard

    got3 = read_extracted(spark, out3)
    expect = with_shard(got3.select("url"), 7).withColumnRenamed("shard", "exp")
    bad = (
        got3.select("url", "shard")
        .join(expect, "url")
        .where(F.col("shard") != F.col("exp"))
        .count()
    )
    assert bad == 0
    assert got3.select("shard").distinct().count() <= 7


def test_incremental_into_empty_root_is_fresh(spark, tmp_path):
    """The refresh decides whether its output root is fresh from the
    root's lineage table, not from its files: an existing but empty
    ``extracted`` directory holds no committed shard, so it counts as
    fresh, like a missing root; the result equals a refresh into a
    missing root."""
    from sax_wasm_spark.plans.lineage import run_extraction_incremental

    pages = synthesize_pages(spark, 20, partitions=2)
    base = str(tmp_path / "base")
    run_extraction(spark, pages, base, num_shards=4, run_id="b")
    empty = tmp_path / "empty"
    (empty / "extracted").mkdir(parents=True)
    a = run_extraction_incremental(spark, pages, str(empty), base, num_shards=4, run_id="i")
    b = run_extraction_incremental(
        spark, pages, str(tmp_path / "missing"), base, num_shards=4, run_id="i"
    )
    assert a == b == {"n_reused": 20, "n_extracted": 0, "n_deleted": 0, "n_docs": 20}
    cols = ["url", "text", "status", "html_hash", "shard"]

    def rows(root):
        return sorted(map(tuple, read_extracted(spark, root).select(*cols).collect()))

    assert rows(str(empty)) == rows(str(tmp_path / "missing")) == rows(base)


def test_head_metadata_pairing_and_edge_cases(spark):
    """Structural attribute→element pairing: a <meta> without content
    must NOT inherit an earlier element's content (no stale-attribute
    leakage); a newline-split <title> reassembles across Text events;
    repeated description keeps the FIRST; a page with no head fields
    still yields one all-NULL row; body-tag attributes never register."""
    from sax_wasm_spark.operators.metadata import extract_head_metadata

    pages = [
        # A: full head, title split across a newline flush, a second
        # (decoy) description that must lose to the first
        (
            0,
            b"<html><head><title>Line1\nLine2</title>"
            b'<meta name="description" content="first desc">'
            b'<meta name="description" content="second desc">'
            b'<meta property="og:title" content="OG A">'
            b'<link rel="canonical" href="https://a.example.com/c">'
            b'</head><body><p class="x">b</p></body></html>',
        ),
        # B: description meta has NO content; the next meta carries
        # og:title + content — leakage would wrongly pair them
        (
            1,
            b"<html><head>"
            b'<meta name="description">'
            b'<meta property="og:title" content="OG B">'
            b"</head><body>t</body></html>",
        ),
        # C: no head metadata at all
        (2, b"<html><body><p>plain</p></body></html>"),
        # D: link without rel=canonical must not register; stylesheet
        # href must not leak into canonical
        (
            3,
            b"<html><head><title>D</title>"
            b'<link rel="stylesheet" href="https://a.example.com/s.css">'
            b"</head><body>t</body></html>",
        ),
    ]
    df = spark.createDataFrame(pages, "doc_id long, html binary")
    got = {
        r["doc_id"]: r.asDict()
        for r in extract_head_metadata(df).collect()
    }
    assert set(got) == {0, 1, 2, 3}
    a = got[0]
    assert a["title"] == "Line1\nLine2"
    assert a["description"] == "first desc"
    assert a["og_title"] == "OG A"
    assert a["canonical"] == "https://a.example.com/c"
    b = got[1]
    assert b["description"] is None  # no stale pairing
    assert b["og_title"] == "OG B"
    assert b["title"] is None
    c = got[2]
    assert all(c[k] is None for k in ("title", "description", "og_title", "canonical"))
    d = got[3]
    assert d["title"] == "D"
    assert d["canonical"] is None


def test_paragraph_dedup_first_occurrence_semantics(spark):
    """Corpus-first wins, later copies drop (even WITHIN one doc);
    reassembly preserves original order; a doc whose every paragraph
    was seen earlier gets dedup_text NULL."""
    from sax_wasm_spark.operators.dedup import paragraph_dedup

    rows = [
        (0, "alpha\nshared\nalpha"),  # in-doc repeat of 'alpha' drops
        (1, "shared\nbravo"),  # 'shared' first seen in doc 0
        (2, "shared"),  # everything already seen
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert got[0]["n_paras"] == 3 and got[0]["n_kept"] == 2
    assert got[0]["dedup_text"] == "alpha\nshared"
    assert got[1]["n_paras"] == 2 and got[1]["n_kept"] == 1
    assert got[1]["dedup_text"] == "bravo"
    assert got[2]["n_paras"] == 1 and got[2]["n_kept"] == 0
    assert got[2]["dedup_text"] is None


def test_sitemap_parse_whitespace_and_missing_fields(spark):
    """Pretty-printed sitemaps (newlines/indentation between elements)
    must not attach whitespace text to any field; entries may omit
    optional fields (NULL); text outside any <url> entry is ignored."""
    from sax_wasm_spark.operators.metadata import parse_sitemap_entries

    xml = (
        b'<?xml version="1.0" encoding="UTF-8"?>\n'
        b'<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
        b"  <url>\n"
        b"    <loc>https://a.example.com/1</loc>\n"
        b"    <lastmod>2024-02-01</lastmod>\n"
        b"  </url>\n"
        b"  <url><loc>https://a.example.com/2</loc>"
        b"<priority>0.9</priority></url>\n"
        b"</urlset>"
    )
    df = spark.createDataFrame([(0, xml)], "doc_id long, xml binary")
    rows = sorted(
        parse_sitemap_entries(df).collect(), key=lambda r: r["url_ord"]
    )
    assert len(rows) == 2
    a, b = rows
    assert a["loc"] == "https://a.example.com/1"
    assert a["lastmod"] == "2024-02-01"
    assert a["changefreq"] is None and a["priority"] is None
    assert b["loc"] == "https://a.example.com/2"
    assert b["priority"] == "0.9" and b["lastmod"] is None


def test_head_metadata_title_hardening(spark):
    """Round-7 review regressions: an UNCLOSED <title> must not swallow
    the document body into the title; a later <svg><title> must not
    concatenate onto the first title (first-wins)."""
    from sax_wasm_spark.operators.metadata import extract_head_metadata

    pages = [
        (0, b"<html><head><title>Only This<body><p>body text here</p>"),
        (
            1,
            b"<html><head><title>Real</title></head><body>"
            b"<svg><title>tooltip</title></svg><p>t</p></body></html>",
        ),
    ]
    df = spark.createDataFrame(pages, "doc_id long, html binary")
    got = {r["doc_id"]: r for r in extract_head_metadata(df).collect()}
    assert got[0]["title"] == "Only This"
    assert got[1]["title"] == "Real"


def test_sitemap_multiline_field_values(spark):
    """Pretty-printed field VALUES (newlines inside <loc>) reassemble
    in event order and trim — not lexicographic max over fragments."""
    from sax_wasm_spark.operators.metadata import parse_sitemap_entries

    xml = (
        b"<urlset><url><loc>\n"
        b"    https://a.example.com/deep\n"
        b"  </loc><changefreq>daily</changefreq></url></urlset>"
    )
    df = spark.createDataFrame([(0, xml)], "doc_id long, xml binary")
    rows = parse_sitemap_entries(df).collect()
    assert len(rows) == 1
    assert rows[0]["loc"] == "https://a.example.com/deep"
    assert rows[0]["changefreq"] == "daily"


def test_paragraph_dedup_literal_separator(spark):
    """The separator is LITERAL, not a Java regex: sep='.' must split
    on dots (sentence-ish dedup), not on every character."""
    from sax_wasm_spark.operators.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(0, "one sentence.shared tail"), (1, "other text.shared tail")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in paragraph_dedup(df, sep=".").collect()}
    assert got[0]["n_paras"] == 2 and got[0]["n_kept"] == 2
    assert got[0]["dedup_text"] == "one sentence.shared tail"
    assert got[1]["n_paras"] == 2 and got[1]["n_kept"] == 1
    assert got[1]["dedup_text"] == "other text"


def test_head_metadata_title_inline_markup_survives(spark):
    """Second-review regression: inline markup INSIDE a title (<b>,
    <span>) must not truncate it — only </title> or a structural tag
    (forgotten close) ends collection."""
    from sax_wasm_spark.operators.metadata import extract_head_metadata

    pages = [
        (0, b"<html><head><title>Hello <b>World</b> Again</title></head>"
            b"<body>x</body></html>"),
        (1, b"<html><head><title>Cut <meta name=x content=y>here"
            b"</head><body>x</body></html>"),  # unclosed + structural
    ]
    df = spark.createDataFrame(pages, "doc_id long, html binary")
    got = {r["doc_id"]: r for r in extract_head_metadata(df).collect()}
    assert got[0]["title"] == "Hello \nWorld\n Again"
    assert got[1]["title"] == "Cut "


def test_prepare_corpus_pipeline_transcode(spark, pages, tmp_path):
    """run_pipeline(transcode=True) over a corpus where a third of the
    pages are windows-1252 bytes: the porch transcodes in place, the
    rest of the pipeline runs unchanged, and the extracted text matches
    the plain-utf8 run byte-for-byte (utf-8 pages are untouched;
    cp1252 pages decode to the same unicode text)."""
    from jobs.prepare_corpus_job import run_pipeline

    src = pages.limit(24).collect()
    mixed = []
    for i, r in enumerate(src):
        html = bytes(r.html)
        if i % 3 == 2:
            try:
                html = html.decode("utf-8").encode("cp1252")
            except UnicodeEncodeError:
                pass  # emoji pages stay utf-8 (still exercises the porch)
        mixed.append((r.url, r.warc_ts, html, r.text, r.lang))
    mixed_df = spark.createDataFrame(mixed, pages.schema)

    out_a = str(tmp_path / "corpus_utf8")
    out_b = str(tmp_path / "corpus_mixed")
    base = dict(num_shards=4, min_quality=0.0, min_chars=0, jaccard=0.99)
    run_pipeline(spark, pages.limit(24), out_a, run_id="a", **base)
    run_pipeline(spark, mixed_df, out_b, run_id="b", transcode=True, **base)
    a = {r.url: r.text for r in spark.read.parquet(f"{out_a}/kept").collect()}
    b = {r.url: r.text for r in spark.read.parquet(f"{out_b}/kept").collect()}
    assert a == b and len(a) > 0


def test_jpeg_decode_stats_roundtrip_and_errors(spark):
    """The q70 shape end to end in-Spark: writer twin fans out real
    encoded JPEGs, decode_jpeg_stats recovers the closed-form pixel
    grid bit-exactly; a corrupt payload degrades to an error row with
    NULL stats instead of failing the batch."""
    import numpy as np

    from sax_wasm_spark.operators.multimodal import (
        decode_jpeg_stats,
        render_jpeg_column,
    )
    from sax_wasm_spark.sources.imagegen import jpeg_pixels

    src = spark.createDataFrame(
        [(d, 3) for d in range(8)], "doc_id long, n_imgs int"
    )
    jpegs = render_jpeg_column(src)
    out = decode_jpeg_stats(jpegs).collect()
    assert len(out) == 24
    for r in out:
        px = jpeg_pixels(r.doc_id, r.img_idx).astype(np.int64)
        assert r.status == "ok"
        assert (r.height, r.width) == px.shape[:2]
        assert r.n_channels == (px.shape[2] if px.ndim == 3 else 1)
        assert r.pixel_sum == int(px.sum())
        assert r.pixel_min == int(px.min())
        assert r.pixel_max == int(px.max())

    # poison rows: truncated JPEG and non-JPEG bytes -> error:* rows
    bad = spark.createDataFrame(
        [(900, 0, bytes(next(iter(jpegs.limit(1).collect())).jpeg)[:40]),
         (901, 0, b"not a jpeg at all")],
        "doc_id long, img_idx int, jpeg binary",
    )
    rows = {r.doc_id: r for r in decode_jpeg_stats(bad).collect()}
    assert rows[900].status.startswith("error:")
    assert rows[901].status.startswith("error:")
    assert rows[900].pixel_sum is None and rows[901].width is None


def test_decode_image_stats_mixed_formats(spark):
    """The sniffing decoder over ONE binary column mixing JPEG and PNG
    payloads — the real crawl shape — plus poison rows."""
    import numpy as np

    from sax_wasm_spark.operators.multimodal import decode_image_stats
    from sax_wasm_spark.sources.imagegen import (
        build_jpeg,
        build_png,
        jpeg_pixels,
        png_pixels,
    )

    rows = []
    for d in range(6):
        if d % 2 == 0:
            rows.append((d, 0, build_jpeg(d, 1)))
        else:
            rows.append((d, 0, build_png(d, 2)))
    rows.append((100, 0, b"BM truncated bitmap"))  # BMP magic, poison body
    rows.append((101, 0, b"no known magic at all"))
    df = spark.createDataFrame(rows, "doc_id long, img_idx int, img binary")
    got = {r.doc_id: r for r in decode_image_stats(df).collect()}
    for d in range(6):
        r = got[d]
        if d % 2 == 0:
            px = jpeg_pixels(d, 1).astype(np.int64)
            assert r.format == "jpeg"
        else:
            px = png_pixels(d, 2).astype(np.int64)
            assert r.format == "png"
        assert r.status == "ok" and r.pixel_sum == int(px.sum())
    # BM magic sniffs as bmp (the fourth format) but the body poisons
    assert got[100].format == "bmp" and got[100].status.startswith("error:")
    assert got[101].format is None and got[101].status.startswith("error:")


def test_decode_audio_stats_and_real_decoder(spark):
    """q73's shape in-Spark: WAV writer twin → decode_audio_stats
    recovers the closed-form sample grid bit-exactly; poison rows
    degrade."""
    import numpy as np

    from sax_wasm_spark.operators.multimodal import decode_audio_stats, render_wav_column
    from sax_wasm_spark.sources.audiogen import wav_geometry, wav_samples

    src = spark.createDataFrame(
        [(d, 3) for d in range(6)], "doc_id long, n_clips int"
    )
    wavs = render_wav_column(src, n_col="n_clips")
    out = {(r.doc_id, r.img_idx): r for r in decode_audio_stats(wavs).collect()}
    assert len(out) == 18
    for (d, k), r in out.items():
        _, nc, rate, bits, nf = wav_geometry(d, k)
        s = wav_samples(d, k).astype(np.int64)
        assert r.status == "ok"
        assert (r.n_channels, r.sample_rate, r.bits, r.n_frames) == (nc, rate, bits, nf)
        assert r.duration_ms == nf * 1000 // rate
        assert (r.sample_sum, r.sample_min, r.sample_max) == (
            int(s.sum()), int(s.min()), int(s.max()),
        )

    bad = spark.createDataFrame(
        [(900, 0, b"RIFF\x04\x00\x00\x00WAVE"), (901, 0, b"not audio")],
        "doc_id long, img_idx int, wav binary",
    )
    rows = {r.doc_id: r for r in decode_audio_stats(bad).collect()}
    assert rows[900].status.startswith("error:") and rows[900].sample_sum is None
    assert rows[901].status.startswith("error:")


def test_decode_image_stats_gif_and_four_format_mix(spark):
    """GIF joins the sniff: multi-frame stats span every frame; one
    binary column mixing jpeg/png/gif decodes in a single pass."""
    import numpy as np

    from sax_wasm_spark.operators.multimodal import decode_image_stats
    from sax_wasm_spark.sources.imagegen import (
        build_gif,
        build_jpeg,
        build_png,
        gif_frame_pixels,
        gif_geometry,
        jpeg_pixels,
        png_pixels,
    )

    rows = []
    for d in range(9):
        media = (build_jpeg, build_png, build_gif)[d % 3](d, d % 3)
        rows.append((d, d % 3, media))
    df = spark.createDataFrame(rows, "doc_id long, img_idx int, img binary")
    got = {r.doc_id: r for r in decode_image_stats(df).collect()}
    for d in range(9):
        r, k = got[d], d % 3
        if d % 3 == 0:
            px = jpeg_pixels(d, k).astype(np.int64)
            assert (r.format, r.n_frames) == ("jpeg", 1)
            assert r.pixel_sum == int(px.sum())
        elif d % 3 == 1:
            px = png_pixels(d, k).astype(np.int64)
            assert (r.format, r.n_frames) == ("png", 1)
            assert r.pixel_sum == int(px.sum())
        else:
            _, _, n = gif_geometry(d, k)
            total = sum(
                int(gif_frame_pixels(d, k, f).astype(np.int64).sum())
                for f in range(n)
            )
            assert (r.format, r.n_frames) == ("gif", n)
            assert r.pixel_sum == total
        assert r.status == "ok"
