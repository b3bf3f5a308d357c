"""The extracted text is shipped and stored once, as ``text_bytes``;
``text`` is derived from it on the JVM (operators/extract.text_of)
wherever it is read. Pinned here:

- the derivation equals Python's ``decode("utf-8", "replace")``, and
  its ``length`` equals ``len`` of the decoded string, on malformed,
  truncated, surrogate, overlong and random byte strings and on the
  extractor's output for the pages corpus;
- a pass directory stores no ``text`` column, ``read_extracted`` still
  returns ``EXTRACTED_SCHEMA`` exactly, and the lineage counts are
  those of the Python-decoded text;
- a pass written while ``text`` was still stored reads back and
  refreshes unchanged.
"""

import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sax_wasm_spark.operators.extract import extract_bytes, extract_main_content, text_of
from sax_wasm_spark.plans.lineage import (
    EXTRACTED_SCHEMA,
    read_extracted,
    run_extraction,
    run_extraction_incremental,
    with_html_hash,
    with_shard,
)
from sax_wasm_spark.sources.pages import build_page

GOLDEN_PAGES = os.path.join(os.path.dirname(__file__), "goldens", "pages")

MALFORMED = [
    # surrogates: lone high, lone low, an encoded pair
    b"\xed\xa0\x80", b"\xed\xbf\xbf", b"\xed\xa0\x80\xed\xb0\x80",
    # overlong forms of '/', NUL and U+07FF / U+FFFF
    b"\xc0\xaf", b"\xc0\x80", b"\xc1\xbf", b"\xe0\x80\xaf", b"\xe0\x9f\xbf",
    b"\xf0\x80\x80\xaf", b"\xf0\x8f\xbf\xbf",
    # truncated sequences, at the end and in the middle
    b"\xc3", b"\xe2\x82", b"\xf0\x9f\x98", b"a\xe2\x82b", b"x\xf0\x9f\x98 y", b"\xe2\x82\xe2\x82\xac",
    # out of range: above U+10FFFF, and the 5- and 6-byte forms
    b"\xf4\x90\x80\x80", b"\xf5\x80\x80\x80", b"\xf7\xbf\xbf\xbf",
    b"\xf8\x88\x80\x80\x80", b"\xfc\x84\x80\x80\x80\x80", b"\xfe", b"\xff\xfe",
    # stray continuation bytes, Latin-1 text, a BOM, NUL, empty
    b"\x80", b"\xbf\x80\xbf", b"caf\xe9 cr\xe8me", b"\xef\xbb\xbfBOM", b"\x00nul\x00", b"",
]

VALID = "héllo wörld € 𝄞 日本語 ".encode()


def seeded_byte_strings(seed: int = 20261019) -> list[bytes]:
    rng = random.Random(seed)
    out = list(MALFORMED)
    out += [bytes([b]) for b in range(0x80, 0x100)]
    # every lead byte followed by continuations, too few and too many
    out += [bytes([b]) + b"\x80" * k for b in range(0xC0, 0x100) for k in (1, 2, 3)]
    for _ in range(1500):
        n = rng.randrange(48)
        kind = rng.randrange(3)
        if kind == 0:  # uniform bytes
            out.append(bytes(rng.randrange(256) for _ in range(n)))
        elif kind == 1:  # high bytes only
            out.append(bytes(rng.randrange(0x80, 0x100) for _ in range(n)))
        else:  # valid UTF-8, cut at a random byte, with a random byte inserted
            s = VALID[rng.randrange(len(VALID)):][:n]
            i = rng.randrange(len(s) + 1)
            out.append(s[:i] + bytes([rng.randrange(0x80, 0x100)]) + s[i:])
    return out


def pages_corpus_texts() -> list[bytes]:
    """The extractor's text for the pages corpus: synthesized pages, the
    golden real-world pages, and both with an invalid byte in the body."""
    htmls = [build_page(i, 2)[2] for i in range(48)]
    for name in sorted(os.listdir(GOLDEN_PAGES)):
        with open(os.path.join(GOLDEN_PAGES, name), "rb") as f:
            htmls.append(f.read())
    htmls += [h.replace(b"<p>", b"<p>\xff\xed\xa0\x80 ", 2) for h in htmls]
    return [extract_bytes(h)[0] for h in htmls]


def test_text_of_matches_python_decode(spark):
    """text_of equals decode("utf-8", "replace") row by row (NULL stays
    NULL), and its length equals Python's len of the decoded string,
    which is what the lineage ``n_chars`` counts."""
    data = seeded_byte_strings() + pages_corpus_texts() + [None]
    table = pa.table({"i": list(range(len(data))), "text_bytes": pa.array(data, pa.binary())})
    got = sorted(
        spark.createDataFrame(table)
        .select("i", text_of(), F.length(text_of()).alias("n"))
        .collect()
    )
    assert len(got) == len(data)
    bad = []
    for r, b in zip(got, data):
        want = None if b is None else b.decode("utf-8", "replace")
        if (r.text, r.n) != (want, None if want is None else len(want)):
            bad.append((b, r.text, r.n))
    assert not bad, bad[:5]


def _pages(spark, n: int):
    """(url, html) of ``n`` synthesized pages, every third one with
    invalid UTF-8 (a Latin-1 byte and a surrogate) in its first
    paragraph, as a list and as a frame."""
    raw = []
    for i in range(n):
        url, _, html, _, _ = build_page(i)
        if i % 3 == 0:
            html = html.replace(b"<p>", b"<p>caf\xe9 \xed\xa0\x80 ", 1)
        raw.append((url, html))
    table = pa.table({"url": [u for u, _ in raw], "html": pa.array([h for _, h in raw], pa.binary())})
    return raw, spark.createDataFrame(table)


def test_pass_stores_text_bytes_only(spark, tmp_path):
    """A pass directory's files hold no ``text`` field; the read-back
    still returns EXTRACTED_SCHEMA exactly, with ``text`` equal to the
    Python-decoded ``text_bytes``; and the lineage rows per shard
    (n_docs, n_chars, n_events) are those of the Python-decoded text,
    as when ``text`` was returned by the Python stage."""
    raw, pages = _pages(spark, 90)
    out = str(tmp_path / "out")
    run_extraction(spark, pages, out, 8, "r1")

    (pass_dir,) = os.listdir(f"{out}/extracted")
    files = [f for f in os.listdir(f"{out}/extracted/{pass_dir}") if f.endswith(".parquet")]
    assert files
    for f in files:
        names = pq.read_schema(f"{out}/extracted/{pass_dir}/{f}").names
        assert "text" not in names and "text_bytes" in names, names

    df = read_extracted(spark, out)
    assert df.schema.simpleString() == EXTRACTED_SCHEMA.simpleString()
    rows = {r.url: r for r in df.collect()}
    want = {url: extract_bytes(html) for url, html in raw}
    assert rows.keys() == want.keys()
    assert any(b"\xe9" in w[0] for w in want.values())  # some texts are not valid UTF-8
    for url, (text, _, n_events, status, _) in want.items():
        r = rows[url]
        assert (bytes(r.text_bytes), r.text, r.n_events, r.status) == (
            text, text.decode("utf-8", "replace"), n_events, status
        ), url

    shards = {r.url: r.shard for r in with_shard(pages, 8).select("url", "shard").collect()}
    expect = {s: [0, 0, 0] for s in range(8)}
    for url, (text, _, n_events, _, _) in want.items():
        e = expect[shards[url]]
        e[0] += 1
        e[1] += len(text.decode("utf-8", "replace"))
        e[2] += n_events
    lin = spark.read.parquet(f"{out}/lineage").collect()
    assert {r.shard: [r.n_docs, r.n_chars, r.n_events] for r in lin} == expect


def test_text_stored_snapshot_reads_and_refreshes(spark, tmp_path):
    """A pass written while ``text`` was still stored, committed through
    its lineage table: it reads back with the same rows as a pass in the
    current layout (the stored ``text`` is not read), and a refresh from
    it reuses its unchanged rows byte-identically in every
    EXTRACTED_SCHEMA column."""
    _, pages = _pages(spark, 40)
    cols = EXTRACTED_SCHEMA.fieldNames()

    def rows(root):
        return sorted(map(tuple, read_extracted(spark, root).select(*cols).collect()))

    base = str(tmp_path / "base")
    run_extraction(spark, pages, base, 4, "b")
    old = str(tmp_path / "old")
    shutil.copytree(f"{base}/lineage", f"{old}/lineage")
    (pass_id,) = {r.pass_id for r in spark.read.parquet(f"{old}/lineage").collect()}
    # the earlier stored layout: every extractor column, text included,
    # then the shard and html_hash passthrough columns
    todo = with_html_hash(with_shard(pages, 4)).select("shard", "url", "html", "html_hash")
    extract_main_content(todo, passthrough=("shard", "html_hash")).write.parquet(
        f"{old}/extracted/pass={pass_id}"
    )
    stored = spark.read.parquet(f"{old}/extracted")
    assert "text" in stored.columns
    assert stored.count() == 40

    assert rows(old) == rows(base)

    urls = sorted(r.url for r in pages.select("url").collect())
    changed = set(urls[:6])
    new_pages = pages.withColumn(
        "html",
        F.when(F.col("url").isin(*changed), F.concat("html", F.lit(b"<p>refresh delta text</p>")))
        .otherwise(F.col("html")),
    )
    stats = {}
    for name, prev in (("from_old", old), ("from_base", base)):
        stats[name] = run_extraction_incremental(
            spark, new_pages, str(tmp_path / name), prev, 4, "i"
        )
    assert stats["from_old"] == stats["from_base"]
    assert stats["from_old"]["n_reused"] == 40 - len(changed)
    refreshed = rows(str(tmp_path / "from_old"))
    assert refreshed == rows(str(tmp_path / "from_base"))
    scratch = str(tmp_path / "scratch")
    run_extraction(spark, new_pages, scratch, 4, "s")
    assert refreshed == rows(scratch)
    # the reused rows are the old snapshot's rows, every column
    kept = [r for r in rows(old) if r[0] not in changed]
    assert [r for r in refreshed if r[0] not in changed] == kept
