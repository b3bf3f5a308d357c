"""Synthetic Common-Crawl-style pages corpus.

Schema (authoritative, BASELINE.json input_hint):
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Rows are generated *distributively* (``spark.range`` → ``map_rows``)
and *deterministically*: every column is a pure function of the row id,
so the corpus is identical regardless of partitioning, parallelism, or
run — the property the N-vs-4N scaling benchmark and the resume tests
rely on.

Skew realism: host assignment is a two-tier zipf-ish mapping — a handful
of mega-hosts own a large share of urls — so the url-hash repartitioning
and salting paths are exercised by tests rather than only documented.
"""

from __future__ import annotations

import datetime
import hashlib
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.rows import map_rows

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

_LANGS = ("en", "de", "fr", "es", "pt", "it", "nl", "pl")

# fixture docs with known golden event streams get woven into the corpus
FIXTURE_DOCS: dict[str, bytes] = {
    "basic_div": b'<div class="myDiv">This is my div</div>',
    "attr_positions": b"\n        <div x=1\n            y=3>\n        </div>",
    "orphan_close": b'<div><a href="http://github.com">GitHub</a></orphan></div>',
    "cdata_upper": b'<div><![CDATA[did you know "x < y" is as easy as 123?]]></div>',
    "emoji_attr": '<div id="\U0001f445"></div>'.encode(),
    "jsx_expr": b"<foo>{bar < baz ? <div></div> : <></>}</foo>",
    "comment_basic": b"<!--name='test 3 attr' this is a comment--> <-- just text -->",
    "doctype_simple": b"<!DOCTYPE html>\n<body>plain body text here</body>",
    "script_unquoted": b"<script type=text/javascript>\nvar x = 1;\n</script><p>after script</p>",
    "procinst": b'<?xml version="1.0" encoding="utf-8"?><root><item>v</item></root>',
}

_WORDS = (
    "data engine spark parser stream extract corpus crawl page token "
    "content boilerplate heuristic density byte offset event schema shard "
    "partition cluster scale vector batch arrow column text node element"
).split()


def _rng_u64(doc_id: int, salt: int) -> int:
    h = hashlib.blake2b(struct.pack("<qq", doc_id, salt), digest_size=8).digest()
    return struct.unpack("<Q", h)[0]


def _host_for(doc_id: int) -> str:
    """Two-tier skew: ~30% of pages on 5 mega-hosts, rest across 2000."""
    r = _rng_u64(doc_id, 1)
    if r % 10 < 3:
        return f"mega{r % 5}.example.com"
    return f"host{r % 2000}.example.org"


def _sentence(doc_id: int, salt: int, n: int) -> str:
    r = _rng_u64(doc_id, salt)
    ws = []
    for i in range(n):
        ws.append(_WORDS[(r >> (i % 8 * 7)) % len(_WORDS)])
        r = r * 6364136223846793005 + 1442695040888963407 & (2**64 - 1)
    return " ".join(ws)


def build_page(doc_id: int, scale: int = 1) -> tuple[str, datetime.datetime, bytes, str, str]:
    """Pure function (id, scale) -> row (url, warc_ts, html, text, lang).

    ``scale`` multiplies the body size (more/longer paragraphs) without
    touching determinism — the bench uses scale>1 for realistic ~5-15 KB
    pages while unit tests keep scale=1."""
    r = _rng_u64(doc_id, 0)
    host = _host_for(doc_id)
    url = f"https://{host}/p/{doc_id}"
    ts = datetime.datetime(2025, 1, 1) + datetime.timedelta(seconds=int(r % (300 * 86400)))
    lang = _LANGS[r % len(_LANGS)]

    kind = r % 10
    if kind == 0:
        # a raw fixture doc (golden-known event stream)
        keys = sorted(FIXTURE_DOCS)
        html = FIXTURE_DOCS[keys[(r >> 8) % len(keys)]]
        body_text = ""
    else:
        # boilerplate-rich page: nav/header/footer/script wrappers around
        # known content paragraphs (classifier-facing structure)
        n_paras = (2 + (r >> 16) % 6) * scale
        paras = []
        for p in range(n_paras):
            paras.append(f"<p>{_sentence(doc_id, 100 + p, 12 + (r >> 24) % 20)}</p>")
        nav_links = "".join(
            f'<a href="/{i}">{_sentence(doc_id, 200 + i, 2)}</a>' for i in range(6)
        )
        emoji = "\U0001f680" if r % 7 == 0 else ""
        html = (
            "<!DOCTYPE html><html><head><title>"
            f"{_sentence(doc_id, 1, 4)}</title>"
            '<script src="app.js">var q = 1 < 2;</script>'
            "<style>.x{color:red}</style></head>"
            f"<body><nav>{nav_links}</nav>"
            f"<header><h1>{_sentence(doc_id, 2, 5)}{emoji}</h1></header>"
            f'<article id="main">' + "".join(paras) + "</article>"
            f"<aside>{nav_links}</aside>"
            f"<footer><a href='/about'>about</a> © example</footer>"
            "</body></html>"
        ).encode()
        body_text = _sentence(doc_id, 100, 8)
    return url, ts, html, body_text, lang


def synthesize_pages(
    spark: SparkSession,
    n_pages: int,
    partitions: int | None = None,
    scale: int = 1,
    start_id: int = 0,
) -> DataFrame:
    """Distributed deterministic corpus of ``n_pages`` rows (doc ids
    ``start_id..start_id+n_pages`` — a nonzero start synthesizes a
    disjoint batch, e.g. the added pages of a refresh test)."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 8)

    ids = spark.range(start_id, start_id + n_pages, numPartitions=partitions)
    return map_rows(ids, lambda i: [build_page(i, scale)], ["id"], PAGES_SCHEMA.fields)

