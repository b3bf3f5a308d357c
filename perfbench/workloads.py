"""The benchmark's workloads: inputs made from the seed, one timed pass,
and the output check.

Every input is a function of a doc-id block picked by the seed, so the
same seed gives the same pages, shards and expected outputs on any
machine and core count. Inputs are staged as parquet by the
orchestrator, without Spark, from ``sources.pages.build_page`` (the row
function of ``synthesize_pages``) while the sessions start; the
program only ever receives those generated pages and shards.
"""

from __future__ import annotations

import datetime
import os
import random

from sax_wasm_spark.kernel.collect import ALL_EVENTS
from sax_wasm_spark.kernel.fastsax import parse_doc_flat
from sax_wasm_spark.operators.extract import extract_bytes
from sax_wasm_spark.sources.pages import build_page
from sax_wasm_spark.sources.warc import build_warc

SCALE = 8  # page body multiplier: ~5.5 KB of html per page
N_DOCS = 2048  # docs per pass
PARTITIONS = 8  # staged parquet files
SHARD_DOCS = 16  # pages per WARC shard
NUM_SHARDS = 64  # lineage shards (run_extraction's default)
N_CHECK = 48  # sampled urls compared against in-process results
N_EVENT_TYPES = 10
WARC_DATE = "2024-01-01T00:00:00Z"
HTTP_VARIANTS = (0, 1, 2, 6)  # identity, chunked, gzip, deflate bodies


def start_id_for(seed: int) -> int:
    """Doc-id offset of a seed: each seed gets its own disjoint id block."""
    return (seed % 1_000_000) * 100_000


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def render_shard(docs: list[tuple[int, str, bytes]]) -> bytes:
    """Concatenated gzipped WARC files (warcinfo + request + response
    per page), cycling the HTTP body encoding by doc id."""
    return b"".join(
        build_warc(url, WARC_DATE, html, variant=HTTP_VARIANTS[i % len(HTTP_VARIANTS)])
        for i, url, html in docs
    )


def event_counts(html: bytes) -> tuple[int, ...]:
    counts = [0] * N_EVENT_TYPES
    for row in parse_doc_flat(html, ALL_EVENTS):
        counts[row[0]] += 1
    return tuple(counts)


def _write_parquet(path: str, columns: dict, schema) -> None:
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    table = pa.table(columns, schema=schema)
    os.makedirs(path)
    step = -(-table.num_rows // PARTITIONS)
    for k in range(PARTITIONS):
        pq.write_table(
            table.slice(k * step, step),
            os.path.join(path, f"part-{k:05d}.parquet"),
            compression="zstd",
        )


class _Workload:
    """One workload inside a session host. ``stage`` runs in the
    orchestrator (no Spark); the rest runs in the host."""

    def __init__(self, spark, root: str, seed: int, spans):
        self.spark = spark
        self.root = root
        self.n_docs = N_DOCS
        self.spans = spans
        start = start_id_for(seed)
        ids = sorted(random.Random(seed).sample(range(start, start + N_DOCS), N_CHECK))
        self.expected = {}
        for i in ids:
            url, _, html, _, _ = build_page(i, SCALE)
            self.expected[url] = self.reference(html)

    @classmethod
    def stage(cls, root: str, seed: int) -> int:
        """Write the seed's input and its url list; returns its html bytes."""
        start = start_id_for(seed)
        html_bytes, urls = cls.write_input(os.path.join(root, "staged"), range(start, start + N_DOCS))
        with open(os.path.join(root, "staged_urls.txt"), "w", encoding="utf-8") as f:
            f.write("\n".join(urls))
        return html_bytes

    def load(self) -> None:
        self.input = self.spark.read.parquet(os.path.join(self.root, "staged"))
        with open(os.path.join(self.root, "staged_urls.txt"), encoding="utf-8") as f:
            self.input_urls = set(f.read().split("\n"))

    def result(self, rows: list[tuple[str, bool]], mismatches: int, out_root: str) -> dict:
        """``rows``: (url, is_error) of every output row. A doc is committed
        when its url is in the output without an error status."""
        stored, files = dir_bytes(out_root)
        present = {u for u, _ in rows} & self.input_urls
        committed = {u for u, is_error in rows if not is_error} & self.input_urls
        return {
            "committed": len(committed),
            "failed": self.n_docs - len(committed),
            "mismatches": mismatches,
            "correct": len(rows) == len(present) == self.n_docs and mismatches == 0,
            "stored_bytes": stored,
            "output_files": files,
        }


class CrawlExtract(_Workload):
    """plans.lineage.run_extraction over a parquet pages table."""

    reference = staticmethod(lambda html: extract_bytes(html)[0])

    @staticmethod
    def write_input(path: str, ids: range) -> int:
        from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

        from sax_wasm_spark.sources.pages import PAGES_SCHEMA  # noqa: PLC0415

        rows = [build_page(i, SCALE) for i in ids]
        cols = dict(zip(PAGES_SCHEMA.fieldNames(), map(list, zip(*rows))))
        cols["warc_ts"] = [t.replace(tzinfo=datetime.timezone.utc) for t in cols["warc_ts"]]
        _write_parquet(path, cols, to_arrow_schema(PAGES_SCHEMA))
        return sum(map(len, cols["html"])), cols["url"]

    def run_pass(self, out_root: str) -> None:
        from sax_wasm_spark.plans.lineage import run_extraction  # noqa: PLC0415

        run_extraction(self.spark, self.input, out_root, num_shards=NUM_SHARDS, run_id="bench")

    def check(self, out_root: str) -> dict:
        from pyspark.sql import functions as F  # noqa: PLC0415

        from sax_wasm_spark.plans.lineage import read_extracted  # noqa: PLC0415

        rows = (
            read_extracted(self.spark, out_root)
            .select(
                "url",
                F.col("status").startswith("error").alias("is_error"),
                F.when(F.col("url").isin(list(self.expected)), F.col("text_bytes")).alias("tb"),
            )
            .collect()
        )
        got = {r.url: r.tb for r in rows if r.url in self.expected}
        mismatches = sum(got.get(u) != want for u, want in self.expected.items())
        return self.result([(r.url, r.is_error) for r in rows], mismatches, out_root)

    def refresh(self, previous_root: str, out_root: str) -> float:
        """One incremental refresh at ~5% churn; returns n_reused / n_docs."""
        from pyspark.sql import functions as F  # noqa: PLC0415

        from sax_wasm_spark.plans.lineage import run_extraction_incremental  # noqa: PLC0415

        churn = F.abs(F.xxhash64("url")) % 20 == 0
        new_pages = self.input.withColumn(
            "html",
            F.when(churn, F.concat(F.col("html"), F.lit(b"<p>refresh delta</p>"))).otherwise(
                F.col("html")
            ),
        )
        st = run_extraction_incremental(
            self.spark, new_pages, out_root, previous_root, num_shards=NUM_SHARDS, run_id="refresh"
        )
        return st["n_reused"] / st["n_docs"]


class WarcEvents(_Workload):
    """gzipped WARC shards -> operators.warc.warc_to_pages ->
    operators.tokenize.tokenize_events (all events, positions on) ->
    per-doc event counts by type, written as parquet."""

    reference = staticmethod(event_counts)

    @staticmethod
    def write_input(path: str, ids: range) -> int:
        import pyarrow as pa  # noqa: PLC0415

        docs = []
        for i in ids:
            url, _, html, _, _ = build_page(i, SCALE)
            docs.append((i, url, html))
        shard_ids, blobs = [], []
        for k in range(0, len(docs), SHARD_DOCS):
            shard_ids.append((docs[k][0] - ids.start) // SHARD_DOCS)
            blobs.append(render_shard(docs[k : k + SHARD_DOCS]))
        schema = pa.schema([("shard_id", pa.int64()), ("warc", pa.binary())])
        _write_parquet(path, {"shard_id": shard_ids, "warc": blobs}, schema)
        return sum(len(html) for _, _, html in docs), [url for _, url, _ in docs]

    def run_pass(self, out_root: str) -> None:
        from pyspark.sql import functions as F  # noqa: PLC0415

        from sax_wasm_spark.operators.tokenize import tokenize_events  # noqa: PLC0415
        from sax_wasm_spark.operators.warc import warc_to_pages  # noqa: PLC0415

        with self.spans.span("warc.warc_to_pages"):
            pages = warc_to_pages(self.input, warc_col="warc", id_cols=("shard_id",))
        with self.spans.span("tokenize.tokenize_events"):
            events = tokenize_events(pages, "html", ("url",), events=ALL_EVENTS, positions=True)
        per_doc = events.groupBy("url").agg(
            *[
                F.sum((F.col("event") == k).cast("long")).alias(f"n_{k}")
                for k in range(N_EVENT_TYPES)
            ]
        )
        with self.spans.span("write.doc_events"):
            per_doc.write.parquet(os.path.join(out_root, "doc_events"))

    def check(self, out_root: str) -> dict:
        rows = self.spark.read.parquet(os.path.join(out_root, "doc_events")).collect()
        got = {
            r.url: tuple(r[f"n_{k}"] for k in range(N_EVENT_TYPES))
            for r in rows
            if r.url in self.expected
        }
        mismatches = sum(got.get(u) != want for u, want in self.expected.items())
        return self.result([(r.url, False) for r in rows], mismatches, out_root)


WORKLOADS = {"crawl_extract": CrawlExtract, "warc_events": WarcEvents}
