"""Single-core layer timings outside Spark, on the workload's own pages.

The loops run interleaved in rounds (np kernel, positions kernel,
extractor, WARC parse, then again), so a change in host speed during
the measurement hits every layer alike and the ratios between them
stay meaningful.
"""

from __future__ import annotations

import time

from sax_wasm_spark.kernel.collect import ALL_EVENTS
from sax_wasm_spark.kernel.fastsax import parse_doc_flat
from sax_wasm_spark.kernel.fastsax_np import parse_doc_flat_np
from sax_wasm_spark.operators.extract import EXTRACT_MASK, extract_bytes
from sax_wasm_spark.sources.pages import build_page
from sax_wasm_spark.sources.warc import parse_warc_with_segments
from workloads import SCALE, SHARD_DOCS, render_shard

N_SAMPLE = 256  # the first pages of the seed's id block
ROUNDS = 3


def _timed(fn, items) -> float:
    t0 = time.perf_counter()
    for x in items:
        fn(x)
    return time.perf_counter() - t0


def layer_timings(start_id: int) -> dict:
    docs = [build_page(i, SCALE) for i in range(start_id, start_id + N_SAMPLE)]
    htmls = [d[2] for d in docs]
    shards = [
        render_shard([(start_id + j, url, html) for j, (url, _, html, _, _) in enumerate(docs)][k : k + SHARD_DOCS])
        for k in range(0, N_SAMPLE, SHARD_DOCS)
    ]
    n_events = sum(len(parse_doc_flat(h, ALL_EVENTS)) for h in htmls)
    np_s = pos_s = ext_s = warc_s = 0.0
    for _ in range(ROUNDS):
        np_s += _timed(lambda h: parse_doc_flat_np(h, EXTRACT_MASK), htmls)
        pos_s += _timed(lambda h: parse_doc_flat(h, ALL_EVENTS), htmls)
        ext_s += _timed(extract_bytes, htmls)
        warc_s += _timed(parse_warc_with_segments, shards)
    n = N_SAMPLE * ROUNDS
    np_rate, ext_rate = n / np_s, n / ext_s
    return {
        "kernel.np_docs_per_s": np_rate,
        "kernel.pos_docs_per_s": n / pos_s,
        "kernel.events_per_doc": n_events / N_SAMPLE,
        "extract.docs_per_s_inproc": ext_rate,
        "extract.classifier_share": 1.0 - ext_rate / np_rate,
        "warc.parse_mb_per_s": sum(map(len, shards)) * ROUNDS / 1e6 / warc_s,
    }
