"""Same-session kernel benchmark: reference WASM vs the Python kernels.

Runs the reference (via node, its own 64 KB-chunk methodology with the
mask subscribed) INTERLEAVED with fastsax.parse_doc (positions-on) and
fastsax_np.parse_doc_np (positions-off) over the reference's own 3 MB
fixture, so host-load noise hits all three alike. Per-engine best-of-
rounds is the capacity estimate (noise on a shared VM is strictly
subtractive). Prints ONE JSON line.

Without the reference (its fixture or node absent) the reference and
fixture legs are skipped and ``reference`` says so; the web-pages and
PDF legs run either way.

Usage: python tools/bench_kernel.py [rounds]

Masks: 0x141 (Text|Attribute|CloseTag — the extraction-like mask used
by BENCH_BASELINE.md) and 0x381 (OpenTag|CloseTag|Text|Cdata — the
extractor's actual mask).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(TOOLS))

FIXTURE = "/root/reference/src/js/__test__/xml.xml"
MASKS = (0x141, 0x381)


def time_py(fn, data, mask):
    t = time.perf_counter()
    fn(data, mask)
    return (time.perf_counter() - t) * 1000


def ref_ms(mask, runs=1):
    out = subprocess.run(
        ["node", os.path.join(TOOLS, "ref_bench.mjs"), str(mask), str(runs)],
        capture_output=True,
        text=True,
        check=True,
    )
    return min(json.loads(out.stdout)["runs_ms"])


def reference_leg(rounds: int, parse_doc, parse_doc_np) -> dict:
    """Reference WASM vs both kernels on the reference's own fixture."""
    with open(FIXTURE, "rb") as f:
        data = f.read()
    mb = len(data) / 1e6

    # warm-up (imports, regex compile, WASM JIT)
    parse_doc(data, MASKS[0])
    parse_doc_np(data, MASKS[0])
    ref_ms(MASKS[0], 1)

    result = {"fixture_bytes": len(data), "masks": {}}
    for mask in MASKS:
        best = {"ref": 9e9, "pos": 9e9, "np": 9e9}
        for _ in range(rounds):
            best["ref"] = min(best["ref"], ref_ms(mask, 1))
            best["pos"] = min(best["pos"], time_py(parse_doc, data, mask))
            best["np"] = min(best["np"], time_py(parse_doc_np, data, mask))
        result["masks"][f"{mask:#x}"] = {
            "ref_ms": round(best["ref"], 1),
            "pos_ms": round(best["pos"], 1),
            "np_ms": round(best["np"], 1),
            "ref_mb_s": round(mb / best["ref"] * 1000, 2),
            "pos_mb_s": round(mb / best["pos"] * 1000, 2),
            "np_mb_s": round(mb / best["np"] * 1000, 2),
            "np_vs_ref": round(best["ref"] / best["np"], 3),
        }
    return result


def main():
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    from sax_wasm_spark.kernel.fastsax import parse_doc
    from sax_wasm_spark.kernel.fastsax_np import parse_doc_np

    result = {"rounds": rounds}
    if os.path.exists(FIXTURE) and shutil.which("node"):
        result.update(reference_leg(rounds, parse_doc, parse_doc_np))
    else:
        result["reference"] = "skipped: reference fixture or node not available"

    # realistic web-pages corpus: single-core docs/s of the full
    # extract (tokenize + classify) and of both raw parses
    from sax_wasm_spark.operators.extract import EXTRACT_MASK, extract_bytes
    from sax_wasm_spark.sources.pages import build_page

    pages = [build_page(i)[2] for i in range(2000)]
    page_mb = sum(len(p) for p in pages) / 1e6
    for p in pages[:50]:
        extract_bytes(p)

    def best_of(fn):
        b = 9e9
        for _ in range(max(rounds - 1, 2)):
            t = time.perf_counter()
            for p in pages:
                fn(p)
            b = min(b, time.perf_counter() - t)
        return b

    wp = best_of(lambda p: parse_doc(p, EXTRACT_MASK))
    wn = best_of(lambda p: parse_doc_np(p, EXTRACT_MASK))
    we = best_of(extract_bytes)
    result["web_pages"] = {
        "n_pages": len(pages),
        "corpus_mb": round(page_mb, 2),
        "pos_docs_s": round(len(pages) / wp),
        "np_docs_s": round(len(pages) / wn),
        "extract_docs_s": round(len(pages) / we),
        "extract_mb_s": round(page_mb / we, 2),
    }

    # PDF leg: single-core parse throughput over deterministic synthetic
    # PDFs (all 4 generator variants), separated from render cost
    from sax_wasm_spark.kernel.pdftext import extract_pdf_text
    from sax_wasm_spark.sources.pdfgen import build_pdf

    texts = [build_page(i)[3] or "" for i in range(1000)]
    pdfs = [build_pdf(t, variant=i % 4) for i, t in enumerate(texts)]
    pdf_mb = sum(len(p) for p in pdfs) / 1e6
    for p in pdfs[:50]:
        extract_pdf_text(p)
    b = 9e9
    for _ in range(max(rounds - 1, 2)):
        t = time.perf_counter()
        for p in pdfs:
            extract_pdf_text(p)
        b = min(b, time.perf_counter() - t)
    result["pdf"] = {
        "n_docs": len(pdfs),
        "corpus_mb": round(pdf_mb, 2),
        "extract_docs_s": round(len(pdfs) / b),
        "extract_mb_s": round(pdf_mb / b, 2),
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
