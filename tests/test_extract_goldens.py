"""Frozen extractor goldens beyond the synthetic wrapper corpus
(VERDICT r2 next-round item 8): the reference's own 3 MB
`src/js/__test__/xml.xml` fixture plus three real-world-shaped HTML
pages (blog article, news story, API-doc page — each with nav/header/
footer/aside/share-tool boilerplate, multi-byte text, code blocks and
a CDATA block). Goldens were frozen from the byte-identical kernel
chain (fastsax_np ≡ fastsax ≡ FSM ≡ reference WASM, each gate
differential) and pin title, extracted text, spans and event counts.

The small pages freeze FULL text+spans; the 3 MB fixture freezes
sha256 digests + sizes + boundary spans (storing half a megabyte of
extracted text in-repo buys nothing over its digest).
"""

import base64
import hashlib
import json
import os

import pytest

from sax_wasm_spark.operators.extract import extract_bytes
from tools.bench_kernel import FIXTURE as REF_FIXTURE

HERE = os.path.dirname(__file__)
GOLDENS = os.path.join(HERE, "goldens", "extract_goldens.json")
PAGES = os.path.join(HERE, "goldens", "pages")


def load_goldens():
    with open(GOLDENS) as f:
        return json.load(f)


def test_real_world_pages_match_goldens():
    golden = load_goldens()
    for name in ("blog.html", "news.html", "docs.html"):
        with open(os.path.join(PAGES, name), "rb") as f:
            html = f.read()
        text, spans, n_events, status, title = extract_bytes(html)
        g = golden[name]
        assert status == g["status"], name
        assert n_events == g["n_events"], name
        assert (title.decode() if title else None) == g["title"], name
        assert text == base64.b64decode(g["text_b64"]), name
        assert [list(s) for s in spans] == g["spans"], name


def test_real_world_pages_drop_boilerplate():
    """The menus/footers actually disappear (belt over the goldens'
    suspenders: a frozen-but-wrong golden would still fail this)."""
    for name, junk in (
        ("blog.html", ("Careers", "Privacy", "Related posts")),
        ("news.html", ("Subscribe", "Newsletters", "Ferry timetable")),
        ("docs.html", ("License", "FAQ")),
    ):
        with open(os.path.join(PAGES, name), "rb") as f:
            html = f.read()
        text, _, _, _, _ = extract_bytes(html)
        txt = text.decode()
        for j in junk:
            assert j not in txt, f"{name}: boilerplate {j!r} leaked"


@pytest.mark.skipif(not os.path.exists(REF_FIXTURE), reason="reference fixture not available")
def test_reference_fixture_matches_golden():
    g = load_goldens()["reference_xml.xml"]
    with open(REF_FIXTURE, "rb") as f:
        html = f.read()
    text, spans, n_events, status, title = extract_bytes(html)
    assert status == g["status"]
    assert n_events == g["n_events"]
    assert (title.decode() if title else None) == g["title"]
    assert len(text) == g["text_len"]
    assert hashlib.sha256(text).hexdigest() == g["text_sha256"]
    assert text[:400] == base64.b64decode(g["text_head_b64"])
    assert len(spans) == g["n_spans"]
    assert list(spans[0]) == g["first_span"]
    assert list(spans[-1]) == g["last_span"]
    assert (
        hashlib.sha256(json.dumps([list(s) for s in spans]).encode()).hexdigest()
        == g["spans_sha256"]
    )


def test_void_elements_do_not_open_drop_subtrees():
    """WHATWG void elements on the classifier's replay stack: an
    UNCLOSED <meta>/<link> (kernel keeps it open — generic SAX
    semantics) must not drop the rest of the page, and <br>/<img>
    interleaved in a paragraph must not desync the block stack. An
    explicit </meta> (XML-ish) is skipped symmetrically."""
    from sax_wasm_spark.operators.extract import extract_bytes

    text, spans, *_ = extract_bytes(
        b'<meta charset="utf-8"><html><body>'
        b"<p>body text that survives the leading void element</p>"
        b"</body></html>"
    )
    assert text == b"body text that survives the leading void element"
    text2, *_ = extract_bytes(
        b'<html><body><link rel="stylesheet" href="s.css">'
        b"<p>one<br>two halves of a long enough paragraph</p></body></html>"
    )
    assert text2 == b"one\ntwo halves of a long enough paragraph"
    text3, *_ = extract_bytes(
        b"<html><body><meta></meta>"
        b"<p>explicitly closed void element page text</p></body></html>"
    )
    assert text3 == b"explicitly closed void element page text"
