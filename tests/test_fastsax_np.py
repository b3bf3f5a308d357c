"""Differential equivalence: fastsax_np.parse_doc_np vs fastsax.parse_doc.

The positions-off kernel must emit exactly the positions-on kernel's
rows with every position slot (indices 10-17) zeroed where the
positions-on row carries an int, and None preserved where it carries
None. Byte offsets (indices 18-19), codes, names, values, attribute
types and self-closing flags must be identical — the extractor's
entire input contract. parse_doc itself is differentially gated
against the FSM (test_fastsax.py), which is gated against the
reference WASM (tools/diff_ref.py), so equality here chains all the
way to the reference."""

import os
import random
import sys
import types

import pytest

sys.path.insert(0, "/root/repo/tools")

from sax_wasm_spark.kernel import fastsax, fastsax_np
from sax_wasm_spark.kernel.fastsax import parse_doc
from sax_wasm_spark.kernel.fastsax_np import _derive_function, parse_doc_flat_np, parse_doc_np
from sax_wasm_spark.sources.pages import build_page
from tools.bench_kernel import FIXTURE as REF_FIXTURE

POS_SLOTS = range(10, 18)


def zero_positions(row: tuple) -> tuple:
    return tuple(
        (0 if isinstance(v, int) else v) if i in POS_SLOTS else v
        for i, v in enumerate(row)
    )


def check(doc: bytes, m: int):
    fast = parse_doc(doc, m)
    np_rows = parse_doc_np(doc, m)
    if fast is None:
        assert np_rows is None, f"np parsed what pos-on rejected: {doc[:60]!r}"
        return
    want = [zero_positions(r) for r in fast]
    assert np_rows == want, f"mask={m} doc={doc[:80]!r}"


def test_fixture_corpus_np_equivalence():
    from diff_ref import DOCS, MASKS  # noqa: PLC0415

    for d in DOCS:
        for m in MASKS:
            check(d, m)


def test_fuzz_np_equivalence():
    rng = random.Random(20260816)
    pieces = [
        "<div>", "</div>", '<p class="x">', "</p>", "plain text ", "a<b ",
        "< notag", "<a href=unq>", "<a href='sq'>", '<a href="dq">', "<br/>",
        "<br />", "<x", "<!-- c -->", "<!--", "-->", "<![CDATA[z]]>",
        "<![CDATA[", "]]>", "<!DOCTYPE html>", "<!DOCTYPE m [",
        '<!ENTITY e "v">', "]>", "<?pi data?>", "<?>", "<?x", "?>", "\n",
        "  ", "\t", ">", "/", "=", '"', "'", "</orphan>", "</>", "<>", "{",
        "}", "<c a={x{y}z}>", "é", "🚀", "€", "<e a b=1 c=\"2\"d='3' e>",
        "</e >", "<e f = 1>", "<е>", "&amp;", "<-", "<!", "<!D", "<![",
        "<!x y>", "< ", "x=y", "<e/ junk>", "\r\n", "<e\n a=1\n>",
        '<a b="">', '<a b="v', "<a b=", "<a b", "<a b =\"x\"\tc=''>",
    ]
    for _ in range(3000):
        doc = "".join(rng.choice(pieces) for _ in range(rng.randint(1, 25))).encode()
        check(doc, rng.randrange(1, 1024))


def test_pages_corpus_np_equivalence():
    for i in range(300):
        html = build_page(i)[2]
        for m in (0x3FF, 0x141, 0x381):
            check(html, m)


@pytest.mark.skipif(not os.path.exists(REF_FIXTURE), reason="reference fixture not available")
def test_reference_fixture_np_equivalence():
    with open(REF_FIXTURE, "rb") as f:
        data = f.read()
    for m in (0x3FF, 0x141, 0x381):
        check(data, m)


def test_np_flat_falls_back_on_invalid_utf8():
    from sax_wasm_spark.kernel.fastsax import parse_doc_flat  # noqa: PLC0415

    doc = b"<div>\xff\xfe broken</div>"
    assert parse_doc_np(doc, 0x3FF) is None
    assert parse_doc_flat_np(doc, 0x3FF) == parse_doc_flat(doc, 0x3FF)


def _code_names(fn) -> set:
    """Every name a function's code, nested code included, refers to."""
    names, todo = set(), [fn.__code__]
    while todo:
        co = todo.pop()
        names.update(co.co_names, co.co_varnames, co.co_cellvars, co.co_freevars)
        todo.extend(c for c in co.co_consts if isinstance(c, types.CodeType))
    return names


def test_derived_kernel_does_no_position_work():
    # The differential tests above cannot see leftover position work:
    # its output is zeroed either way. So look at the code itself.
    position = fastsax.POS_LOCALS | {"line", "ch", "ll", "lc", "_advr", "_cc"}
    assert {"line", "ch", "_advr"} <= _code_names(parse_doc)
    for fn in (
        fastsax_np.parse_doc_np,
        fastsax_np._tuof_np,
        fastsax_np._tu_np,
        fastsax_np._skipws_np,
    ):
        assert not _code_names(fn) & position, fn.__name__


def _position_bookkeeping(buf, cursor, line, ch):
    nl = buf.count(b"\n", 0, cursor)
    if nl:
        line += nl
    cursor += 1
    return (cursor, line, ch)


def _byte_from_position(buf, cursor, line, ch):
    cursor += line
    return (cursor, line, ch)


def _branch_on_position(buf, cursor, line, ch):
    if ch > 80:
        cursor += 1
    return (cursor, line, ch)


def _position_store_with_side_effect(buf, cursor, line, ch):
    line = len(buf.split(b"\n"))
    return (cursor, line, ch)


def test_derivation_strips_position_bookkeeping():
    twins = {}
    fn = _derive_function(_position_bookkeeping, twins, helper=True)
    assert [a.arg for a in fn.args.args] == ["cursor"]
    assert twins["_position_bookkeeping"][1:] == ([0, 2, 3], 3, {1, 2})


@pytest.mark.parametrize(
    "func", [_byte_from_position, _branch_on_position, _position_store_with_side_effect]
)
def test_derivation_rejects_mixed_position_and_byte_state(func):
    with pytest.raises(ValueError, match="cannot derive"):
        _derive_function(func, {}, helper=True)
