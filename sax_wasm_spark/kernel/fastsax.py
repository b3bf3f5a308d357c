"""Single-shot fast tokenizer: the hot path of the Spark pipeline.

``parse_doc(data, events)`` produces exactly the flat event rows that
``SaxParser.write(data); end()`` + ``EventCollector`` produce (see
collect.FIELD_NAMES), for the one-write-per-document case — the case
every Spark operator uses. It is one flat function: FSM state in local
integers, module-level pure scan kernels, no per-grapheme method
dispatch, no entity objects, and no cross-write hydration machinery
(a single write makes every lazy header a plain slice).

Returns None when the document is outside the fast profile (invalid
UTF-8, including a truncated trailing sequence) — callers fall back to
the streaming FSM (saxkernel.SaxParser), the semantic source of truth.
Equivalence is enforced differentially (tests/test_fastsax.py) over the
fixture corpus, fuzz documents, and the synthetic pages corpus; the FSM
itself is validated byte-for-byte against the reference WASM
(tools/diff_ref.py).

States, terminator classes and positional arithmetic mirror
/root/reference/src/sax/parser.rs (see saxkernel.py for per-handler
line citations). Single-write simplifications used here:
- streaming ``header.1`` updates only matter across writes; values
  materialize as plain slices at emission (with the one-byte
  ``start>0 && start==end`` quirk of tag.rs:112-114 preserved);
- ``chunk_offset`` is 0 during the write and ``len(data)`` at the
  ``end()`` flush;
- broken trailing sequences cannot occur (checked up front → None).
"""

from __future__ import annotations

import re

from .collect import parse_events
from .names import is_name_start_char

GL = [1] * 256
for _b in range(0xC0, 0xE0):
    GL[_b] = 2
for _b in range(0xE0, 0xF0):
    GL[_b] = 3
for _b in range(0xF0, 0xF8):
    GL[_b] = 4

_CONT = bytes(range(0x80, 0xC0))
_FOUR = bytes(range(0xF0, 0xF8))

TAG_NAME_END = b">/ \n\t\r"
ATTRIBUTE_NAME_END = b"=> \t\n"
ATTRIBUTE_VALUE_END = b" \t\n>"
PROC_INST_TARGET_END = b"> \n\t\r"
ENTITY_CAPTURE_END = b">- ["
DOCTYPE_VALUE_END = b" \n\t\r>"
DOCTYPE_END = b"!>"

RE_TEXT_END = re.compile(rb"[<\n]")
RE_TAG_NAME_END = re.compile(rb"[>/ \n\t\r]")
RE_ATTR_NAME_END = re.compile(rb"[=> \t\n]")
RE_ATTR_VALUE_END = re.compile(rb"[ \t\n>]")
RE_PROC_TARGET_END = re.compile(rb"[> \n\t\r]")
RE_ENTITY_CAPTURE_END = re.compile(rb"[>\- \[]")
RE_DOCTYPE_VALUE_END = re.compile(rb"[ \n\t\r>]")
RE_DOCTYPE_END = re.compile(rb"[!>]")
RE_CLOSE_END = re.compile(rb"[> ]")
RE_BRACES = re.compile(rb"[{}]")
RE_NON_WS = re.compile(rb"[^\x00-\x20]")

# states (same codes as saxkernel)
S_BEGIN = 0
S_BEGIN_WS = 1
S_TEXT = 2
S_LT = 3
S_MARKUP_DECL = 4
S_ENTITY = 5
S_DOCTYPE = 6
S_DOCTYPE_ENTITY = 7
S_COMMENT = 8
S_CDATA = 9
S_PROC_INST = 10
S_PROC_INST_VAL = 11
S_OPEN_TAG = 12
S_OPEN_SLASH = 13
S_ATTRIB = 14
S_ATTRIB_NAME = 15
S_ATTRIB_NAME_WS = 16
S_ATTRIB_VAL = 17
S_ATTRIB_VAL_Q = 18
S_ATTRIB_VAL_CLOSED = 19
S_ATTRIB_VAL_UNQ = 20
S_CLOSE_TAG = 21
S_JSX = 22
S_SKIP_WS = 23

# Record layouts. Tag record (the current tag ``tg``, stack entries
# ``tags[i]``, ``e``, ``e2``):
#   [h0, h1, name|None, os_l, os_c, oe_l, oe_c, cs_l, cs_c, b0, b1]
# Attribute record (``at``):
#   [ns_l, ns_c, ne_l, ne_c, nh0, nh1, vs_l, vs_c, ve_l, ve_c, vh0, vh1,
#    atype, b0]
#
# Position state: the locals, record slots and helpers below carry only
# line/UTF-16-column positions, which reach the output only through the
# row's position fields. fastsax_np derives the positions-off kernel
# from parse_doc, _tuof, _tu and _skipws by deleting every store to this
# state and emitting 0 in those fields, so position code added here must
# use (or extend) these names; the derivation raises at import on a
# statement that mixes position and byte state.
POS_LOCALS = frozenset({
    "line", "ch", "ll", "lc", "nl", "line2", "ch2", "fl_ch", "fll", "flc",
    "tx_sl", "tx_sc", "md_sl", "md_sc", "me_sl", "me_sc", "me_el", "me_ec",
    "pi_sl", "pi_sc", "pi_t_el", "pi_t_ec", "pi_c_sl", "pi_c_sc",
    "e_ce_l", "e_ce_c", "ce_l", "ce_c", "cs_l", "cs_c",
})
TAG_POS_SLOTS = frozenset(range(3, 9))
ATTR_POS_SLOTS = frozenset({0, 1, 2, 3, 6, 7, 8, 9})
POS_RECORDS = {"tg": TAG_POS_SLOTS, "e": TAG_POS_SLOTS, "e2": TAG_POS_SLOTS, "at": ATTR_POS_SLOTS}
ROW_POS_FIELDS = range(10, 18)  # collect.FIELD_NAMES line_start..close_start_char
POS_FUNCS = frozenset({"_advr", "_cc"})


def _cc(span: bytes) -> int:
    """UTF-16 column width of a valid-UTF-8 span."""
    if span.isascii():
        return len(span)
    return len(span.translate(None, _CONT)) + (len(span) - len(span.translate(None, _FOUR)))


def _advr(buf, asc, start, pos, line, ch):
    """Advance (line, ch) over buf[start:pos] without slicing when the
    whole buffer is ASCII (the common web-text case)."""
    if start == pos:
        return line, ch
    nl = buf.count(b"\n", start, pos)
    if asc:
        if nl:
            return line + nl, pos - buf.rfind(b"\n", start, pos) - 1
        return line, ch + (pos - start)
    if nl:
        return line + nl, _cc(buf[buf.rfind(b"\n", start, pos) + 1 : pos])
    return line, ch + _cc(buf[start:pos])


def _last_gl(buf: bytes, end: int) -> int:
    i = end - 1
    stop = max(end - 4, 0)
    while i > stop and 0x80 <= buf[i] < 0xC0:
        i -= 1
    return end - i


def _tuof(buf, n, asc, regex, targets, cursor, line, ch, include):
    """take_until_one_found (cursor.py semantics, single-write).

    Returns (kind, cursor, line, ch, lcp, last_byte, found):
    kind 0 = None-return (no state change), 1 = precheck hit (no state
    change; last_byte = the previous byte), 2 = committed scan.
    last_byte mirrors span[-1] of the reference return value.
    """
    if cursor == n:
        return (0, cursor, line, ch, 0, -1, False)
    idx = cursor - 1 if cursor else 0
    if buf[idx] in targets:
        return (1, cursor, line, ch, 0, buf[idx], True)
    start = cursor
    m = regex.search(buf, start)
    if m is not None:
        pos = m.start()
        if pos == start and not include:
            return (0, cursor, line, ch, 0, -1, False)
        line, ch = _advr(buf, asc, start, pos, line, ch)
        matched = buf[pos]
        if include:
            if matched == 0x0A:
                line += 1
                ch = 0
            else:
                ch += 1
            return (2, pos + 1, line, ch, pos, matched, True)
        # span excludes the match: last byte is buf[pos-1]
        ln = GL[matched]
        lcp = pos - ln if pos >= ln else 0
        return (2, pos, line, ch, lcp, buf[pos - 1], True)
    if start == n:
        return (0, cursor, line, ch, 0, -1, False)
    line, ch = _advr(buf, asc, start, n, line, ch)
    ln = _last_gl(buf, n)
    return (2, n, line, ch, n - ln, buf[n - 1], False)


def _tu(buf, n, asc, target, cursor, line, ch, include):
    """take_until (cursor.py semantics, single-write, clean buffer).

    Returns (kind, cursor, line, ch, lcp, last_byte, nonempty)."""
    if cursor == n:
        return (0, cursor, line, ch, 0, -1, False)
    start = cursor
    pos = buf.find(target, start)
    if pos >= 0:
        line, ch = _advr(buf, asc, start, pos, line, ch)
        if include:
            if target == 0x0A:
                line += 1
                ch = 0
            else:
                ch += 1
            return (2, pos + 1, line, ch, pos, target, True)
        ln = GL[buf[pos]]
        lcp = pos - ln if pos >= ln else 0
        return (2, pos, line, ch, lcp, buf[pos - 1] if pos > start else -1, pos > start)
    line, ch = _advr(buf, asc, start, n, line, ch)
    ln = _last_gl(buf, n) if n > start else 0
    return (2, n, line, ch, n - ln if n >= ln else 0, buf[n - 1] if n > start else -1, n > start)


def _skipws(buf, n, cursor, line, ch):
    """skip_whitespace (cursor.py:skip_whitespace).

    Returns (cursor, line, ch, lcp, done)."""
    m = RE_NON_WS.search(buf, cursor)
    pos = m.start() if m else n
    nl = buf.count(b"\n", cursor, pos)
    if nl:
        line += nl
        ch = pos - buf.rfind(b"\n", cursor, pos) - 1
    else:
        ch += pos - cursor
    return (pos, line, ch, pos - 1 if pos else 0, pos < n)


def _mat(val, buf, h0, h1):
    """Text.hydrate materialization (tag.rs:121-137): (value, emit_ok)."""
    if h0 > h1:
        return val, len(val) > 0
    if h1 > h0:
        return val + buf[h0:h1], True
    if h0 > 0:
        return val + buf[h0 : h0 + 1], True
    return val, True


def _gvs(val, buf, n, h0, h1):
    """Text.get_value_slice (tag.rs:102-119): (value, new_h0, new_h1)."""
    if h0 > h1 or h1 > n:
        return val, h0, h1
    if h1 > h0:
        return val + buf[h0:h1], 0, 0
    if h0 > 0 and h0 == h1:
        return val + buf[h0 : h0 + 1], 0, 0
    return val, 0, 0


def _name_of(buf, e):
    """Tag.get_name_slice for stack comparison (tag.rs:35-49)."""
    nm = e[2]
    if nm:
        return nm
    h0, h1 = e[0], e[1]
    if h0 < h1:
        return buf[h0:h1]
    return b""


def _name_mat(buf, e):
    """Tag name materialization at emission (tag.rs:62-78)."""
    nm = e[2] or b""
    h0, h1 = e[0], e[1]
    if h0 > h1:
        return nm
    if h1 > h0:
        return nm + buf[h0:h1]
    if h0 > 0:
        return nm + buf[h0 : h0 + 1]
    return nm


def parse_doc(data: bytes, events: int):  # noqa: C901, PLR0912, PLR0915
    """Flat event rows for one single-write document, or None → use FSM."""
    buf = data
    n = len(buf)
    asc = buf.isascii()
    if not asc:
        try:
            buf.decode("utf-8")
        except UnicodeDecodeError:
            return None

    ev_text = events & 1
    ev_pi = events & 2
    ev_decl = events & 4
    ev_doctype = events & 8
    ev_comment = events & 16
    ev_ots = events & 32
    ev_attr = events & 64
    ev_ot = events & 128
    ev_ct = events & 256
    ev_cdata = events & 512
    want_text = ev_text or ev_ct

    rows: list[tuple] = []
    append = rows.append
    seq = 0

    cursor = 0
    line = 0
    ch = 0
    ll = 0
    lc = 0
    lcp = 0
    state = S_BEGIN
    brace_ct = 0
    quote = 0

    # pending text (mirrors parser text buffer)
    tx_on = False
    tx_val = b""
    tx_sl = tx_sc = 0
    tx_h0 = 0
    tx_h1 = 0
    tx_b0 = 0

    # tag stack, current tag and current attribute (layouts above)
    tags: list[list] = []
    tg = [0, 0, None, 0, 0, 0, 0, 0, 0, 0, 0]
    at = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]

    # close-tag capture
    cl_h0 = 0
    cl_h1 = 0

    # markup decl
    md_on = False
    md_val = b""
    md_h0 = 0
    md_h1 = 0
    md_sl = md_sc = 0
    md_b0 = 0
    md_b1 = 0
    me_on = False
    me_h0 = 0
    me_h1 = 0
    me_sl = me_sc = 0
    me_b0 = 0

    # proc inst
    pi_sl = pi_sc = 0
    pi_b0 = 0
    pi_t_el = pi_t_ec = 0
    pi_th0 = pi_th1 = 0
    pi_ch0 = pi_ch1 = 0
    pi_c_sl = pi_c_sc = 0

    # BOM handled before the loop (saves the per-grapheme `first`
    # check). The BOM grapheme was consumed through the stepping
    # preamble, so it counts one column (ch = 1) and its lcp is never
    # observed — the next iteration overwrites it.
    state = S_BEGIN_WS
    if buf[:3] == b"\xef\xbb\xbf":
        cursor = 3
        ch = 1

    while cursor < n:
        b0 = buf[cursor]
        ll = line
        lc = ch
        if b0 < 0x80:
            # ASCII fast path: no length table, no truncation guard
            if b0 == 0x0A:
                line += 1
                ch = 0
            else:
                ch += 1
            lcp = cursor
            cursor += 1
        else:
            gl = GL[b0]
            gend = cursor + gl
            if gend > n:
                return None  # cannot happen on valid UTF-8; defensive
            ch += 2 if gl == 4 else 1
            lcp = cursor
            cursor = gend

        # inner redispatch loop: a handler that chains into another
        # handler on the SAME grapheme sets `state` and loops again
        while True:
            st = state

            # ---------------- BEGIN_WS ----------------
            if st == S_BEGIN_WS:
                if b0 == 0x0A:
                    state = S_SKIP_WS
                    # fuse the SKIP_WS round-trip (one outer iteration
                    # + one dispatch per inter-tag newline): bulk-skip
                    # the whitespace run and redispatch the next
                    # grapheme straight back into BEGIN_WS
                    if cursor >= n:
                        break
                    g = buf[cursor]
                    if g > 32:
                        gl2 = GL[g] if g >= 0x80 else 1
                        if cursor + gl2 > n:
                            break
                        ll = line
                        lc = ch
                        ch += 2 if gl2 == 4 else 1
                        lcp = cursor
                        cursor += gl2
                        # SKIP_WS done-arm: reset pending text AFTER the
                        # grapheme consume (mirrors the stepping order)
                        if tx_on:
                            tx_val = b""
                            tx_sl = line
                            tx_sc = ch
                            tx_h0 = cursor
                        state = S_BEGIN_WS
                        b0 = g
                        continue
                    cursor, line, ch, lcp, done = _skipws(buf, n, cursor, line, ch)
                    if not done:
                        break  # EOF inside whitespace: stay SKIP_WS
                    # SKIP_WS done-arm (bulk): reset pending text BEFORE
                    # the next grapheme consume (cursor at the non-ws)
                    if tx_on:
                        tx_val = b""
                        tx_sl = line
                        tx_sc = ch
                        tx_h0 = cursor
                    state = S_BEGIN_WS
                    nb = buf[cursor]
                    gl2 = GL[nb] if nb >= 0x80 else 1
                    if cursor + gl2 > n:
                        break
                    ll = line
                    lc = ch
                    ch += 2 if gl2 == 4 else 1
                    lcp = cursor
                    cursor += gl2
                    b0 = nb
                    continue
                if b0 == 0x3C:
                    tg = [0, 0, None, line, lc, 0, 0, 0, 0, 0, 0]
                    state = S_LT
                    # fuse next(): consume the grapheme after '<' and
                    # chain straight into the LT handler
                    if cursor < n:
                        b0 = buf[cursor]
                        gl = GL[b0] if b0 >= 0x80 else 1
                        if cursor + gl <= n:
                            ll = line
                            lc = ch
                            if b0 == 0x0A:
                                line += 1
                                ch = 0
                            else:
                                ch += 2 if gl == 4 else 1
                            lcp = cursor
                            cursor += gl
                            continue
                    break
                if not tx_on and want_text:
                    tx_on = True
                    tx_val = b""
                    tx_sl = line
                    tx_sc = lc
                    tx_h0 = lcp
                    tx_h1 = lcp
                    tx_b0 = lcp
                # new_text only sets state; this grapheme is NOT re-run
                # through the text handler (parser.rs:1213-1222 returns)
                state = S_TEXT
                break

            # ---------------- LT ----------------
            if st == S_LT:
                fl_ch = ch - 2 if ch >= 2 else 0
                fl_off = lcp - 1 if lcp >= 1 else 0
                is_name = (
                    (0x61 <= b0 <= 0x7A)
                    or (0x41 <= b0 <= 0x5A)
                    or b0 == 0x3A
                    or b0 == 0x5F
                    or (b0 > 0x7F and is_name_start_char(buf[lcp:cursor]))
                )
                if is_name:
                    tg[0] = lcp
                    tg[1] = cursor
                    state = S_OPEN_TAG
                    if tx_on:
                        tx_on = False
                        if ev_text and not (tx_h0 == fl_off and not tx_val):
                            if fl_off > tx_h0:  # _mat's common case, inlined
                                val, ok = tx_val + buf[tx_h0:fl_off], True
                            else:
                                val, ok = _mat(tx_val, buf, tx_h0, fl_off)
                            if ok:
                                append((0, seq, None, val, None, None, None, None,
                                        None, None, tx_sl, tx_sc, line, fl_ch, None,
                                        None, None, None, tx_b0, fl_off))
                                seq += 1
                    continue  # redispatch into OPEN_TAG
                if b0 == 0x21:  # '!'
                    state = S_MARKUP_DECL
                    md_on = True
                    md_sl = line
                    md_sc = lc
                    md_b0 = cursor - 2 if cursor >= 2 else 0
                    md_h0 = cursor - 1 if cursor >= 1 else 0
                    md_h1 = cursor
                    md_val = b"<"
                    md_b1 = 0
                    # ---- fused comment / CDATA classification ----
                    # emulates consuming the classifier graphemes ('--' or
                    # '[CDATA[', all ASCII) exactly as markup_decl would
                    # (parser.rs:630-692), then scans for the exact
                    # terminator in one step; bails with nothing extra
                    # consumed on EOF. The pending text must flush FIRST
                    # (the FSM flushes at the end of less_than, before any
                    # further grapheme is consumed).
                    if tx_on:
                        tx_on = False
                        if ev_text and not (tx_h0 == fl_off and not tx_val):
                            if fl_off > tx_h0:  # _mat's common case, inlined
                                val, ok = tx_val + buf[tx_h0:fl_off], True
                            else:
                                val, ok = _mat(tx_val, buf, tx_h0, fl_off)
                            if ok:
                                append((0, seq, None, val, None, None, None, None,
                                        None, None, tx_sl, tx_sc, line, fl_ch, None, None,
                                        None, None, tx_b0, fl_off))
                                seq += 1
                    nxt2 = buf[cursor : cursor + 2]
                    if nxt2 == b"--":
                        ch += 2
                        cursor += 2
                        md_sl = line
                        md_sc = ch - 4 if ch >= 4 else 0
                        md_val = b""
                        md_h0 = cursor
                        md_h1 = 0
                        md_b1 = cursor - 4 if cursor >= 4 else 0
                        state = S_COMMENT
                        epos = buf.find(b"-->", cursor)
                        if epos >= 0:
                            line, ch = _advr(buf, asc, cursor, epos + 3, line, ch)
                            body = buf[md_h0:epos]
                            cursor = epos + 3
                            lcp = cursor - 1
                            if ev_comment:
                                append((4, seq, None, body, None, None, None,
                                        None, None, None, md_sl, md_sc, line, ch,
                                        None, None, None, None, md_b0, cursor))
                                seq += 1
                            md_on = False
                            md_val = b""
                            state = S_BEGIN_WS
                    elif nxt2 == b"[C" or nxt2 == b"[c":
                        if buf[cursor : cursor + 7].lower() == b"[cdata[":
                            ch += 7
                            cursor += 7
                            md_sl = line
                            md_sc = ch - 9 if ch >= 9 else 0
                            md_b1 = cursor - 9 if cursor >= 9 else 0
                            md_val = b""
                            md_h0 = cursor
                            md_h1 = 0
                            state = S_CDATA
                            epos = buf.find(b"]]>", cursor)
                            if epos >= 0:
                                line, ch = _advr(buf, asc, cursor, epos + 3, line, ch)
                                body = buf[md_h0:epos]
                                cursor = epos + 3
                                lcp = cursor - 1
                                if ev_cdata:
                                    append((9, seq, None, body, None, None, None,
                                            None, None, None, md_sl, md_sc, line, ch,
                                            None, None, None, None, md_b0, cursor))
                                    seq += 1
                                md_on = False
                                md_val = b""
                                state = S_BEGIN_WS
                elif b0 == 0x2F:  # '/'
                    state = S_CLOSE_TAG
                    tg[7] = line
                    tg[8] = lc - 1 if lc >= 1 else 0
                    cl_h0 = lcp
                    cl_h1 = 0
                    # fuse next(): chain straight into the close-tag
                    # handler for the grapheme after '/'
                    if tx_on:
                        tx_on = False
                        if ev_text and not (tx_h0 == fl_off and not tx_val):
                            if fl_off > tx_h0:  # _mat's common case, inlined
                                val, ok = tx_val + buf[tx_h0:fl_off], True
                            else:
                                val, ok = _mat(tx_val, buf, tx_h0, fl_off)
                            if ok:
                                append((0, seq, None, val, None, None, None, None,
                                        None, None, tx_sl, tx_sc, line, fl_ch, None, None,
                                        None, None, tx_b0, fl_off))
                                seq += 1
                    if cursor < n:
                        b0 = buf[cursor]
                        gl = GL[b0] if b0 >= 0x80 else 1
                        if cursor + gl <= n:
                            ll = line
                            lc = ch
                            if b0 == 0x0A:
                                line += 1
                                ch = 0
                            else:
                                ch += 2 if gl == 4 else 1
                            lcp = cursor
                            cursor += gl
                            continue
                    break
                elif b0 == 0x3F:  # '?'
                    state = S_PROC_INST
                    pi_sl = line
                    pi_sc = ch - 2 if ch >= 2 else 0
                    pi_th0 = lcp - 1 if lcp >= 1 else 0
                    pi_th1 = cursor
                    pi_b0 = cursor - 2 if cursor >= 2 else 0
                    pi_t_el = pi_t_ec = 0
                    pi_ch0 = pi_ch1 = 0
                    pi_c_sl = pi_c_sc = 0
                elif b0 == 0x3E:  # '>' : JSX fragment
                    if tx_on:
                        tx_on = False
                        if ev_text and not (tx_h0 == fl_off and not tx_val):
                            if fl_off > tx_h0:  # _mat's common case, inlined
                                val, ok = tx_val + buf[tx_h0:fl_off], True
                            else:
                                val, ok = _mat(tx_val, buf, tx_h0, fl_off)
                            if ok:
                                append((0, seq, None, val, None, None, None, None,
                                        None, None, tx_sl, tx_sc, line, fl_ch, None,
                                        None, None, None, tx_b0, fl_off))
                                seq += 1
                    # process_open_tag(False)
                    tg[5] = line
                    tg[6] = ch
                    tg[10] = cursor
                    if ev_ot:
                        nm = _name_mat(buf, tg)
                        tg[2] = nm
                        tg[0] = tg[1] = 0
                        append((7, seq, nm.decode("utf-8", "replace"), None, None,
                                None, None, False, None, None, tg[3], tg[4], 0, 0, tg[5], tg[6], tg[7], tg[8], tg[9], tg[10]))
                        seq += 1
                    tags.append(tg)
                    tg = [0, 0, None, 0, 0, 0, 0, 0, 0, 0, 0]
                    state = S_BEGIN_WS
                    break
                else:
                    # '< foo' is text, not a tag
                    if not tx_on and want_text:
                        tx_on = True
                        tx_val = b""
                        tx_sl = line
                        tx_sc = ch
                        tx_h0 = lcp
                        tx_h1 = lcp
                        tx_b0 = lcp
                    state = S_TEXT
                    break
                # '!', '/', '?' arms flush pending text at the end
                if tx_on:
                    tx_on = False
                    if ev_text and not (tx_h0 == fl_off and not tx_val):
                        if fl_off > tx_h0:  # _mat's common case, inlined
                            val, ok = tx_val + buf[tx_h0:fl_off], True
                        else:
                            val, ok = _mat(tx_val, buf, tx_h0, fl_off)
                        if ok:
                            append((0, seq, None, val, None, None, None, None,
                                    None, None, tx_sl, tx_sc, line, fl_ch, None, None,
                                    None, None, tx_b0, fl_off))
                            seq += 1
                break

            # ---------------- OPEN_TAG ----------------
            if st == S_OPEN_TAG:
                tg[3] = line
                tg[4] = ch - 2 if ch >= 2 else 0
                tg[9] = cursor - 2 if cursor >= 2 else 0
                byte = b0
                if byte not in TAG_NAME_END:
                    m = RE_TAG_NAME_END.search(buf, cursor)
                    if m is not None:
                        # common case inlined (the precheck cannot hit:
                        # the current grapheme is not a terminator)
                        pos = m.start()
                        ll = line
                        lc = ch
                        if pos != cursor:
                            line, ch = _advr(buf, asc, cursor, pos, line, ch)
                        matched = buf[pos]
                        if matched == 0x0A:
                            line += 1
                            ch = 0
                        else:
                            ch += 1
                        lcp = pos
                        cursor = pos + 1
                        byte = matched
                        tg[1] = lcp
                    else:
                        k, cursor2, line2, ch2, lcp2, lastb, found = _tuof(
                            buf, n, asc, RE_TAG_NAME_END, TAG_NAME_END, cursor, line, ch, True
                        )
                        if k == 2:
                            ll, lc = line, ch
                            cursor, line, ch, lcp = cursor2, line2, ch2, lcp2
                            byte = lastb
                            tg[1] = lcp if found else cursor
                        else:
                            tg[1] = lcp
                if ev_ots:
                    nm = _name_mat(buf, tg)
                    tg[2] = nm
                    tg[0] = tg[1] = 0
                    append((5, seq, nm.decode("utf-8", "replace"), None, None,
                            None, None, False, None, None, tg[3], tg[4], 0, 0, tg[5], tg[6], tg[7], tg[8], tg[9], tg[10]))
                    seq += 1
                if byte == 0x3E:
                    tg[5] = line
                    tg[6] = ch
                    tg[10] = cursor
                    if ev_ot:
                        nm = _name_mat(buf, tg)
                        tg[2] = nm
                        tg[0] = tg[1] = 0
                        append((7, seq, nm.decode("utf-8", "replace"), None, None,
                                None, None, False, None, None, tg[3], tg[4], 0, 0, tg[5], tg[6], tg[7], tg[8], tg[9], tg[10]))
                        seq += 1
                    tags.append(tg)
                    tg = [0, 0, None, 0, 0, 0, 0, 0, 0, 0, 0]
                    state = S_BEGIN_WS
                elif byte == 0x2F:
                    state = S_OPEN_SLASH
                elif byte in (0x20, 0x09, 0x0A, 0x0D):
                    state = S_ATTRIB
                break

            # ---------------- CLOSE_TAG ----------------
            if st == S_CLOSE_TAG:
                byte = b0
                if byte != 0x3E:
                    # _tuof(RE_CLOSE_END, b"> ", include=True), inlined:
                    # nothing to take at EOF, and the precheck hits iff
                    # the grapheme is ' ' ('>' is handled below)
                    cl_h0 = lcp
                    if cursor == n:
                        cl_h1 = cursor
                    elif byte == 0x20:
                        cl_h1 = cursor - 1
                    else:
                        ll = line
                        lc = ch
                        m = RE_CLOSE_END.search(buf, cursor)
                        pos = m.start() if m is not None else n
                        line, ch = _advr(buf, asc, cursor, pos, line, ch)
                        if m is not None:
                            ch += 1  # the '>' or ' ' taken
                            byte = buf[pos]
                            lcp = pos
                            cursor = pos + 1
                        else:
                            byte = buf[n - 1]
                            lcp = n - _last_gl(buf, n)
                            cursor = n
                        cl_h1 = pos
                if byte == 0x3E:
                    # ---- process_close_tag ----
                    state = S_BEGIN_WS
                    if cl_h1 > cl_h0:  # _mat's common case, inlined
                        close_name = buf[cl_h0:cl_h1]
                    else:
                        close_name, _ok = _mat(b"", buf, cl_h0, cl_h1)
                    cl_h0 = cl_h1 = 0
                    found_i = -1
                    for i in range(len(tags) - 1, -1, -1):
                        if _name_of(buf, tags[i]) == close_name:
                            found_i = i
                            break
                    if found_i < 0:
                        # orphan close → text
                        if not tx_on:
                            tx_on = True
                            tx_b0 = 0
                            tx_sl = tx_sc = 0
                        tx_val = b"</" + close_name + b">"
                        tx_sl = tg[7]
                        tx_sc = tg[8]
                        tx_h0 = 0
                        tx_h1 = 0
                        # flush_text(line, ch, 0)
                        tx_on = False
                        if tx_val:  # h0==h1==0 but value non-empty
                            if ev_text:
                                append((0, seq, None, tx_val, None, None, None,
                                        None, None, None, tx_sl, tx_sc, line, ch, None,
                                        None, None, None, tx_b0, 0))
                                seq += 1
                        break
                    e = tags[found_i]
                    # close_start, close_end + byte_range.1 on the matched tag
                    e[7] = tg[7]
                    e[8] = tg[8]
                    e_ce_l, e_ce_c = line, ch
                    e[10] = cursor
                    if not ev_ct:
                        keep = found_i if found_i > 1 else 1
                        del tags[keep:]
                        break
                    while len(tags) > found_i:
                        e2 = tags.pop()
                        nm = _name_mat(buf, e2)
                        if e2 is e:
                            ce_l, ce_c = e_ce_l, e_ce_c
                            cs_l, cs_c = e2[7], e2[8]
                        else:
                            ce_l, ce_c = 0, 0
                            cs_l, cs_c = e2[7], e2[8]
                        append((8, seq, nm.decode("utf-8", "replace"), None, None,
                                None, None, False, None, None, e2[3], e2[4], ce_l, ce_c,
                                e2[5], e2[6], cs_l, cs_c, e2[9], e2[10]))
                        seq += 1
                    break
                if byte == 0x20:
                    cursor, line, ch, lcp, _d = _skipws(buf, n, cursor, line, ch)
                break

            # ---------------- TEXT ----------------
            if st == S_TEXT:
                if b0 == 0x3C:
                    state = S_LT
                    break
                # ---- fused text-run loop ----
                # A multi-line text run used to cost one outer iteration
                # per line ('\n' flush → SKIP_WS → BEGIN_WS → TEXT).
                # This loop performs the whole cycle inline — newline
                # flush at (fll, flc, fpos), whitespace skip, text
                # restart — and only returns to the outer loop at '<'
                # or EOF. Every committed step is exactly what the
                # stepping handlers would have committed.
                if b0 == 0x0A:
                    fll, flc, fpos = ll, lc, lcp
                    do_nl = True
                else:
                    do_nl = False
                redisp = False
                while True:
                    if do_nl:
                        do_nl = False
                        # newline flushes text at (fll, flc, fpos)
                        if tx_on:
                            tx_on = False
                            if ev_text and not (tx_h0 == fpos and not tx_val):
                                if fpos > tx_h0:  # _mat's common case, inlined
                                    val, ok = tx_val + buf[tx_h0:fpos], True
                                else:
                                    val, ok = _mat(tx_val, buf, tx_h0, fpos)
                                if ok:
                                    append((0, seq, None, val, None, None, None, None,
                                            None, None, tx_sl, tx_sc, fll, flc, None, None,
                                            None, None, tx_b0, fpos))
                                    seq += 1
                        state = S_SKIP_WS
                        if cursor >= n:
                            break
                        g = buf[cursor]
                        if g <= 32:
                            cursor, line, ch, lcp, done = _skipws(buf, n, cursor, line, ch)
                            if not done:
                                break  # EOF inside whitespace: stay SKIP_WS
                            g = buf[cursor]
                        # consume the first non-ws grapheme (SKIP_WS
                        # done-arm; its tx reset is a no-op — the text
                        # was just flushed) and run BEGIN_WS inline
                        gl2 = GL[g] if g >= 0x80 else 1
                        if cursor + gl2 > n:
                            break
                        ll = line
                        lc = ch
                        ch += 2 if gl2 == 4 else 1
                        lcp = cursor
                        cursor += gl2
                        state = S_BEGIN_WS
                        if g == 0x3C:
                            b0 = g
                            redisp = True  # BEGIN_WS '<' fusion
                            break
                        # BEGIN_WS text restart, inline
                        if want_text:
                            tx_on = True
                            tx_val = b""
                            tx_sl = line
                            tx_sc = lc
                            tx_h0 = lcp
                            tx_h1 = lcp
                            tx_b0 = lcp
                        state = S_TEXT
                        # ---- emulate the DISPATCH of the next grapheme
                        # (the restart grapheme itself is never re-run
                        # through the text handler, parser.rs:1213-1222,
                        # and a directly-dispatched '<' / EOF must NOT
                        # touch tx_h1 — the reference's one-byte
                        # hydrate quirk depends on it) ----
                        if cursor >= n:
                            break  # EOF right after restart: quirk flush
                        y = buf[cursor]
                        if y == 0x3C:
                            ll = line
                            lc = ch
                            ch += 1
                            lcp = cursor
                            cursor += 1
                            state = S_LT
                            break  # direct-dispatch arm: no tx_h1 update
                        gly = GL[y] if y >= 0x80 else 1
                        if cursor + gly > n:
                            break
                        ll = line
                        lc = ch
                        if y == 0x0A:
                            line += 1
                            ch = 0
                            lcp = cursor
                            cursor += 1
                            fll, flc, fpos = ll, lc, lcp
                            do_nl = True
                            continue
                        ch += 2 if gly == 4 else 1
                        lcp = cursor
                        cursor += gly
                        # fall through: bulk scan from after y, exactly
                        # as a TEXT dispatch of y would
                    # take_until_one_found(TEXT_END, False), inlined
                    m = RE_TEXT_END.search(buf, cursor)
                    if m is not None:
                        pos = m.start()
                        if buf[pos] == 0x3C:
                            if pos != cursor:
                                ll = line
                                lc = ch
                                line, ch = _advr(buf, asc, cursor, pos, line, ch)
                                lcp = pos - 1
                                cursor = pos
                            if tx_on:
                                tx_h1 = cursor
                            # fuse the '<' step (parser.rs:586-589):
                            # consume it with exact next() bookkeeping;
                            # the following grapheme dispatches into LT
                            ll = line
                            lc = ch
                            ch += 1
                            lcp = cursor
                            cursor += 1
                            state = S_LT
                            break
                        # '\n': consume it inline and loop
                        if pos != cursor:
                            line, ch = _advr(buf, asc, cursor, pos, line, ch)
                        fll = line
                        flc = ch
                        fpos = pos
                        line += 1
                        ch = 0
                        lcp = pos
                        cursor = pos + 1
                        do_nl = True
                        continue
                    if cursor < n:
                        ll = line
                        lc = ch
                        line, ch = _advr(buf, asc, cursor, n, line, ch)
                        lcp = n - _last_gl(buf, n)
                        cursor = n
                    if tx_on:
                        tx_h1 = cursor
                    break
                if redisp:
                    continue  # redispatch '<' into BEGIN_WS
                break

            # ---------------- ATTRIB ----------------
            if st == S_ATTRIB:
                if b0 < 33:
                    # FSM consumes one ws grapheme per call with no side
                    # effects; intermediate ll/lc/lcp are dead, so bulk-skip
                    m = RE_NON_WS.search(buf, cursor)
                    pos = m.start() if m else n
                    if pos > cursor:
                        nl = buf.count(b"\n", cursor, pos)
                        if nl:
                            line += nl
                            ch = pos - buf.rfind(b"\n", cursor, pos) - 1
                        else:
                            ch += pos - cursor
                        lcp = pos - 1
                        cursor = pos
                    break
                at[13] = cursor - 1 if cursor >= 1 else 0
                if b0 == 0x3E:
                    state = -1  # handled by shared open-tag emit below
                elif b0 == 0x2F:
                    state = S_OPEN_SLASH
                    break
                else:
                    at[0] = line
                    at[1] = ch - 1 if ch >= 1 else 0
                    at[4] = lcp
                    # ---- fused fast path: whole attribute lists ----
                    # loops over name="value" pairs and their separators;
                    # every committed step is exactly what the stepping
                    # FSM would have committed; any deviation bails with
                    # the correct state and redispatches
                    redispatch = False
                    while True:
                        if b0 in ATTRIBUTE_NAME_END:
                            state = S_ATTRIB_NAME
                            redispatch = True
                            break
                        m = RE_ATTR_NAME_END.search(buf, cursor)
                        if m is None or buf[m.start()] != 0x3D:
                            state = S_ATTRIB_NAME
                            redispatch = True
                            break
                        pos = m.start()
                        if pos > cursor:
                            line, ch = _advr(buf, asc, cursor, pos, line, ch)
                            cursor = pos
                        at[2] = line
                        at[3] = ch
                        at[5] = cursor
                        # consume '=' (name.end stays; header.1 untouched)
                        ch += 1
                        cursor += 1
                        if cursor >= n:
                            state = S_ATTRIB_VAL
                            break
                        q = buf[cursor]
                        if q != 0x22 and q != 0x27:
                            state = S_ATTRIB_VAL
                            break
                        # consume the opening quote
                        ch += 1
                        cursor += 1
                        at[6] = line
                        at[7] = ch
                        at[10] = cursor
                        at[12] = 8 if q == 0x22 else 4
                        cpos = buf.find(q, cursor)
                        if cpos < 0:
                            quote = q
                            state = S_ATTRIB_VAL_Q
                            break
                        # value span + closing quote
                        if cpos > cursor:
                            line, ch = _advr(buf, asc, cursor, cpos, line, ch)
                        ch += 1
                        lcp = cpos
                        cursor = cpos + 1
                        at[8] = line
                        at[9] = ch - 1 if ch >= 1 else 0
                        h1 = cursor - 1
                        if h1 == at[10]:
                            at[11] = h1 - 1 if h1 >= 1 else 0
                        else:
                            at[11] = h1
                        if ev_attr:
                            nval, nok = _mat(b"", buf, at[4], at[5])
                            vval, vok = _mat(b"", buf, at[10], at[11])
                            if nok or vok:
                                append((6, seq, None, None, nval,
                                        vval, at[12], None, None, None,
                                        at[0], at[1], at[8], at[9],
                                        at[2], at[3], at[6], at[7],
                                        at[13], cursor))
                                seq += 1
                        at = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
                        quote = 0
                        state = S_ATTRIB_VAL_CLOSED
                        # ---- separator peek (VAL_CLOSED arms inline) ----
                        if cursor >= n:
                            break
                        sep = buf[cursor]
                        if sep == 0x3E:  # '>' closes the tag
                            ll = line
                            lc = ch
                            ch += 1
                            lcp = cursor
                            cursor += 1
                            tg[5] = line
                            tg[6] = ch
                            tg[10] = cursor
                            if ev_ot:
                                nm = _name_mat(buf, tg)
                                tg[2] = nm
                                tg[0] = tg[1] = 0
                                append((7, seq, nm.decode("utf-8", "replace"),
                                        None, None, None, None, False, None, None,
                                        tg[3], tg[4], 0, 0, tg[5], tg[6], tg[7],
                                        tg[8], tg[9], tg[10]))
                                seq += 1
                            tags.append(tg)
                            tg = [0, 0, None, 0, 0, 0, 0, 0, 0, 0, 0]
                            state = S_BEGIN_WS
                            break
                        if sep < 33:
                            # one ws grapheme: VAL_CLOSED -> ATTRIB
                            ll = line
                            lc = ch
                            if sep == 0x0A:
                                line += 1
                                ch = 0
                            else:
                                ch += 1
                            lcp = cursor
                            cursor += 1
                            state = S_ATTRIB
                            # ATTRIB ws arm: bulk-skip remaining ws
                            if cursor < n and buf[cursor] <= 32:
                                m2 = RE_NON_WS.search(buf, cursor)
                                pos2 = m2.start() if m2 else n
                                nl = buf.count(b"\n", cursor, pos2)
                                if nl:
                                    line += nl
                                    ch = pos2 - buf.rfind(b"\n", cursor, pos2) - 1
                                else:
                                    ch += pos2 - cursor
                                lcp = pos2 - 1
                                cursor = pos2
                            if cursor >= n:
                                break
                            nb = buf[cursor]
                            gl2 = GL[nb] if nb >= 0x80 else 1
                            if cursor + gl2 > n:
                                break
                            # consume the next grapheme (ATTRIB dispatch)
                            ll = line
                            lc = ch
                            if nb == 0x0A:
                                line += 1
                                ch = 0
                            else:
                                ch += 2 if gl2 == 4 else 1
                            lcp = cursor
                            cursor += gl2
                            at[13] = cursor - 1 if cursor >= 1 else 0
                            if nb == 0x3E:
                                tg[5] = line
                                tg[6] = ch
                                tg[10] = cursor
                                if ev_ot:
                                    nm = _name_mat(buf, tg)
                                    tg[2] = nm
                                    tg[0] = tg[1] = 0
                                    append((7, seq, nm.decode("utf-8", "replace"),
                                            None, None, None, None, False, None, None,
                                            tg[3], tg[4], 0, 0, tg[5], tg[6], tg[7],
                                            tg[8], tg[9], tg[10]))
                                    seq += 1
                                tags.append(tg)
                                tg = [0, 0, None, 0, 0, 0, 0, 0, 0, 0, 0]
                                state = S_BEGIN_WS
                                break
                            if nb == 0x2F:
                                state = S_OPEN_SLASH
                                break
                            at[0] = line
                            at[1] = ch - 1 if ch >= 1 else 0
                            at[4] = lcp
                            b0 = nb
                            state = S_ATTRIB_NAME
                            continue  # next attribute
                        if sep == 0x2F:
                            ll = line
                            lc = ch
                            ch += 1
                            lcp = cursor
                            cursor += 1
                            state = S_OPEN_SLASH
                            break
                        # no-space next attribute (VAL_CLOSED else arm)
                        gl2 = GL[sep] if sep >= 0x80 else 1
                        if cursor + gl2 > n:
                            break
                        ll = line
                        lc = ch
                        if sep == 0x0A:
                            line += 1
                            ch = 0
                        else:
                            ch += 2 if gl2 == 4 else 1
                        lcp = cursor
                        cursor += gl2
                        at[4] = lcp
                        at[13] = lcp
                        at[0] = line
                        at[1] = ch - 1 if ch >= 1 else 0
                        b0 = sep
                        state = S_ATTRIB_NAME
                        continue  # next attribute
                    if redispatch:
                        continue  # redispatch current grapheme
                    break  # fused loop fully handled this span
                # process_open_tag(False) — '>' in attrib position
                tg[5] = line
                tg[6] = ch
                tg[10] = cursor
                if ev_ot:
                    nm = _name_mat(buf, tg)
                    tg[2] = nm
                    tg[0] = tg[1] = 0
                    append((7, seq, nm.decode("utf-8", "replace"), None, None,
                            None, None, False, None, None, tg[3], tg[4], 0, 0, tg[5], tg[6], tg[7], tg[8], tg[9], tg[10]))
                    seq += 1
                tags.append(tg)
                tg = [0, 0, None, 0, 0, 0, 0, 0, 0, 0, 0]
                state = S_BEGIN_WS
                break

            # ---------------- ATTRIB_NAME ----------------
            if st == S_ATTRIB_NAME:
                if b0 == 0x3D:  # '='
                    # sets name.end + name.byte_range.1 only — header.1 is
                    # deliberately left alone (parser.rs:942-946)
                    at[2] = line
                    at[3] = ch - 1 if ch >= 1 else 0
                    state = S_ATTRIB_VAL
                    break
                if b0 == 0x3E:
                    at[2] = line
                    at[3] = ch - 1 if ch >= 1 else 0
                    # note: name.h1 left as-is (mirrors FSM: header.1 not
                    # set on this path → hydrate uses stale h1)
                    # process_attribute then process_open_tag
                    if ev_attr:
                        nval, nok = _mat(b"", buf, at[4], at[5])
                        vval, vok = _mat(b"", buf, at[10], at[11])
                        if nok or vok:
                            append((6, seq, None, None, nval, vval, at[12], None,
                                    None, None, at[0], at[1], at[8], at[9], at[2], at[3],
                                    at[6], at[7], at[13], cursor))
                            seq += 1
                    at = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
                    tg[5] = line
                    tg[6] = ch
                    tg[10] = cursor
                    if ev_ot:
                        nm = _name_mat(buf, tg)
                        tg[2] = nm
                        tg[0] = tg[1] = 0
                        append((7, seq, nm.decode("utf-8", "replace"), None, None,
                                None, None, False, None, None, tg[3], tg[4], 0, 0, tg[5], tg[6], tg[7], tg[8], tg[9], tg[10]))
                        seq += 1
                    tags.append(tg)
                    tg = [0, 0, None, 0, 0, 0, 0, 0, 0, 0, 0]
                    state = S_BEGIN_WS
                    break
                if b0 < 33:
                    if b0 == 0x0A:
                        at[2] = ll
                        at[3] = lc
                    else:
                        at[2] = line
                        at[3] = ch - 1 if ch >= 1 else 0
                    at[5] = lcp
                    state = S_ATTRIB_NAME_WS
                    continue  # redispatch
                k, cursor2, line2, ch2, lcp2, lastb, found = _tuof(buf, n, asc, RE_ATTR_NAME_END, ATTRIBUTE_NAME_END, cursor, line, ch, False
                )
                if k == 2:
                    ll, lc = line, ch
                    cursor, line, ch, lcp = cursor2, line2, ch2, lcp2
                at[2] = line
                at[3] = ch
                at[5] = cursor
                break

            # ---------------- ATTRIB_NAME_WS ----------------
            if st == S_ATTRIB_NAME_WS:
                if b0 < 33:
                    cursor, line, ch, lcp, _d = _skipws(buf, n, cursor, line, ch)
                    break
                if b0 != 0x3D:
                    # process_attribute (bare attribute)
                    if ev_attr:
                        nval, nok = _mat(b"", buf, at[4], at[5])
                        vval, vok = _mat(b"", buf, at[10], at[11])
                        if nok or vok:
                            append((6, seq, None, None, nval, vval, at[12], None,
                                    None, None, at[0], at[1], at[8], at[9], at[2], at[3],
                                    at[6], at[7], at[13], cursor))
                            seq += 1
                    at = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
                if b0 == 0x3D:
                    state = S_ATTRIB_VAL
                    break
                if b0 == 0x2F:
                    state = S_OPEN_SLASH
                    break
                if b0 == 0x3E:
                    tg[5] = line
                    tg[6] = ch
                    tg[10] = cursor
                    if ev_ot:
                        nm = _name_mat(buf, tg)
                        tg[2] = nm
                        tg[0] = tg[1] = 0
                        append((7, seq, nm.decode("utf-8", "replace"), None, None,
                                None, None, False, None, None, tg[3], tg[4], 0, 0, tg[5], tg[6], tg[7], tg[8], tg[9], tg[10]))
                        seq += 1
                    tags.append(tg)
                    tg = [0, 0, None, 0, 0, 0, 0, 0, 0, 0, 0]
                    state = S_BEGIN_WS
                    break
                at[0] = line
                at[1] = ch - 1 if ch >= 1 else 0
                at[4] = lcp
                state = S_ATTRIB_NAME
                continue  # redispatch

            # ---------------- ATTRIB_VAL ----------------
            if st == S_ATTRIB_VAL:
                if b0 < 33:
                    m = RE_NON_WS.search(buf, cursor)
                    pos = m.start() if m else n
                    if pos > cursor:
                        nl = buf.count(b"\n", cursor, pos)
                        if nl:
                            line += nl
                            ch = pos - buf.rfind(b"\n", cursor, pos) - 1
                        else:
                            ch += pos - cursor
                        lcp = pos - 1
                        cursor = pos
                    break
                at[6] = line
                at[7] = ch
                at[10] = cursor
                if b0 == 0x22 or b0 == 0x27:
                    quote = b0
                    state = S_ATTRIB_VAL_Q
                    at[12] = 8 if b0 == 0x22 else 4
                elif b0 == 0x7B:  # '{'
                    state = S_JSX
                    at[12] = 1
                    brace_ct += 1
                else:
                    at[10] = lcp
                    at[6] = line
                    at[7] = ch - 1 if ch >= 1 else 0
                    state = S_ATTRIB_VAL_UNQ
                    at[12] = 2
                    continue  # redispatch
                break

            # ---------------- ATTRIB_VAL_Q ----------------
            if st == S_ATTRIB_VAL_Q:
                if b0 == quote:
                    at[8] = line
                    at[9] = ch - 1 if ch >= 1 else 0
                    h1 = cursor - 1 if cursor >= 1 else 0
                    if h1 == at[10]:
                        at[11] = h1 - 1 if h1 >= 1 else 0
                    else:
                        at[11] = h1
                    # process_attribute
                    if ev_attr:
                        nval, nok = _mat(b"", buf, at[4], at[5])
                        vval, vok = _mat(b"", buf, at[10], at[11])
                        if nok or vok:
                            append((6, seq, None, None, nval, vval, at[12], None,
                                    None, None, at[0], at[1], at[8], at[9], at[2], at[3],
                                    at[6], at[7], at[13], cursor))
                            seq += 1
                    at = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
                    quote = 0
                    state = S_ATTRIB_VAL_CLOSED
                    break
                k, cursor2, line2, ch2, lcp2, lastb, ne = _tu(buf, n, asc, quote, cursor, line, ch, False
                )
                if k == 2:
                    ll, lc = line, ch
                    cursor, line, ch, lcp = cursor2, line2, ch2, lcp2
                at[11] = cursor
                break

            # ---------------- ATTRIB_VAL_CLOSED ----------------
            if st == S_ATTRIB_VAL_CLOSED:
                if b0 < 33:
                    state = S_ATTRIB
                    break
                if b0 == 0x3E:
                    tg[5] = line
                    tg[6] = ch
                    tg[10] = cursor
                    if ev_ot:
                        nm = _name_mat(buf, tg)
                        tg[2] = nm
                        tg[0] = tg[1] = 0
                        append((7, seq, nm.decode("utf-8", "replace"), None, None,
                                None, None, False, None, None, tg[3], tg[4], 0, 0, tg[5], tg[6], tg[7], tg[8], tg[9], tg[10]))
                        seq += 1
                    tags.append(tg)
                    tg = [0, 0, None, 0, 0, 0, 0, 0, 0, 0, 0]
                    state = S_BEGIN_WS
                    break
                if b0 == 0x2F:
                    state = S_OPEN_SLASH
                    break
                # attr.name.h0 = lcp; attr.b0 = name.b0 = lcp (chunk_offset 0)
                at[4] = lcp
                at[13] = lcp
                at[0] = line
                at[1] = ch - 1 if ch >= 1 else 0
                state = S_ATTRIB_NAME
                continue  # redispatch

            # ---------------- ATTRIB_VAL_UNQ ----------------
            if st == S_ATTRIB_VAL_UNQ:
                if b0 < 33:
                    cursor, line, ch, lcp, _d = _skipws(buf, n, cursor, line, ch)
                    break
                byte = b0
                if byte not in ATTRIBUTE_NAME_END:
                    attr_end = False
                    k, cursor2, line2, ch2, lcp2, lastb, found = _tuof(buf, n, asc, RE_ATTR_VALUE_END, ATTRIBUTE_VALUE_END, cursor, line, ch, False
                    )
                    if k != 0:
                        byte = lastb
                        attr_end = found
                        if k == 2:
                            ll, lc = line, ch
                            cursor, line, ch, lcp = cursor2, line2, ch2, lcp2
                    at[11] = cursor
                    at[8] = line
                    at[9] = ch
                    if not attr_end and b0 != byte:
                        break
                # process_attribute
                if ev_attr:
                    nval, nok = _mat(b"", buf, at[4], at[5])
                    vval, vok = _mat(b"", buf, at[10], at[11])
                    if nok or vok:
                        append((6, seq, None, None, nval, vval, at[12], None,
                                None, None, at[0], at[1], at[8], at[9], at[2], at[3],
                                at[6], at[7], at[13], cursor))
                        seq += 1
                at = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
                if byte == 0x2F:
                    state = S_OPEN_SLASH
                elif byte == 0x3E:
                    tg[5] = line
                    tg[6] = ch
                    tg[10] = cursor
                    if ev_ot:
                        nm = _name_mat(buf, tg)
                        tg[2] = nm
                        tg[0] = tg[1] = 0
                        append((7, seq, nm.decode("utf-8", "replace"), None, None,
                                None, None, False, None, None, tg[3], tg[4], 0, 0, tg[5], tg[6], tg[7], tg[8], tg[9], tg[10]))
                        seq += 1
                    tags.append(tg)
                    tg = [0, 0, None, 0, 0, 0, 0, 0, 0, 0, 0]
                    state = S_BEGIN_WS
                else:
                    state = S_ATTRIB
                break

            # ---------------- OPEN_SLASH ----------------
            if st == S_OPEN_SLASH:
                if b0 == 0x3E:
                    # process_open_tag(True): self-closing
                    tg[5] = line
                    tg[6] = ch
                    tg[10] = cursor
                    nm = None
                    if ev_ot:
                        nm = _name_mat(buf, tg)
                        tg[2] = nm
                        tg[0] = tg[1] = 0
                        append((7, seq, nm.decode("utf-8", "replace"), None, None,
                                None, None, True, None, None, tg[3], tg[4], 0, 0, tg[5], tg[6], tg[7], tg[8], tg[9], tg[10]))
                        seq += 1
                    if ev_ct:
                        if nm is None:
                            nm = _name_mat(buf, tg)
                            tg[2] = nm
                            tg[0] = tg[1] = 0
                        append((8, seq, nm.decode("utf-8", "replace"), None, None,
                                None, None, True, None, None, tg[3], tg[4], 0, 0, tg[5], tg[6], tg[7], tg[8], tg[9], tg[10]))
                        seq += 1
                    tg = [0, 0, None, 0, 0, 0, 0, 0, 0, 0, 0]
                    state = S_BEGIN_WS
                    break
                state = S_ATTRIB
                break

            # ---------------- SKIP_WS ----------------
            if st == S_SKIP_WS:
                if b0 > 32:
                    done = True
                else:
                    cursor, line, ch, lcp, done = _skipws(buf, n, cursor, line, ch)
                if done:
                    if tx_on:
                        tx_val = b""
                        tx_sl = line
                        tx_sc = ch
                        tx_h0 = cursor
                    state = S_BEGIN_WS
                    if b0 > 32:
                        continue  # redispatch current grapheme
                    # fuse: consume the first non-ws grapheme inline and
                    # redispatch into BEGIN_WS (saves an outer iteration)
                    nb = buf[cursor]
                    gl2 = GL[nb] if nb >= 0x80 else 1
                    if cursor + gl2 > n:
                        break
                    ll = line
                    lc = ch
                    ch += 2 if gl2 == 4 else 1
                    lcp = cursor
                    cursor += gl2
                    b0 = nb
                    continue
                break

            # ---------------- MARKUP_DECL ----------------
            if st == S_MARKUP_DECL:
                if b0 not in ENTITY_CAPTURE_END:
                    k, cursor2, line2, ch2, lcp2, lastb, found = _tuof(buf, n, asc, RE_ENTITY_CAPTURE_END, ENTITY_CAPTURE_END,
                        cursor, line, ch, False,
                    )
                    if k == 2:
                        ll, lc = line, ch
                        cursor, line, ch, lcp = cursor2, line2, ch2, lcp2
                md_h1 = cursor
                md_b1 = cursor
                md_val, md_h0, md_h1 = _gvs(md_val, buf, n, md_h0, md_h1)
                sl_len = len(md_val)
                if sl_len >= 4 and md_val[:4] == b"<!--":
                    md_sl = line
                    md_sc = ch - 4 if ch >= 4 else 0
                    md_val = b""
                    md_h0 = cursor
                    md_h1 = 0
                    md_b1 = cursor - 4 if cursor >= 4 else 0
                    state = S_COMMENT
                    break
                if sl_len >= 9 and md_val[:9].lower() == b"<![cdata[":
                    md_sl = line
                    md_sc = ch - 9 if ch >= 9 else 0
                    md_b1 = cursor - 9 if cursor >= 9 else 0
                    md_val = b""
                    md_h0 = cursor
                    md_h1 = 0
                    state = S_CDATA
                    break
                if sl_len >= 9 and md_val[:9].lower() == b"<!doctype":
                    md_sl = line
                    md_sc = ch - 9 if ch >= 9 else 0
                    md_b1 = cursor - 9 if cursor >= 9 else 0
                    cursor, line, ch, lcp, _d = _skipws(buf, n, cursor, line, ch)
                    md_val = b""
                    md_h0 = cursor
                    md_h1 = 0
                    state = S_DOCTYPE
                    break
                btc = md_val[:3] if sl_len > 2 else md_val
                if btc != b"<!-" and btc != b"<![" and not (
                    len(btc) == 3 and btc.lower() == b"<!d"
                ):
                    me_on = True
                    me_sl = line
                    me_sc = ch - 2 if ch >= 2 else 0
                    me_b0 = 0
                    cursor, line, ch, lcp, _d = _skipws(buf, n, cursor, line, ch)
                    me_h0 = cursor
                    me_h1 = 0
                    state = S_ENTITY
                    md_on = False
                else:
                    md_h0 = cursor
                    md_h1 = 0
                break

            # ---------------- COMMENT ----------------
            if st == S_COMMENT:
                if b0 != 0x3E:
                    k, cursor2, line2, ch2, lcp2, lastb, ne = _tu(buf, n, asc, 0x3E, cursor, line, ch, True
                    )
                    if k == 2:
                        ll, lc = line, ch
                        cursor, line, ch, lcp = cursor2, line2, ch2, lcp2
                md_h1 = cursor
                md_b1 = cursor
                md_val, md_h0, md_h1 = _gvs(md_val, buf, n, md_h0, md_h1)
                if len(md_val) > 2 and md_val[-3:] == b"-->":
                    if ev_comment:
                        append((4, seq, None, md_val[:-3], None, None, None, None,
                                None, None, md_sl, md_sc, line, ch, None, None, None,
                                None, md_b0, md_b1))
                        seq += 1
                    md_on = False
                    md_val = b""
                    state = S_BEGIN_WS
                else:
                    md_h0 = cursor
                    md_h1 = 0
                break

            # ---------------- CDATA ----------------
            if st == S_CDATA:
                if b0 != 0x3E:
                    k, cursor2, line2, ch2, lcp2, lastb, ne = _tu(buf, n, asc, 0x3E, cursor, line, ch, True
                    )
                    if k == 2:
                        ll, lc = line, ch
                        cursor, line, ch, lcp = cursor2, line2, ch2, lcp2
                md_h1 = cursor
                md_b1 = cursor
                md_val, md_h0, md_h1 = _gvs(md_val, buf, n, md_h0, md_h1)
                if len(md_val) > 2 and md_val[-3:] == b"]]>":
                    if ev_cdata:
                        append((9, seq, None, md_val[:-3], None, None, None, None,
                                None, None, md_sl, md_sc, line, ch, None, None, None,
                                None, md_b0, md_b1))
                        seq += 1
                    state = S_BEGIN_WS
                    md_val = b""
                    md_on = False
                else:
                    md_h0 = cursor
                    md_h1 = 0
                break

            # ---------------- DOCTYPE / DOCTYPE_ENTITY ----------------
            if st == S_DOCTYPE or st == S_DOCTYPE_ENTITY:
                byte = b0
                if st != S_DOCTYPE_ENTITY and byte not in DOCTYPE_VALUE_END:
                    k, cursor2, line2, ch2, lcp2, lastb, found = _tuof(buf, n, asc, RE_DOCTYPE_VALUE_END, DOCTYPE_VALUE_END,
                        cursor, line, ch, True,
                    )
                    if k != 0:
                        byte = lastb
                        if k == 2:
                            ll, lc = line, ch
                            cursor, line, ch, lcp = cursor2, line2, ch2, lcp2
                    md_h1 = cursor
                    md_b1 = cursor
                if byte not in DOCTYPE_END:
                    k, cursor2, line2, ch2, lcp2, lastb, found = _tuof(buf, n, asc, RE_DOCTYPE_END, DOCTYPE_END, cursor, line, ch, True
                    )
                    if k != 0:
                        byte = lastb
                        if k == 2:
                            ll, lc = line, ch
                            cursor, line, ch, lcp = cursor2, line2, ch2, lcp2
                if byte == 0x21:  # '!'
                    state = S_ENTITY
                    me_on = True
                    me_sl = line
                    me_sc = ch
                    me_h0 = cursor
                    me_h1 = 0
                    me_b0 = cursor
                    break
                if byte == 0x3E:
                    val, ok = _mat(md_val, buf, md_h0, md_h1)
                    md_val = b""
                    md_on = False
                    if ev_doctype and ok:
                        append((3, seq, None, val[:-1] if val else val, None,
                                None, None, None, None, None, md_sl, md_sc, line, ch,
                                None, None, None, None, md_b0, md_b1))
                        seq += 1
                    state = S_BEGIN_WS
                break

            # ---------------- ENTITY ----------------
            if st == S_ENTITY:
                byte = b0
                if byte != 0x3E:
                    k, cursor2, line2, ch2, lcp2, lastb, ne = _tu(buf, n, asc, 0x3E, cursor, line, ch, True
                    )
                    if k == 2:
                        ll, lc = line, ch
                        cursor, line, ch, lcp = cursor2, line2, ch2, lcp2
                        if ne:
                            byte = lastb
                if byte == 0x3E:
                    me_h1 = cursor - 1 if cursor >= 1 else 0
                    me_b1 = cursor - 1 if cursor >= 1 else 0
                    me_el = line
                    me_ec = ch - 1 if ch >= 1 else 0
                    me_on = False
                    if ev_decl:
                        val, ok = _mat(b"", buf, me_h0, me_h1)
                        if ok:
                            # reference dispatches declarations with the
                            # Cdata event code (parser.rs:822-823)
                            append((9, seq, None, val, None, None, None, None,
                                    None, None, me_sl, me_sc, me_el, me_ec, None, None,
                                    None, None, me_b0, me_b1))
                            seq += 1
                    state = S_DOCTYPE_ENTITY if md_on else S_BEGIN_WS
                    cursor, line, ch, lcp, _d = _skipws(buf, n, cursor, line, ch)
                break

            # ---------------- PROC_INST ----------------
            if st == S_PROC_INST:
                byte = b0
                if byte not in PROC_INST_TARGET_END:
                    k, cursor2, line2, ch2, lcp2, lastb, found = _tuof(buf, n, asc, RE_PROC_TARGET_END, PROC_INST_TARGET_END,
                        cursor, line, ch, True,
                    )
                    if k != 0:
                        byte = lastb
                        if k == 2:
                            ll, lc = line, ch
                            cursor, line, ch, lcp = cursor2, line2, ch2, lcp2
                pi_th1 = cursor
                if byte == 0x3E:
                    # process_proc_inst
                    state = S_BEGIN_WS
                    if ev_pi:
                        tval, _tok = _mat(b"", buf, pi_th0, pi_th1)
                        cval, _cok = _mat(b"", buf, pi_ch0, pi_ch1)
                        tval = tval[2:]
                        cval = cval[: len(cval) - 2] if len(cval) >= 2 else b""
                        append((1, seq, None, None, None, None, None, None,
                                tval, cval, pi_sl, pi_sc, line, ch, pi_t_el, pi_t_ec,
                                pi_c_sl, pi_c_sc, pi_b0, cursor))
                        seq += 1
                elif byte < 33:
                    pi_th1 = cursor - 1 if cursor >= 1 else 0
                    pi_t_el = line
                    pi_t_ec = ch - 1 if ch >= 1 else 0
                    cursor, line, ch, lcp, _d = _skipws(buf, n, cursor, line, ch)
                    pi_c_sl = line
                    pi_c_sc = ch
                    pi_ch0 = cursor
                    pi_ch1 = 0
                    state = S_PROC_INST_VAL
                break

            # ---------------- PROC_INST_VAL ----------------
            if st == S_PROC_INST_VAL:
                byte = b0
                if byte != 0x3E:
                    k, cursor2, line2, ch2, lcp2, lastb, ne = _tu(buf, n, asc, 0x3E, cursor, line, ch, True
                    )
                    if k == 2:
                        ll, lc = line, ch
                        cursor, line, ch, lcp = cursor2, line2, ch2, lcp2
                        if ne:
                            byte = lastb
                pi_ch1 = cursor
                if byte != 0x3E:
                    break
                state = S_BEGIN_WS
                if ev_pi:
                    tval, _tok = _mat(b"", buf, pi_th0, pi_th1)
                    cval, _cok = _mat(b"", buf, pi_ch0, pi_ch1)
                    tval = tval[2:]
                    cval = cval[: len(cval) - 2] if len(cval) >= 2 else b""
                    append((1, seq, None, None, None, None, None, None,
                            tval, cval, pi_sl, pi_sc, line, ch, pi_t_el, pi_t_ec,
                            pi_c_sl, pi_c_sc, pi_b0, cursor))
                    seq += 1
                break

            # ---------------- JSX ----------------
            if st == S_JSX:
                if b0 == 0x7D:
                    brace_ct -= 1
                elif b0 == 0x7B:
                    brace_ct += 1
                if brace_ct == 0:
                    at[8] = line
                    at[9] = ch - 1 if ch >= 1 else 0
                    at[11] = lcp
                    if ev_attr:
                        nval, nok = _mat(b"", buf, at[4], at[5])
                        vval, vok = _mat(b"", buf, at[10], at[11])
                        if nok or vok:
                            append((6, seq, None, None, nval, vval, at[12], None,
                                    None, None, at[0], at[1], at[8], at[9], at[2], at[3],
                                    at[6], at[7], at[13], cursor))
                            seq += 1
                    at = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
                    state = S_ATTRIB_VAL_CLOSED
                    break
                k, cursor2, line2, ch2, lcp2, lastb, found = _tuof(buf, n, asc, RE_BRACES, b"{}", cursor, line, ch, False
                )
                if k == 2:
                    ll, lc = line, ch
                    cursor, line, ch, lcp = cursor2, line2, ch2, lcp2
                break

            # ---------------- BEGIN (only if BOM handling fell through) --
            if st == S_BEGIN:
                state = S_BEGIN_WS
                continue

            break  # unknown state guard

    # EOF: identity() flush — chunk_offset is now len(data)
    if tx_on:
        # end-of-write hydrate materializes the streamed span first
        if ev_text:
            val, _ok = _mat(tx_val, buf, tx_h0, tx_h1)
            if val:
                rows.append((0, seq, None, val, None, None, None, None, None,
                             None, tx_sl, tx_sc, line, ch, None, None, None, None,
                             tx_b0, n))
                seq += 1
    return rows


def parse_doc_flat(data: bytes, events: int) -> list[tuple]:
    """Fast path with automatic FSM fallback — always correct."""
    rows = parse_doc(data, events)
    if rows is not None:
        return rows
    return parse_events(data, events)
