"""Positions-off fast tokenizer: the extraction-pipeline hot path.

``parse_doc_np(data, events)`` emits the SAME flat event rows as
``fastsax.parse_doc`` (codes, names, values, attribute types,
self-closing flags, BYTE offsets) with every line/character position
field emitted as 0. The boilerplate extractor (operators/extract.py)
reads no positions, so this is the mode it runs in. It is a separate
function, not a flag: a ``positions`` branch at every tracking site
would cost nearly as much as the tracking, while removing the tracking
saves about a quarter of the interpreter work per byte (see
BENCH_BASELINE.md). Invalid UTF-8 returns None, as in fastsax.

The function is derived at import, not written by hand: the source of
``fastsax.parse_doc`` and of its scan helpers ``_tuof``, ``_tu`` and
``_skipws`` goes through one AST transform that applies the position
state fastsax.py declares (``POS_LOCALS``, ``POS_RECORDS``,
``ROW_POS_FIELDS``, ``POS_FUNCS``):

- a store to position state is deleted (its value may call only
  ``POS_FUNCS``, ``buf.count`` and ``buf.rfind``);
- a position read in a row's position field, or in a position slot of
  a record literal, becomes 0;
- an ``if`` left without statements is deleted if its test calls
  nothing;
- each helper becomes ``<name>_np``, without the results that were
  position reads and without the parameters it no longer reads; its
  call sites drop the same arguments and unpacking targets;
- a position name or slot that survives belongs to a statement mixing
  position and byte state: the import raises ``ValueError`` with its
  fastsax.py line.

The compiled code keeps fastsax.py's file name and line numbers, so
tracebacks point at the source. tests/test_fastsax_np.py checks the
rows against ``parse_doc`` and that no position work is left.
"""

from __future__ import annotations

import __future__
import ast
import inspect

from . import fastsax
from .collect import FIELD_NAMES
from .fastsax import parse_doc_flat

_HELPERS = ("_tuof", "_tu", "_skipws")
_PURE_BUF_METHODS = frozenset({"count", "rfind"})


def _error(node: ast.AST, msg: str) -> ValueError:
    return ValueError(f"line {node.lineno}: {msg}: {ast.unparse(node)}")


def _pure(node: ast.AST) -> bool:
    """No side effects: calls only to position helpers or ``buf`` scans."""
    for n in ast.walk(node):
        if isinstance(n, ast.Call):
            f = n.func
            if isinstance(f, ast.Name) and f.id in fastsax.POS_FUNCS:
                continue
            if (
                isinstance(f, ast.Attribute)
                and f.attr in _PURE_BUF_METHODS
                and isinstance(f.value, ast.Name)
                and f.value.id == "buf"
            ):
                continue
            return False
        if isinstance(n, (ast.NamedExpr, ast.Yield, ast.YieldFrom, ast.Await)):
            return False
    return True


def _pos_slot(node: ast.AST) -> bool:
    """``rec[k]`` where k is a position slot of record ``rec``."""
    if not (
        isinstance(node, ast.Subscript)
        and isinstance(node.value, ast.Name)
        and node.value.id in fastsax.POS_RECORDS
    ):
        return False
    k = node.slice
    if not (isinstance(k, ast.Constant) and type(k.value) is int):
        raise _error(node, "record indexed by a non-constant")
    return k.value in fastsax.POS_RECORDS[node.value.id]


def _is_pos(node: ast.AST) -> bool:
    return (isinstance(node, ast.Name) and node.id in fastsax.POS_LOCALS) or _pos_slot(node)


def _reads_pos(node: ast.AST) -> bool:
    return any(_is_pos(n) for n in ast.walk(node))


def _zero_pos(elts: list, slots) -> list:
    """Position-only elements at ``slots`` become the constant 0."""
    return [
        ast.copy_location(ast.Constant(0), e)
        if i in slots and _reads_pos(e) and _pure(e)
        else e
        for i, e in enumerate(elts)
    ]


class _StripPositions(ast.NodeTransformer):
    """Rewrites one fastsax function into its positions-off twin."""

    def __init__(self, twins: dict, helper: bool):
        # helper name -> (twin name, dropped params, n results, dropped results)
        self.twins = twins
        self.helper = helper
        self.n_results = None
        self.dropped_results = None

    def _drop(self, node):
        if not _pure(node.value):
            raise _error(node, "position store with side effects")
        return None

    def visit_Assign(self, node):
        target, value = node.targets[0], node.value
        if all(map(_is_pos, node.targets)):
            return self._drop(node)
        if isinstance(target, ast.Tuple):
            return self._split(node, target, value)
        if isinstance(target, ast.Name) and isinstance(value, ast.List):
            slots = fastsax.POS_RECORDS.get(target.id, ())
            value.elts = _zero_pos(value.elts, slots)
        return self.generic_visit(node)

    def _split(self, node, target, value):
        """Tuple stores: drop the position targets (and their values)."""
        if isinstance(value, ast.Call) and getattr(value.func, "id", None) in self.twins:
            twin, params, n_results, dropped = self.twins[value.func.id]
            if len(target.elts) != n_results or any(
                (i in dropped) != _is_pos(t) for i, t in enumerate(target.elts)
            ):
                raise _error(node, "helper results unpacked into other state")
            if not all(_pure(value.args[i]) for i in params):
                raise _error(node, "dropped helper argument has side effects")
            target.elts = [t for i, t in enumerate(target.elts) if i not in dropped]
            value.args = [a for i, a in enumerate(value.args) if i not in params]
            value.func.id = twin
            return self.generic_visit(node)
        if isinstance(value, ast.Tuple) and len(value.elts) == len(target.elts):
            kept = []
            for t, v in zip(target.elts, value.elts):
                if not _is_pos(t):
                    kept.append((t, v))
                elif not _pure(v):
                    raise _error(node, "position store with side effects")
            if not kept:
                return None
            target.elts, value.elts = map(list, zip(*kept))
        elif all(map(_is_pos, target.elts)):
            return self._drop(node)
        return self.generic_visit(node)

    def visit_AugAssign(self, node):
        if _is_pos(node.target):
            return self._drop(node)
        return self.generic_visit(node)

    def visit_Tuple(self, node):
        if len(node.elts) == len(FIELD_NAMES):  # an event row
            node.elts = _zero_pos(node.elts, fastsax.ROW_POS_FIELDS)
        return self.generic_visit(node)

    def visit_If(self, node):
        self.generic_visit(node)
        if not node.body and not node.orelse and _pure(node.test):
            return None
        if not node.body:
            node.body = [ast.copy_location(ast.Pass(), node)]
        return node

    def visit_Return(self, node):
        if not self.helper:
            return self.generic_visit(node)
        if not isinstance(node.value, ast.Tuple):
            raise _error(node, "helper must return a tuple")
        elts = node.value.elts
        dropped = frozenset(i for i, e in enumerate(elts) if _reads_pos(e))
        if self.n_results is None:
            self.n_results, self.dropped_results = len(elts), dropped
        elif (len(elts), dropped) != (self.n_results, self.dropped_results):
            raise _error(node, "returns drop different position results")
        if not all(_pure(elts[i]) for i in dropped):
            raise _error(node, "dropped result has side effects")
        node.value.elts = [e for i, e in enumerate(elts) if i not in dropped]
        return self.generic_visit(node)


def _derive_function(func, twins: dict, helper: bool) -> ast.FunctionDef:
    """AST of ``func`` without its position work; a ``helper`` registers
    its twin in ``twins`` for the call sites derived after it."""
    lines, first = inspect.getsourcelines(func)
    fn = ast.parse("".join(lines)).body[0]
    ast.increment_lineno(fn, first - 1)
    if ast.get_docstring(fn) is not None:
        del fn.body[0]
    strip = _StripPositions(twins, helper)
    try:
        fn.body = [s for s in map(strip.visit, fn.body) if s is not None]
        for n in ast.walk(fn):
            if (
                isinstance(n, ast.Name)
                and (n.id in fastsax.POS_LOCALS or n.id in fastsax.POS_FUNCS)
            ) or _pos_slot(n):
                raise _error(n, "position state mixed with byte state")
    except ValueError as e:
        raise ValueError(f"cannot derive {func.__module__}.{func.__name__}: {e}") from None
    fn.body.insert(0, ast.Expr(ast.Constant(
        f"{func.__name__} with its position work removed (derived at import)."
    )))
    fn.name = f"{func.__name__}_np"
    if helper:
        used = {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)}
        params = [i for i, a in enumerate(fn.args.args) if a.arg not in used]
        fn.args.args = [a for i, a in enumerate(fn.args.args) if i not in params]
        twins[func.__name__] = (fn.name, params, strip.n_results, strip.dropped_results)
    return fn


def _derive():
    twins: dict = {}
    body = [_derive_function(getattr(fastsax, h), twins, helper=True) for h in _HELPERS]
    body.append(_derive_function(fastsax.parse_doc, twins, helper=False))
    module = ast.fix_missing_locations(ast.Module(body=body, type_ignores=[]))
    code = compile(
        module, fastsax.__file__, "exec",
        flags=__future__.annotations.compiler_flag, dont_inherit=True,
    )
    ns = dict(vars(fastsax), __name__=__name__)
    exec(code, ns)  # noqa: S102 — code derived above from fastsax's own source
    return tuple(ns[f.name] for f in body)


_tuof_np, _tu_np, _skipws_np, parse_doc_np = _derive()


def parse_doc_flat_np(data: bytes, events: int) -> list[tuple]:
    """Positions-off fast path with automatic FSM fallback (the FSM
    rows carry real positions — a superset; consumers of this entry
    point must not rely on position fields either way)."""
    rows = parse_doc_np(data, events)
    if rows is not None:
        return rows
    return parse_doc_flat(data, events)
