"""Source guard: every Python stage under ``sax_wasm_spark/`` goes through
``operators/rows.map_rows``. ``mapInPandas`` is not called at all, and
``mapInArrow`` only by the primitive itself."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "sax_wasm_spark"

MAP_IN_ARROW_ALLOWED = [("operators/rows.py", "map_rows")]


def _batch_map_calls():
    """(relative path, top-level function, method) per mapIn* call."""
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for top in tree.body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("mapInPandas", "mapInArrow")
                ):
                    yield rel, owner, node.func.attr


def test_no_map_in_pandas():
    found = [c for c in _batch_map_calls() if c[2] == "mapInPandas"]
    assert found == [], found


def test_map_in_arrow_only_in_map_rows():
    found = [c[:2] for c in _batch_map_calls() if c[2] == "mapInArrow"]
    assert found == MAP_IN_ARROW_ALLOWED, found
