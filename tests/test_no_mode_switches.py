"""One code path per operator decision: no engine function may take a
string-valued mode parameter (a string default) and compare it with a
string literal to pick between code paths. A second path stays only where
the code selects it from something it observes (input size, runtime
counts), never from a caller-set mode string. The allow-list holds the one
mode a test uses as its reference semantics."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "maxx_spark"
# quality_stratify(method="ntile") is the reference its test compares the
# scalable "ranked" form against
ALLOWED = {"quality_stratify.method"}


def _is_str(node: ast.AST) -> bool:
    if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
        return bool(node.elts) and all(_is_str(e) for e in node.elts)
    return isinstance(node, ast.Constant) and isinstance(node.value, str)


def _string_mode_params(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> set[str]:
    args = fn.args
    positional = args.posonlyargs + args.args
    pairs = list(zip(positional[len(positional) - len(args.defaults):], args.defaults))
    pairs += [(a, d) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None]
    return {a.arg for a, d in pairs if _is_str(d)}


def _compared_with_literal(fn: ast.AST, params: set[str]) -> set[str]:
    hits = set()
    for node in ast.walk(fn):
        if not isinstance(node, ast.Compare):
            continue
        operands = [node.left, *node.comparators]
        names = {o.id for o in operands if isinstance(o, ast.Name) and o.id in params}
        if names and any(_is_str(o) for o in operands):
            hits |= names
    return hits


def mode_switches() -> list[str]:
    found = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for p in sorted(_compared_with_literal(fn, _string_mode_params(fn))):
                    found.append(f"{fn.name}.{p}")
    return found


def test_no_string_mode_switches():
    sources = sorted(PKG.rglob("*.py"))
    assert sources
    assert [m for m in mode_switches() if m not in ALLOWED] == []

