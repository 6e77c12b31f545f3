"""No handler in the engine may swallow every exception silently: a bare
``except``, ``except Exception`` or ``except BaseException`` whose body is
only ``pass`` hides failures whose effect the docs claim. Catch-all
handlers that log, assign a fallback or return an error row stay legal."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "maxx_spark"
CATCH_ALL = {"Exception", "BaseException"}


def _catches_all(handler: ast.ExceptHandler) -> bool:
    t = handler.type
    names = t.elts if isinstance(t, ast.Tuple) else [t]
    return t is None or any(isinstance(n, ast.Name) and n.id in CATCH_ALL for n in names)


def test_no_catch_all_pass_handlers():
    sources = sorted(PKG.rglob("*.py"))
    assert sources
    offenders = [
        f"{path.relative_to(PKG.parent)}:{node.lineno}"
        for path in sources
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, ast.ExceptHandler)
        and _catches_all(node)
        and all(isinstance(stmt, ast.Pass) for stmt in node.body)
    ]
    assert offenders == []
