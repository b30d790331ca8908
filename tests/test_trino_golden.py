"""Golden corpus for the Trino text front end (no Spark needed).

Every Trino SQL text the repository already exercises is frozen with
the exact ``rewrite_trino_sql`` output, or the class and message of the
exception it raises. The corpus is collected from:

  - the string arguments of ``rewrite_trino_sql``, ``execute_trino``,
    ``execute(..., dialect="trino")`` and ``create_view(...,
    dialect="trino")``, plus every string constant starting with SELECT
    or WITH, in the Trino-facing test modules (``_SOURCES``);
  - the dialect-surface probe statements of ``test_dialect_surface``;
  - the 22 ``TRINO_TPCH`` texts;
  - every ``TRINO_SQL_*`` constant of ``functions/trino_sql.py``.

The test asserts byte equality against ``trino_golden.json``. Rebuild
the file only when a rewrite is meant to change its output:

    python -m tests.test_trino_golden --write
"""

from __future__ import annotations

import ast
import importlib
import json
import sys
from pathlib import Path

from okera_trino_spark.functions import trino_sql, trino_tpch

_HERE = Path(__file__).resolve().parent
GOLDEN = _HERE / "trino_golden.json"

_SOURCES = ("test_trino_sql", "test_dialect_surface", "test_trino_explain",
            "test_catalog", "test_trino_compat", "test_trino_tpch_suite")

_ARG_CALLS = {"rewrite_trino_sql", "execute_trino"}
_DIALECT_CALLS = {"execute", "create_view"}


def _call_name(node: ast.Call) -> str | None:
    f = node.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _static_str(node: ast.AST, scope: dict) -> str | None:
    """The string value of ``node`` when it is a literal, a literal
    concatenation, or an f-string/name over module-level strings."""
    if not isinstance(node, (ast.Constant, ast.BinOp, ast.JoinedStr,
                             ast.Name)):
        return None
    try:
        val = eval(compile(ast.Expression(node), "<golden>", "eval"),
                   dict(scope))
    except Exception:
        return None
    return val if isinstance(val, str) else None


def _texts_of_module(modname: str) -> set[str]:
    mod = importlib.import_module(f"tests.{modname}")
    tree = ast.parse((_HERE / f"{modname}.py").read_text())
    scope = vars(mod)
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            head = node.value.lstrip().upper()
            if head.startswith(("SELECT", "WITH")):
                out.add(node.value)
        if not isinstance(node, ast.Call):
            continue
        name = _call_name(node)
        trino_kw = any(k.arg == "dialect" and isinstance(k.value, ast.Constant)
                       and k.value.value == "trino" for k in node.keywords)
        if name in _ARG_CALLS or (name in _DIALECT_CALLS and trino_kw):
            for arg in node.args:
                s = _static_str(arg, scope)
                if s is not None:
                    out.add(s)
    return out


def collect() -> list[str]:
    texts: set[str] = set()
    for modname in _SOURCES:
        texts |= _texts_of_module(modname)
    surface = importlib.import_module("tests.test_dialect_surface")
    for expr in surface.SURFACE + surface.AGGREGATES + surface.WINDOWS:
        texts.add(f"SELECT {expr} AS x FROM {surface._FIXTURE}")
    texts |= set(trino_tpch.TRINO_TPCH.values())
    texts |= {v for k, v in vars(trino_sql).items()
              if k.startswith("TRINO_SQL_") and isinstance(v, str)}
    return sorted(texts)


def record(sql: str) -> dict:
    try:
        return {"sql": sql, "out": trino_sql.rewrite_trino_sql(sql)}
    except Exception as exc:   # refusals are part of the contract
        return {"sql": sql, "error": type(exc).__name__,
                "message": str(exc)}


def test_golden_corpus_is_byte_identical():
    cases = json.loads(GOLDEN.read_text())
    bad = [c["sql"] for c in cases if record(c["sql"]) != c]
    assert not bad, (f"{len(bad)} of {len(cases)} golden texts changed; "
                     f"first:\n{bad[0]}")


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python -m tests.test_trino_golden --write")
    recs = [record(s) for s in collect()]
    GOLDEN.write_text(json.dumps(recs, indent=1) + "\n")
    print(f"{len(recs)} texts, "
          f"{sum('error' in r for r in recs)} refused -> {GOLDEN}")
