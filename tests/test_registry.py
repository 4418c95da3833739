"""Registry hygiene: the driver-facing queries()/oracle_sql() dicts.

A duplicate string key in a dict literal is silent in Python (last one
wins), which once shipped a doubled ``sumsweep_ecc_backward`` entry —
this pins the source literal itself, not just the runtime dict.
"""

import ast
import pathlib

ENTRY = pathlib.Path(__file__).resolve().parent.parent / "__spark_entry__.py"


def _literal_str_keys(func_name: str) -> list[str]:
    tree = ast.parse(ENTRY.read_text())
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == func_name:
            return [
                k.value
                for d in ast.walk(node)
                if isinstance(d, ast.Dict)
                for k in d.keys
                if isinstance(k, ast.Constant) and isinstance(k.value, str)
            ]
    raise AssertionError(f"{func_name} not found in {ENTRY}")


def test_queries_literal_keys_unique():
    keys = _literal_str_keys("queries")
    dupes = sorted({k for k in keys if keys.count(k) > 1})
    assert not dupes, f"duplicate keys in queries() literal: {dupes}"


def test_oracle_sql_literal_keys_unique():
    keys = _literal_str_keys("oracle_sql")
    dupes = sorted({k for k in keys if keys.count(k) > 1})
    assert not dupes, f"duplicate keys in oracle_sql() literal: {dupes}"


def test_every_query_runs_or_is_documented():
    # every oracle_sql key must be a queries() key (dangling SQL would
    # never be compared by the driver)
    import importlib.util

    spec = importlib.util.spec_from_file_location("_entry", ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    q = set(mod.queries().keys())
    o = set(mod.oracle_sql().keys())
    assert o <= q, f"oracle_sql keys without a query: {sorted(o - q)}"
    # and the weak-gate set (queries with no oracle at all, which the
    # driver only rows-checks) must stay EMPTY — every query gets a
    # value-hash-compared oracle (VERDICT r4 item 8)
    assert q <= o, f"queries without an oracle_sql entry: {sorted(q - o)}"
