"""Session confs change only inside ``operators.util.session_conf``, which
puts every key back on every exit path. Apart from it, the package sets
one conf: the deliberately session-wide
``spark.sql.legacy.parquet.nanosAsLong`` of the testdata loader
(sources/tpch.py). A new ``.conf.set(`` anywhere else fails here."""

from __future__ import annotations

import ast
import os

import pytest

import fluss_iceberg_spark
from fluss_iceberg_spark.operators.util import session_conf

SESSION_WIDE = {"spark.sql.legacy.parquet.nanosAsLong"}
PACKAGE = os.path.dirname(fluss_iceberg_spark.__file__)


def test_session_conf_restores_after_an_exception(spark):
    key_set = "spark.sql.shuffle.partitions"  # set by the test session
    key_unset = "spark.fluss.test.session-conf"  # set by nobody
    before = spark.conf.get(key_set)
    with pytest.raises(RuntimeError, match="source"):
        with session_conf(spark, {key_set: 3, key_unset: "on"}):
            assert spark.conf.get(key_set) == "3"
            assert spark.conf.get(key_unset) == "on"
            raise RuntimeError("source preparation failed")
    assert spark.conf.get(key_set) == before
    assert spark.conf.get(key_unset, None) is None


def _conf_set_sites(tree: ast.AST) -> list[tuple[str, int, object]]:
    """(enclosing function, line, first argument if a literal) of every
    ``….conf.set(...)`` / ``….conf.unset(...)`` call."""
    sites = []

    def visit(node: ast.AST, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("set", "unset")
                and isinstance(child.func.value, ast.Attribute)
                and child.func.value.attr == "conf"
            ):
                arg = child.args[0] if child.args else None
                key = arg.value if isinstance(arg, ast.Constant) else None
                sites.append((name, child.lineno, key))
            visit(child, name)

    visit(tree, "<module>")
    return sites


def test_conf_sets_only_in_session_conf():
    stray = []
    for root, _, files in os.walk(PACKAGE):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path) as f:
                tree = ast.parse(f.read(), filename=path)
            for fn, line, key in _conf_set_sites(tree):
                if fn != "session_conf" and key not in SESSION_WIDE:
                    stray.append(f"{os.path.relpath(path, PACKAGE)}:{line} {fn}")
    assert not stray, stray


def test_guard_sees_conf_set_forms():
    tree = ast.parse(
        "def a(spark):\n"
        "    spark.conf.set('spark.sql.shuffle.partitions', '8')\n"
        "def b(self):\n"
        "    self.spark.conf.unset('k')\n"
        "def c(spark):\n"
        "    spark.conf.set('spark.sql.legacy.parquet.nanosAsLong', 'true')\n"
        "def d(spark):\n"
        "    return spark.conf.get('k')\n"
    )
    assert [(fn, key) for fn, _, key in _conf_set_sites(tree)] == [
        ("a", "spark.sql.shuffle.partitions"),
        ("b", "k"),
        ("c", "spark.sql.legacy.parquet.nanosAsLong"),
    ]
