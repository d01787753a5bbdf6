"""The lake layer has one data-file writer: every DataFrame parquet write
in lake/table.py sits in ``_write_files`` (data files, in the table's
layout), ``_write_delete_file`` (position and equality delete files) or
``write_hot_batch`` (the hot store). A new private writer fails here."""

from __future__ import annotations

import ast
import os

import fluss_iceberg_spark.lake.table as table_module

WRITERS = {"_write_files", "_write_delete_file", "write_hot_batch"}


def _receiver_names(node: ast.AST) -> set[str]:
    """Attribute and function names along a call chain's receiver:
    ``self._writer(df).mode("overwrite")`` → {"mode", "_writer"}."""
    names = set()
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Call):
            node = node.func
            continue
        names.add(node.attr)
        node = node.value
    return names


def _parquet_write_sites(tree: ast.AST) -> list[tuple[str, int]]:
    """(enclosing function, line) of every ``….write….parquet(...)`` or
    ``_writer(...)….parquet(...)`` call; reads (``spark.read``) excluded."""
    sites = []

    def visit(node: ast.AST, fn: str) -> None:
        for child in ast.iter_child_nodes(node):
            name = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "parquet"
                and _receiver_names(child.func.value) & {"write", "_writer"}
            ):
                sites.append((name, child.lineno))
            visit(child, name)

    visit(tree, "<module>")
    return sites


def test_parquet_writes_only_in_the_writer_methods():
    path = table_module.__file__
    with open(path) as f:
        tree = ast.parse(f.read(), filename=os.path.basename(path))
    sites = _parquet_write_sites(tree)
    assert {fn for fn, _ in sites} == WRITERS, sites


def test_guard_sees_both_writer_forms():
    tree = ast.parse(
        "def a(self, df):\n"
        "    self._writer(df).partitionBy('p').mode('overwrite').parquet(out)\n"
        "def b(self, df):\n"
        "    df.coalesce(1).write.mode('overwrite').parquet(out)\n"
        "def c(self):\n"
        "    return self.spark.read.schema(s).parquet(p)\n"
    )
    assert [fn for fn, _ in _parquet_write_sites(tree)] == ["a", "b"]
