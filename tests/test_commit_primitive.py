"""Every versioned sink commits through streaming/store.py: no other
module of the package may call os.replace (the manifest repoint) or
os.rename (a commit-by-rename swap), nor write the fold's manifest
keys, so a hand-rolled copy of the commit protocol or of the delta-log
fold cannot come back unnoticed."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "postgres_es_cdc_spark")
STORE = os.path.join(PKG, "streaming", "store.py")


def _calls(path: str, names=("replace", "rename", "renames")) -> list:
    """Lines of ``path`` that reach ``os.<name>`` for any of ``names``."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    hits = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute) and node.attr in names
                and isinstance(node.value, ast.Name)
                and node.value.id == "os"):
            hits.append(node.lineno)
        if (isinstance(node, ast.ImportFrom) and node.module == "os"
                and any(a.name in names for a in node.names)):
            hits.append(node.lineno)
    return hits


def test_only_the_store_calls_os_replace():
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if name.endswith(".py") and path != STORE:
                offenders += [f"{os.path.relpath(path, PKG)}:{line}"
                              for line in _calls(path)]
    assert offenders == [], offenders
    assert _calls(STORE, ("replace",)), "the store itself must commit"


FOLD_KEYS = ("compact_gen", "tombstones")


def _fold_keys(path: str) -> list:
    """Lines of ``path`` that use a fold manifest key as a dict-literal
    key or a subscript."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    keys = [k for node in ast.walk(tree) if isinstance(node, ast.Dict)
            for k in node.keys]
    keys += [node.slice for node in ast.walk(tree)
             if isinstance(node, ast.Subscript)]
    return [k.lineno for k in keys
            if isinstance(k, ast.Constant) and k.value in FOLD_KEYS]


def test_only_the_store_folds_delta_logs():
    """``compact_gen`` and ``tombstones`` are written by the store's one
    fold (and read back by its vacuum): a sink that names them keeps a
    second fold."""
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if name.endswith(".py") and path != STORE:
                offenders += [f"{os.path.relpath(path, PKG)}:{line}"
                              for line in _fold_keys(path)]
    assert offenders == [], offenders
    assert _fold_keys(STORE), "the store itself must fold"
