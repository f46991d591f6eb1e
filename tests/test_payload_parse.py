"""A JSON payload is parsed in one place, ``cdc/envelope.py``
(``payload_map``): no other module of the package may call
``from_json`` on the ``payload`` column, so a second parse — or a JSON
re-parse of the decoder's map — cannot come back unnoticed."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "postgres_es_cdc_spark")
ENVELOPE = os.path.join(PKG, "cdc", "envelope.py")


def _is_payload(node) -> bool:
    """``"payload"`` or ``col("payload")`` / ``F.col("payload")``."""
    if isinstance(node, ast.Call) and len(node.args) == 1:
        f = node.func
        if (isinstance(f, ast.Name) and f.id == "col") or (
                isinstance(f, ast.Attribute) and f.attr == "col"):
            node = node.args[0]
    return isinstance(node, ast.Constant) and node.value == "payload"


def _payload_parses(path: str) -> list:
    """Lines of ``path`` that call ``from_json`` on the payload column."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    return [node.lineno for node in ast.walk(tree)
            if isinstance(node, ast.Call) and node.args
            and ((isinstance(node.func, ast.Name)
                  and node.func.id == "from_json")
                 or (isinstance(node.func, ast.Attribute)
                     and node.func.attr == "from_json"))
            and _is_payload(node.args[0])]


def test_only_the_envelope_parses_payload_json():
    offenders = []
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            if name.endswith(".py") and path != ENVELOPE:
                offenders += [f"{os.path.relpath(path, PKG)}:{line}"
                              for line in _payload_parses(path)]
    assert offenders == [], offenders
    assert _payload_parses(ENVELOPE), "the envelope itself must parse"
