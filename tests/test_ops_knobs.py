"""Knob drift guard: every EMAP_* environment variable the engine reads
is documented in the README's "Ops knobs" table, every documented knob
is still read, and each documented default is the code's literal
default. Pure source inspection — no Spark."""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _is_environ(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_reads() -> dict[str, set]:
    """EMAP_* name -> set of literal defaults (None: read without one)
    over every os.environ.get / os.getenv / os.environ[...] read."""
    reads: dict[str, set] = {}
    for dirpath, _, files in os.walk(os.path.join(REPO, "emap_spark")):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            with open(os.path.join(dirpath, fn)) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                name = default = None
                if isinstance(node, ast.Call) and node.args:
                    f = node.func
                    if isinstance(f, ast.Attribute) and (
                        (f.attr == "get" and _is_environ(f.value))
                        or (f.attr == "getenv" and isinstance(f.value, ast.Name)
                            and f.value.id == "os")
                    ):
                        name = node.args[0]
                        if len(node.args) > 1:
                            default = node.args[1]
                elif isinstance(node, ast.Subscript) and _is_environ(node.value):
                    name = node.slice
                if not (isinstance(name, ast.Constant) and isinstance(name.value, str)):
                    continue
                if not name.value.startswith("EMAP_"):
                    continue
                reads.setdefault(name.value, set()).add(
                    default.value if isinstance(default, ast.Constant) else default
                )
    return reads


def _readme_knobs() -> dict[str, str]:
    with open(os.path.join(REPO, "README.md")) as fh:
        text = fh.read()
    section = text.split("## Ops knobs (env)", 1)[1]
    table = section.split("\n\n", 2)[1]  # the first table after the heading
    rows = {}
    for line in table.splitlines():
        m = re.match(r"\|\s*`(EMAP_[A-Z0-9_]+)`\s*\|\s*([^|]*?)\s*\|", line)
        if m:
            rows[m.group(1)] = m.group(2).strip("`")
    return rows


def test_every_engine_knob_is_documented_with_its_default():
    reads = _env_reads()
    documented = _readme_knobs()
    assert set(reads) == set(documented), (
        f"read but undocumented: {sorted(set(reads) - set(documented))}; "
        f"documented but never read: {sorted(set(documented) - set(reads))}"
    )
    for name, defaults in reads.items():
        assert len(defaults) == 1, f"{name} read with different defaults: {defaults}"
        (default,) = defaults
        assert isinstance(default, str), f"{name}: default is not a string literal"
        assert default == documented[name], (
            f"{name}: code default {default!r}, README says {documented[name]!r}"
        )


def test_engine_reads_only_the_settled_knobs():
    assert set(_env_reads()) == {
        "EMAP_BATCH_AQE",
        "EMAP_CODEGEN_CACHE",
        "EMAP_FOLD_ROWS_PER_TASK",
        "EMAP_STAGE_DEDUP",
    }
