"""The command-line instruments stay importable and their docs stay
true: every script under ``scripts/`` and ``bench.py`` imports by path
with ``main`` behind the ``__main__`` guard, and every
``scripts/<name>.py`` the docs or the code name exists. No Spark
session is started."""

from __future__ import annotations

import ast
import importlib.util
import os
import pathlib
import re
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]
SCRIPTS = sorted((REPO / "scripts").glob("*.py")) + [REPO / "bench.py"]
#: docs that name scripts; round records (VERDICT, SURVEY, CHANGES,
#: ROADMAP) are history and out of scope
DOCS = [
    REPO / "README.md",
    *sorted(REPO.glob(".*/skills/*/SKILL.md")),
    REPO / "perfbench" / "README.md",
    *sorted((REPO / "BENCH").glob("*.md")),
]
SCRIPT_REF = re.compile(r"scripts/([A-Za-z0-9_]+)\.py")


def _is_main_guard(node: ast.stmt) -> bool:
    return (
        isinstance(node, ast.If)
        and isinstance(node.test, ast.Compare)
        and isinstance(node.test.left, ast.Name)
        and node.test.left.id == "__name__"
        and any(isinstance(c, ast.Constant) and c.value == "__main__"
                for c in node.test.comparators)
    )


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_imports_with_guarded_main(path, monkeypatch):
    tree = ast.parse(path.read_text())
    body = tree.body
    assert any(isinstance(n, ast.FunctionDef) and n.name == "main" for n in body)
    assert any(_is_main_guard(n) for n in body), "no __main__ guard"
    # checked before importing: an unguarded main would start a session
    called = {
        c.func.id
        for n in body if not _is_main_guard(n)
        for c in ast.walk(n)
        if isinstance(c, ast.Call) and isinstance(c.func, ast.Name)
    }
    assert "main" not in called, "main() runs at import"

    monkeypatch.chdir(REPO)
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location(f"_script_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(mod.main)


def _py_files():
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".")
                   and d not in ("__pycache__", "spark-warehouse")]
        yield from (pathlib.Path(root) / f for f in files if f.endswith(".py"))


def test_named_scripts_exist():
    missing = sorted({
        f"{src.relative_to(REPO)}: scripts/{name}.py"
        for src in [*DOCS, *_py_files()]
        for name in SCRIPT_REF.findall(src.read_text())
        if not (REPO / "scripts" / f"{name}.py").exists()
    })
    assert not missing, "docs or code name missing scripts:\n" + "\n".join(missing)
