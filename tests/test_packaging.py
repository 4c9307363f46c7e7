"""Packaging guard: the package's third-party imports are exactly the
runtime dependencies pyproject.toml declares (no Spark needed)."""

import ast
import pathlib
import re
import sys
import tomllib

REPO = pathlib.Path(__file__).resolve().parent.parent


def _third_party_imports() -> set[str]:
    names = set()
    for path in (REPO / "docvision_spark").rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.level == 0:
                mods = [node.module]
            else:
                continue
            names.update(m.split(".")[0] for m in mods)
    return names - set(sys.stdlib_module_names) - {"docvision_spark"}


def test_declared_dependencies_match_imports():
    with open(REPO / "pyproject.toml", "rb") as f:
        deps = tomllib.load(f)["project"]["dependencies"]
    declared = {re.match(r"[A-Za-z0-9_.-]+", d).group(0).lower()
                for d in deps}
    assert _third_party_imports() == declared
