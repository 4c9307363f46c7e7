"""Packaging guard: the package's third-party imports are exactly the
runtime dependencies pyproject.toml declares (no Spark needed)."""

import ast
import pathlib
import re
import sys
import tomllib
from collections import Counter

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


def _floor() -> tuple[int, int]:
    with open(REPO / "pyproject.toml", "rb") as f:
        spec = tomllib.load(f)["project"]["requires-python"]
    major, minor = re.fullmatch(r">=\s*(\d+)\.(\d+)", spec).groups()
    return int(major), int(minor)


def _newer_regex_syntax(pattern) -> list[str]:
    """Names of 3.11-only constructs (atomic groups, possessive
    quantifiers) in one regex source."""
    import re._constants as C
    import re._parser as P

    def walk(node):
        if isinstance(node, P.SubPattern):
            node = node.data
        if isinstance(node, (list, tuple)):
            for item in node:
                yield from walk(item)
        elif node is C.ATOMIC_GROUP or node is C.POSSESSIVE_REPEAT:
            yield str(node)

    return list(walk(P.parse(pattern)))


def test_source_runs_on_the_declared_python_floor():
    """Every module parses with the grammar of the oldest Python that
    pyproject.toml admits, and no literal regex uses syntax `re` gained
    later: one such pattern fails at import on the floor version."""
    floor = _floor()
    assert floor == (3, 10)  # the regex check below knows 3.11's additions
    bad = []
    for path in (REPO / "docvision_spark").rglob("*.py"):
        tree = ast.parse(path.read_text(), str(path), feature_version=floor)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "re" and node.args
                    and isinstance(node.args[0], ast.Constant)
                    and isinstance(node.args[0].value, (str, bytes))):
                hits = _newer_regex_syntax(node.args[0].value)
                if hits:
                    bad.append((path.name, node.lineno, hits))
    assert not bad


def _python_sources():
    for top in ("docvision_spark", "jobs", "scripts", "perfbench", "tests"):
        yield from sorted((REPO / top).rglob("*.py"))
    yield REPO / "bench.py"
    yield REPO / "__spark_entry__.py"


def _uses(tree: ast.AST) -> Counter:
    """How often each identifier is read in a tree: loaded names,
    attribute names and imported names."""
    out = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            out[node.id] += 1
        elif isinstance(node, ast.Attribute):
            out[node.attr] += 1
        elif isinstance(node, ast.alias):
            out[node.name.rsplit(".", 1)[-1]] += 1
    return out


def _module_level_names(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                for n in ast.walk(target):
                    if isinstance(n, ast.Name):
                        yield n.id, node


def test_no_unreferenced_module_level_names():
    """Every module-level function, class and assigned name in the package
    (dunders aside) is used somewhere in the repo's Python outside its own
    definition. Matching is by identifier, so a dead name that shares its
    spelling with a live one elsewhere is not caught."""
    uses = Counter()
    defined = []
    for path in _python_sources():
        tree = ast.parse(path.read_text(), str(path))
        uses += _uses(tree)
        if path.is_relative_to(REPO / "docvision_spark"):
            rel = path.relative_to(REPO)
            defined += [(f"{rel}:{name}", name, node)
                        for name, node in _module_level_names(tree)]
    dead = [where for where, name, node in defined
            if not (name.startswith("__") and name.endswith("__"))
            and uses[name] <= _uses(node)[name]]
    assert not dead
