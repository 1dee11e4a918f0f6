"""Guard against code nothing runs: every top-level function and class in
``logdag_spark/`` is referenced somewhere in the repo's Python files, and
every ``PipelineConfig`` field is read outside ``config.py`` (directly, as
``.<field>`` or ``<field>=``, or through a config property).  Reference
oracles under ``tests/`` stay on both sides of their line: each
``tests/*_reference.py`` is imported by some test, and no program file
imports anything from ``tests/``.

A reference is an identifier use (a name, an attribute, an import, a
keyword argument) or a string constant equal to the name (registries
and ``getattr`` dispatch); mentions inside docstrings and comments do not
count.  Uses inside the definition itself do not count either, so a
recursive function nothing else calls is still reported.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "logdag_spark"
CONFIG = PACKAGE / "config.py"
TESTS = ROOT / "tests"
PROGRAM = (PACKAGE, ROOT / "perfbench", ROOT / "bench.py", ROOT / "__spark_entry__.py")


def _py_files() -> list[Path]:
    return sorted(
        p
        for p in ROOT.rglob("*.py")
        if not any(
            part.startswith(".") or part == "__pycache__"
            for part in p.relative_to(ROOT).parts
        )
    )


def _trees() -> dict[Path, ast.Module]:
    return {p: ast.parse(p.read_text(), filename=str(p)) for p in _py_files()}


def _references(tree: ast.Module) -> dict[str, list[int]]:
    """identifier -> line numbers where it is used (not defined)."""
    refs: dict[str, list[int]] = defaultdict(list)
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs[node.id].append(node.lineno)
        elif isinstance(node, ast.Attribute):
            refs[node.attr].append(node.lineno)
        elif isinstance(node, ast.alias):
            refs[node.name.rsplit(".", 1)[-1]].append(node.lineno)
        elif isinstance(node, ast.keyword) and node.arg is not None:
            refs[node.arg].append(node.lineno)
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.isidentifier()
            and id(node) not in docstrings
        ):
            refs[node.value].append(node.lineno)
    return refs


def test_every_top_level_name_is_referenced():
    trees = _trees()
    refs = {p: _references(t) for p, t in trees.items()}
    unused = []
    for path, tree in trees.items():
        if not path.is_relative_to(PACKAGE):
            continue
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            own = range(node.lineno, node.end_lineno + 1)
            used = any(
                line not in own or other != path
                for other, r in refs.items()
                for line in r.get(node.name, ())
            )
            if not used:
                unused.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not unused, "top-level definitions nothing references:\n" + "\n".join(
        unused
    )


def test_every_config_field_is_read():
    config = ast.parse(CONFIG.read_text())
    cls = next(
        n
        for n in config.body
        if isinstance(n, ast.ClassDef) and n.name == "PipelineConfig"
    )
    fields = [
        n.target.id
        for n in cls.body
        if isinstance(n, ast.AnnAssign) and isinstance(n.target, ast.Name)
    ]
    assert fields
    read = set()
    for path, tree in _trees().items():
        if path == CONFIG:
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute):
                read.add(node.attr)
            elif isinstance(node, ast.keyword) and node.arg is not None:
                read.add(node.arg)
    # a field read only through a PipelineConfig property (``bin_diff``
    # reads ``ci_bin_diff``) is read wherever that property is
    for member in cls.body:
        if isinstance(member, ast.FunctionDef) and member.name in read:
            read.update(
                n.attr for n in ast.walk(member) if isinstance(n, ast.Attribute)
            )
    unread = [f for f in fields if f not in read]
    assert not unread, f"PipelineConfig fields nothing reads: {unread}"


def _imported_modules(tree: ast.Module) -> set[str]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            out.add(node.module)
    return out


def test_every_reference_oracle_is_imported_by_a_test():
    imported = set()
    for path, tree in _trees().items():
        if path.parent == TESTS and path.name.startswith("test_"):
            imported |= _imported_modules(tree)
    oracles = sorted(p.stem for p in TESTS.glob("*_reference.py"))
    assert oracles
    unused = [m for m in oracles if m not in imported and f"tests.{m}" not in imported]
    assert not unused, f"reference oracles no test imports: {unused}"


def test_program_imports_nothing_from_tests():
    test_modules = {p.stem for p in TESTS.glob("*.py")}
    bad = []
    for path, tree in _trees().items():
        if not any(path == top or path.is_relative_to(top) for top in PROGRAM):
            continue
        for mod in _imported_modules(tree):
            top = mod.split(".", 1)[0]
            if top == "tests" or top in test_modules:
                bad.append(f"{path.relative_to(ROOT)}: {mod}")
    assert not bad, "program files importing from tests/:\n" + "\n".join(bad)
