"""The scripts outside the package (tools/, the bench drivers, the
packager) are run by hand, never imported by a test, so an operator
deleted from the package would only surface when someone next runs the
script. This walks their syntax trees, imports included when nested in
functions, and checks every name they take from ``kryptone_spark``
still resolves. No Spark session is started."""

import ast
import importlib
import pathlib
import types

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [*ROOT.glob("tools/*.py")]
    + [ROOT / f for f in ("bench.py", "bench_scaling.py", "package.py")]
)


_MISSING = object()


def _lookup(module: str, name: str):
    """What ``from module import name`` binds, or _MISSING."""
    obj = getattr(importlib.import_module(module), name, _MISSING)
    if obj is _MISSING:
        try:
            obj = importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            pass
    return obj


def _unresolved(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text(), str(path))
    missing = []
    # local names bound to kryptone_spark modules → their module object,
    # so `seen_ops.some_function` is checked like a from-import
    module_aliases = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            if node.level or not (node.module or "").startswith("kryptone_spark"):
                continue
            for a in node.names:
                obj = _lookup(node.module, a.name)
                if obj is _MISSING:
                    missing.append(f"{node.lineno}: {node.module}.{a.name}")
                elif isinstance(obj, types.ModuleType):
                    module_aliases[a.asname or a.name] = obj
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("kryptone_spark"):
                    try:
                        mod = importlib.import_module(a.name)
                    except ModuleNotFoundError:
                        missing.append(f"{node.lineno}: {a.name}")
                        continue
                    if a.asname:
                        module_aliases[a.asname] = mod
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in module_aliases
            and not hasattr(module_aliases[node.value.id], node.attr)
        ):
            missing.append(f"{node.lineno}: {node.value.id}.{node.attr}")
    return missing


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_imports_resolve(path):
    missing = _unresolved(path)
    assert not missing, missing


def test_checker_catches_a_missing_name(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text(
        "def main():\n"
        "    from kryptone_spark.operators import seen as S\n"
        "    from kryptone_spark.operators.seen import no_such_probe\n"
        "    return S.no_such_builder\n"
    )
    assert _unresolved(bad) == [
        "3: kryptone_spark.operators.seen.no_such_probe",
        "4: S.no_such_builder",
    ]
