"""The scripts outside the package (tools/, the bench drivers, the
packager) are run by hand, never imported by a test, so an operator
deleted from the package would only surface when someone next runs the
script. This walks their syntax trees, imports included when nested in
functions, and checks every name they take from ``kryptone_spark``
still resolves, and that every keyword they pass to ``WaveRunner`` or
``run_crawl_ingest`` is still a parameter. No Spark session is
started."""

import ast
import importlib
import inspect
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


KWARG_SCRIPTS = SCRIPTS + [ROOT / "__spark_entry__.py"]


def _entry_params() -> dict[str, set[str]]:
    from kryptone_spark.plans.waves import WaveRunner
    from kryptone_spark.streaming.ingest import run_crawl_ingest

    return {
        "WaveRunner": set(inspect.signature(WaveRunner.__init__).parameters),
        "run_crawl_ingest": set(inspect.signature(run_crawl_ingest).parameters),
    }


def _sources(path: pathlib.Path) -> list[str]:
    """The script, plus each module-level string constant that is
    itself a Python program (package.py's generated submit script)."""
    text = path.read_text()
    out = [text]
    for node in ast.parse(text, str(path)).body:
        if (
            isinstance(node, ast.Assign)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            try:
                ast.parse(node.value.value)
            except SyntaxError:
                continue
            out.append(node.value.value)
    return out


def _stale_kwargs(source: str) -> list[str]:
    params = _entry_params()
    stale = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name in params:
            stale += [
                f"{node.lineno}: {name}({k.arg}=)"
                for k in node.keywords
                if k.arg is not None and k.arg not in params[name]
            ]
    return stale


@pytest.mark.parametrize("path", KWARG_SCRIPTS, ids=lambda p: p.name)
def test_script_entry_kwargs_are_parameters(path):
    stale = [s for src in _sources(path) for s in _stale_kwargs(src)]
    assert not stale, stale


def test_kwarg_checker_catches_a_removed_knob(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text(
        'SCRIPT = """\n'
        "runner = waves.WaveRunner(spark, cfg, docs, io, no_such_knob=1)\n"
        '"""\n'
        "q = run_crawl_ingest(s, d, c, io, ckpt, no_such_option=2)\n"
    )
    assert sorted(s for src in _sources(bad) for s in _stale_kwargs(src)) == [
        "2: WaveRunner(no_such_knob=)",
        "4: run_crawl_ingest(no_such_option=)",
    ]


SESSION_SCRIPTS = SCRIPTS + [ROOT / "tests" / "conftest.py"]


def _sessions_without_recipe(source: str) -> list[str]:
    """Line of every ``SparkSession.builder ... .getOrCreate()`` chain
    that does not apply ``config(map=CODEGEN_CONF)``: the codegen cache
    size is static, so it must ride the builder itself (a session from
    ``kryptone_spark.session.get_spark`` carries it already)."""
    bad = []
    for node in ast.walk(ast.parse(source)):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "getOrCreate"
        ):
            continue
        applied, cur = False, node.func.value
        while isinstance(cur, (ast.Call, ast.Attribute)):
            if isinstance(cur, ast.Call):
                f = cur.func
                if getattr(f, "attr", None) == "config" and any(
                    k.arg == "map"
                    and isinstance(k.value, ast.Name)
                    and k.value.id == "CODEGEN_CONF"
                    for k in cur.keywords
                ):
                    applied = True
                cur = f
            cur = cur.value if isinstance(cur, ast.Attribute) else cur
        if not applied:
            bad.append(f"{node.lineno}: session built without CODEGEN_CONF")
    return bad


@pytest.mark.parametrize("path", SESSION_SCRIPTS, ids=lambda p: p.name)
def test_script_sessions_apply_codegen_recipe(path):
    bad = [s for src in _sources(path) for s in _sessions_without_recipe(src)]
    assert not bad, bad


def test_recipe_checker_catches_a_bare_builder(tmp_path):
    bad = tmp_path / "bad.py"
    bad.write_text(
        'WORKER = """\n'
        "s = SparkSession.builder.master('local[2]').getOrCreate()\n"
        '"""\n'
        "t = (SparkSession.builder.config('a', 'b')\n"
        "     .config(map=CODEGEN_CONF).getOrCreate())\n"
        "u = SparkSession.builder.config(map={}).getOrCreate()\n"
    )
    assert sorted(s for src in _sources(bad) for s in _sessions_without_recipe(src)) == [
        "2: session built without CODEGEN_CONF",
        "6: session built without CODEGEN_CONF",
    ]
