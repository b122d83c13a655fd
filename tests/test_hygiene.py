"""Static hygiene checks over the package — no Spark session needed."""

import importlib
import inspect
import pkgutil
import typing

import traildb_spark


def _functions():
    """(qualified name, function) for every module-level function and
    every method defined in a ``traildb_spark`` module."""
    for info in pkgutil.walk_packages(traildb_spark.__path__, "traildb_spark."):
        mod = importlib.import_module(info.name)
        for name, obj in vars(mod).items():
            if getattr(obj, "__module__", None) != mod.__name__:
                continue  # imported, checked where it is defined
            if inspect.isfunction(obj):
                yield f"{mod.__name__}.{name}", obj
            elif inspect.isclass(obj):
                for attr, member in vars(obj).items():
                    if isinstance(member, (staticmethod, classmethod)):
                        member = member.__func__
                    elif isinstance(member, property):
                        member = member.fget
                    if inspect.isfunction(member):
                        yield f"{mod.__name__}.{name}.{attr}", member


def test_every_annotation_resolves():
    """``from __future__ import annotations`` turns annotations into
    strings that only fail when something resolves them (``get_type_hints``,
    pydantic, pandas_udf type inference): a name used in an annotation but
    never imported must fail here instead."""
    failures = []
    n = 0
    for qualname, fn in _functions():
        n += 1
        try:
            typing.get_type_hints(fn)
        except Exception as e:  # noqa: BLE001 — report every failure at once
            failures.append(f"{qualname}: {type(e).__name__}: {e}")
    assert n > 100, n
    assert not failures, "\n".join(failures)


def test_every_vectorized_kernel_has_a_caller():
    """Each top-level def in ``functions/vectorized.py`` must be reached
    from the program — the package, ``__spark_entry__.py``, ``bench.py``,
    ``perfbench/`` or ``tools/`` — not only from tests. A kernel that only
    its own test calls is a second implementation nobody runs."""
    import ast
    from pathlib import Path

    root = Path(traildb_spark.__file__).resolve().parent.parent
    sources = [
        *(root / "traildb_spark").rglob("*.py"),
        root / "__spark_entry__.py",
        root / "bench.py",
        *(root / "perfbench").rglob("*.py"),
        *(root / "tools").rglob("*.py"),
    ]
    used = set()
    for path in sources:
        if path.name.startswith("test_"):
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name)
    kernels = root / "traildb_spark" / "functions" / "vectorized.py"
    defs = [
        node.name
        for node in ast.parse(kernels.read_text()).body
        if isinstance(node, ast.FunctionDef)
    ]
    assert defs
    assert sorted(set(defs) - used) == []


def test_one_commit_protocol_for_artifacts():
    """The indexes beside the data verify, commit and sweep through the
    ``fsutil`` artifact helpers: only ``fsutil.py`` and ``dataset.py``
    (the z-index's primary-data guard) call ``data_fingerprint``, and no
    module but ``fsutil.py`` carries a ``_g<N>`` generation regex."""
    import ast
    import re
    from pathlib import Path

    pkg = Path(traildb_spark.__file__).resolve().parent
    callers, regexes = set(), set()
    for path in pkg.rglob("*.py"):
        rel = path.relative_to(pkg).as_posix()
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(
                    fn, "id", None)
                if name == "data_fingerprint":
                    callers.add(rel)
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if re.search(r"_g\(?\\d", node.value):
                    regexes.add(rel)
    assert "dataset.py" in callers
    assert callers <= {"fsutil.py", "dataset.py"}, sorted(callers)
    assert regexes == {"fsutil.py"}, sorted(regexes)
