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
