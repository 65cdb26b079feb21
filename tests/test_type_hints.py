"""Every annotation in the package resolves (no Spark).

The modules use ``from __future__ import annotations``, so an annotation
naming a type the module never imports still runs, but
``typing.get_type_hints`` raises ``NameError`` on it — and PySpark reads
type hints to choose how to call a Python pass. Every function and
method defined in every package module must resolve.
"""

from __future__ import annotations

import importlib
import inspect
import pkgutil
import typing

import evolution_data_warehouse_spark as package


def _functions():
    for info in pkgutil.walk_packages(package.__path__, package.__name__ + "."):
        module = importlib.import_module(info.name)
        for obj in vars(module).values():
            if getattr(obj, "__module__", None) != module.__name__:
                continue
            if inspect.isfunction(obj):
                yield obj
            elif inspect.isclass(obj):
                yield from (f for f in vars(obj).values() if inspect.isfunction(f))


def test_every_package_annotation_resolves():
    functions = list(_functions())
    assert len(functions) > 1000  # the walk reached every module
    bad = []
    for fn in functions:
        try:
            typing.get_type_hints(fn)
        except NameError as e:
            bad.append(f"{fn.__module__}.{fn.__qualname__}: {e}")
    assert not bad, bad
