"""Import smoke test: every module of the package imports cleanly, so a
deletion that leaves a dangling import fails here at once rather than
only when the code path that uses it runs."""

from __future__ import annotations

import importlib
import pkgutil

import ensembl_database_loader_spark as pkg


def test_every_module_imports():
    names = [
        m.name
        for m in pkgutil.walk_packages(pkg.__path__, prefix=pkg.__name__ + ".")
        if m.name.rsplit(".", 1)[-1] != "__main__"  # runs the CLI on import
    ]
    assert len(names) > 50
    failed = {}
    for name in names:
        try:
            importlib.import_module(name)
        except Exception as exc:  # noqa: BLE001 - report every failure at once
            failed[name] = f"{type(exc).__name__}: {exc}"
    assert failed == {}
