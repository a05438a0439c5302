"""Every module under ``timebox_spark`` imports cleanly, with no Spark
session: a module that imports a deleted or renamed one fails here in
well under a second instead of deep inside a Spark test."""

from __future__ import annotations

import importlib
import pkgutil

import pytest

import timebox_spark

MODULES = sorted(
    m.name
    for m in pkgutil.walk_packages(timebox_spark.__path__, "timebox_spark.")
)


def test_package_has_modules():
    assert "timebox_spark.sources.npb" in MODULES


@pytest.mark.parametrize("name", MODULES)
def test_module_imports(name):
    importlib.import_module(name)
