"""Every module of the package and the ``__spark_entry__`` registry
imports, so a deletion that leaves a dangling import fails here rather
than at the first caller."""

import importlib
import pkgutil

import pytest

import grebi_spark

MODULES = sorted(
    m.name
    for m in pkgutil.walk_packages(grebi_spark.__path__, grebi_spark.__name__ + ".")
)


def test_walk_finds_the_package():
    assert "grebi_spark.pipeline" in MODULES


@pytest.mark.parametrize("name", MODULES + ["__spark_entry__"])
def test_module_imports(name):
    importlib.import_module(name)
