"""Every module of the package and the ``__spark_entry__`` registry
imports, and every ``grebi_spark`` name the ``scripts_dev/`` drills
import resolves, so a deletion that leaves a dangling import fails here
rather than at the first caller."""

import ast
import importlib
import importlib.util
import pathlib
import pkgutil

import pytest

import grebi_spark

MODULES = sorted(
    m.name
    for m in pkgutil.walk_packages(grebi_spark.__path__, grebi_spark.__name__ + ".")
)
SCRIPTS = sorted(
    (pathlib.Path(__file__).resolve().parent.parent / "scripts_dev").glob("*.py")
)


def test_walk_finds_the_package():
    assert "grebi_spark.pipeline" in MODULES


@pytest.mark.parametrize("name", MODULES + ["__spark_entry__"])
def test_module_imports(name):
    importlib.import_module(name)


def _package_imports(path: pathlib.Path):
    """(module, name) for every absolute ``grebi_spark`` import in the
    file, ``name`` None for a plain ``import module`` — read from the
    syntax tree, without running the script."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "grebi_spark":
                    yield alias.name, None
        elif (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and (node.module or "").split(".")[0] == "grebi_spark"
        ):
            for alias in node.names:
                yield node.module, alias.name


def test_dev_scripts_are_found():
    assert any(p.name == "soak_maintain.py" for p in SCRIPTS)


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.name)
def test_dev_script_imports_resolve(script):
    for module, name in _package_imports(script):
        mod = importlib.import_module(module)
        if name is not None:
            assert hasattr(mod, name) or importlib.util.find_spec(
                f"{module}.{name}"
            ), f"{script.name}: from {module} import {name}"
