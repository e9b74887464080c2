import ast
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ade_agente_documental_empresarial___miner_a_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
SF001_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ade-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def private_name_leaks(module: str) -> list[str]:
    """``path:line name`` for every underscore name of the package module
    ``module`` (dotted, relative to the package: ``"sources.sinks"``)
    that a non-test module of the repo imports or reads off the module.
    The module itself and the tests are exempt."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    own = os.path.join(*module.split(".")) + ".py"
    short = module.split(".")[-1]
    leaks = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "tests"]
        for f in files:
            full = os.path.join(dirpath, f)
            if not f.endswith(".py") or full.endswith(own):
                continue
            with open(full) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.ImportFrom) and (
                    node.module or ""
                ).split(".")[-1] == short:
                    names = [a.name for a in node.names]
                elif (
                    isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id == short
                ):
                    names = [node.attr]
                else:
                    continue
                leaks += [
                    f"{os.path.relpath(full, root)}:{node.lineno} {n}"
                    for n in names
                    if n.startswith("_")
                ]
    return leaks
