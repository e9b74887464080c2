"""The package zip shipped to Python workers is named after its sources'
contents, so workers never import a stale copy of an edited module."""

import os

from ade_agente_documental_empresarial___miner_a_spark.session import (
    _package_sources,
    _package_zip_name,
)


def test_package_zip_name_follows_nested_module_contents(tmp_path):
    pkg = tmp_path / "pkg"
    (pkg / "operators").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "README.txt").write_text("not shipped")
    module = pkg / "operators" / "dedup.py"
    module.write_text("X = 1\n")

    def name():
        return _package_zip_name(str(pkg), _package_sources(str(pkg)))

    first = name()
    assert first == name()
    pkg_mtime = os.stat(pkg).st_mtime_ns
    module.write_text("X = 2\n")
    # an in-place edit of a nested module leaves the package directory's
    # mtime alone, yet must name a new zip
    assert os.stat(pkg).st_mtime_ns == pkg_mtime
    edited = name()
    assert edited != first
    module.write_text("X = 1\n")
    assert name() == first
    (pkg / "README.txt").write_text("still not shipped")
    assert name() == first
    module.rename(pkg / "operators" / "renamed.py")
    assert name() not in (first, edited)
