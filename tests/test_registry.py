"""registry._package_zip: the package zip shipped to Spark's Python
workers is named by its content, so repeat builds reuse one file."""

from __future__ import annotations

import os
import tempfile
import zipfile

from flexcalc_spark import registry


def test_package_zip_is_built_once_per_content(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    first = registry._package_zip()
    second = registry._package_zip()
    assert first == second
    assert [p.name for p in tmp_path.iterdir()] == [os.path.basename(first)]
    with zipfile.ZipFile(first) as zf:
        names = zf.namelist()
    assert "flexcalc_spark/registry.py" in names
    assert "flexcalc_spark/sources/binaryfiles.py" in names
    assert all(n.endswith(".py") for n in names)
