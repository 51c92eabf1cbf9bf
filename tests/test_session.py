"""Session factory: the package zip shipped to executors."""

from __future__ import annotations

import os
import tempfile
import time
import zipfile
from pathlib import Path

from __spider_spark.session import _package_zip

REPO = Path(__file__).resolve().parents[1]


def test_package_zip_ships_this_checkouts_sources(tmp_path, monkeypatch):
    """A zip another checkout left in the shared temp dir — even one newer
    than every source here — must never be what this checkout ships."""
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    stale = tmp_path / "__spider_spark_pyfiles.zip"
    with zipfile.ZipFile(stale, "w") as z:
        z.writestr("__spider_spark/operators/seen.py", "# another checkout\n")
    future = time.time() + 3600
    os.utime(stale, (future, future))
    srcs = {str(p.relative_to(REPO)) for p in
            (REPO / "__spider_spark").rglob("*.py")
            if "__pycache__" not in p.parts}
    with zipfile.ZipFile(_package_zip()) as z:
        assert set(z.namelist()) == srcs
        for name in z.namelist():
            assert z.read(name) == (REPO / name).read_bytes(), name
