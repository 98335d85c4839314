"""The zipimport-caching worker daemon (``sarkac_spark.worker_daemon``):
the shim's re-read rule without Spark, and a ``get_spark`` session
started outside the repo root whose Python workers boot from it."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from sarkac_spark import worker_daemon

REPO = Path(__file__).resolve().parent.parent


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def shim(monkeypatch):
    """Install the shim for one test, with fresh stamps and a counter of
    directory reads."""
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(worker_daemon, "_stamps", {})
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches_if_changed
    )
    return reads


def test_unchanged_archive_is_not_reread(shim, tmp_path):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zipmod_a": "X = 1\n"})
    zi = zipimport.zipimporter(str(archive))
    zi.invalidate_caches()
    first = len(shim)
    for _ in range(3):
        zi.invalidate_caches()
        zipimport.zipimporter(str(archive)).invalidate_caches()
    assert len(shim) == first
    assert zi.find_spec("zipmod_a") is not None


def test_rewritten_archive_is_reread_and_new_module_imports(shim, tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zipmod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zipmod_a").X == 1
        importlib.invalidate_caches()
        with pytest.raises(ImportError):
            importlib.import_module("zipmod_b")
        before = len(shim)
        _write_zip(archive, {"zipmod_a": "X = 1\n", "zipmod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert shim[before:] == [str(archive)]
        assert importlib.import_module("zipmod_b").Y == 2
    finally:
        sys.modules.pop("zipmod_a", None)
        sys.modules.pop("zipmod_b", None)


def test_install_patches_only_before_312(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0))
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is stock
    monkeypatch.setattr(sys, "version_info", (3, 11, 7))
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is worker_daemon.invalidate_caches_if_changed


_FOREIGN_CWD_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
from pyspark.sql.functions import pandas_udf
from sarkac_spark.session import get_spark

spark = get_spark("foreign_cwd", master="local[2]", shuffle_partitions=2)

@pandas_udf("long")
def seconds(s: pd.Series) -> pd.Series:
    from sarkac_spark.config import parse_duration  # imported in the worker
    return s.map(parse_duration)

durations = spark.createDataFrame([("2m",), ("1h",), ("15m",)], "d string")

def shim_name(it):
    import zipimport
    for _ in it:
        yield pd.DataFrame({"q": [zipimport.zipimporter.invalidate_caches.__qualname__]})

names = spark.range(2).mapInPandas(shim_name, "q string").collect()
print(json.dumps({
    "seconds": sorted(r.s for r in durations.select(seconds("d").alias("s")).collect()),
    "names": sorted({r.q for r in names}),
}))
spark.stop()
"""


def test_session_outside_repo_root_boots_workers_from_daemon(tmp_path):
    """Neither the working directory nor PYTHONPATH holds the package:
    the driver finds it through ``sys.path`` only, and ``get_spark`` must
    ship it to the Python workers, whose daemon imports it."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_SCRIPT, str(REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["seconds"] == [120, 900, 3600]
    expected = "invalidate_caches_if_changed" if sys.version_info < (3, 12) else (
        "zipimporter.invalidate_caches"
    )
    assert got["names"] == [expected]
