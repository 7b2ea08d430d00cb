"""The worker daemon's zip revalidation rule (``sparkobs.pyworker``): an
unchanged archive is not re-parsed on ``importlib.invalidate_caches()``,
a rewritten one is; and the ``get_spark`` session's reused Python
workers keep their parsed archive directories across tasks."""

import importlib
import os
import sys
import zipfile
import zipimport
from unittest import mock

import pytest

from sparkobs import pyworker


@pytest.fixture
def zip_on_path(tmp_path):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pw_old_mod.py", "X = 1\n")
    sys.path.insert(0, archive)
    importlib.import_module("pw_old_mod")  # creates the archive's zipimporter
    try:
        yield archive
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        pyworker._STAMPS.pop(archive, None)
        for name in ("pw_old_mod", "pw_new_mod"):
            sys.modules.pop(name, None)


@pytest.fixture
def installed(monkeypatch):
    """``pyworker.install()``, undone after the test."""
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    pyworker.install()


def _rewrite_is_seen(archive: str) -> bool:
    """Rewrite ``archive`` with a new module (new size, new mtime); does
    ``invalidate_caches`` make the new module importable?"""
    importlib.invalidate_caches()
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pw_old_mod.py", "X = 1\n")
        zf.writestr("pw_new_mod.py", "Y = 2\n")
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    try:
        return importlib.import_module("pw_new_mod").Y == 2
    except ImportError:
        return False


def test_unchanged_archive_is_parsed_at_most_once(zip_on_path, installed):
    with mock.patch.object(
        zipimport, "_read_directory", wraps=zipimport._read_directory
    ) as reads:
        importlib.invalidate_caches()
        importlib.invalidate_caches()
    parsed = [c for c in reads.call_args_list if c.args[0] == zip_on_path]
    assert len(parsed) <= 1


def test_rewritten_archive_is_reread(zip_on_path, installed):
    assert _rewrite_is_seen(zip_on_path)


def test_rewrite_check_fails_against_a_noop_override(zip_on_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", lambda self: None)
    assert not _rewrite_is_seen(zip_on_path)


def test_reused_worker_keeps_parsed_archives(spark):
    """Run single-partition tasks until a Python worker serves a second
    one (idle workers are reused in turn, so one comes back within the
    pool's size); between its two tasks no archive directory may have
    been replaced. The kernel is defined here so that it is pickled by
    value: the workers cannot import this test module."""

    def worker_state(batches):
        import os
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        cache = zipimport._zip_directory_cache
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "dirs": [",".join(f"{a}={id(cache[a])}" for a in sorted(cache))],
        })

    df = spark.range(1, numPartitions=1).mapInPandas(
        worker_state, "pid long, dirs string"
    )
    seen = {}
    for _ in range(64):
        row = df.collect()[0]
        if row.pid in seen:
            assert row.dirs and row.dirs == seen[row.pid]
            return
        seen[row.pid] = row.dirs
    pytest.fail(f"no Python worker was reused in 64 tasks: {sorted(seen)}")
