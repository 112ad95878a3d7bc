"""Python-worker entry point (compat/pyworker) and host-sized session defaults.

The guard replaces ``zipimport.zipimporter.invalidate_caches`` for the
whole interpreter, so its semantics are checked in a subprocess; the wiring
is checked from inside a real worker task.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from flinkexp_spark import session

GUARD_SCRIPT = textwrap.dedent(
    """
    import collections, importlib, os, sys, zipfile, zipimport

    tmp = sys.argv[1]
    reads = collections.Counter()
    _read_directory = zipimport._read_directory

    def counting_read(archive):
        reads[archive] += 1
        return _read_directory(archive)

    zipimport._read_directory = counting_read

    import pyspark_graft_worker  # noqa: F401  (installs the guard)

    assert zipimport.zipimporter.invalidate_caches.__module__ == (
        "pyspark_graft_worker"
    )

    def write_zip(path, files):
        with zipfile.ZipFile(path, "w") as z:
            for name, src in files.items():
                z.writestr(name, src)

    a = os.path.join(tmp, "a.zip")
    files = {
        "top.py": "X = 1\\n",
        "pkg/__init__.py": "",
        "pkg/sub/__init__.py": "",
        "pkg/sub/m1.py": "Y = 1\\n",
    }
    write_zip(a, files)
    sys.path.insert(0, a)
    import top, pkg.sub.m1  # noqa: E401,F401

    importers = [
        imp for key, imp in sys.path_importer_cache.items()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == a
    ]
    # the archive root, a.zip/pkg and a.zip/pkg/sub
    assert len(importers) == 3, importers

    # unchanged archive: at most one re-read per importer, however many
    # times the caches are invalidated
    before = reads[a]
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads[a] - before <= len(importers), (reads[a] - before)
    before = reads[a]
    importlib.invalidate_caches()
    assert reads[a] == before

    # rewritten archive: the new entries are importable through the
    # top-level importer and through a subpackage-prefix importer
    files.update({"top2.py": "Z = 2\\n", "pkg/sub/m2.py": "W = 3\\n"})
    write_zip(a, files)
    importlib.invalidate_caches()
    assert reads[a] > before
    import top2, pkg.sub.m2  # noqa: E401

    assert (top2.Z, pkg.sub.m2.W) == (2, 3)

    # an archive added after the guard is read normally
    b = os.path.join(tmp, "b.zip")
    write_zip(b, {"bmod.py": "V = 4\\n"})
    sys.path.append(b)
    importlib.invalidate_caches()
    import bmod

    assert bmod.V == 4 and reads[b] >= 1
    print("guard ok")
    """
)


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13+ invalidates zip caches lazily; no guard installed",
)
def test_guard_rereads_only_changed_archives(tmp_path):
    env = dict(os.environ, PYTHONPATH=session._PYWORKER_DIR)
    out = subprocess.run(
        [sys.executable, "-c", GUARD_SCRIPT, str(tmp_path)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert "guard ok" in out.stdout


def test_worker_tasks_run_the_guarded_entry_point(spark):
    def probe(batches):
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "loaded": ["pyspark_graft_worker" in sys.modules],
                "guard": [zipimport.zipimporter.invalidate_caches.__module__],
            }
        )

    schema = "loaded boolean, guard string"
    rows = spark.range(4).mapInPandas(probe, schema).collect()
    assert rows and all(r.loaded for r in rows), rows
    if sys.version_info < (3, 13):
        assert {r.guard for r in rows} == {"pyspark_graft_worker"}


def test_worker_dir_holds_only_the_entry_point():
    # every Python worker has this directory on its PYTHONPATH
    entries = set(os.listdir(session._PYWORKER_DIR)) - {"__pycache__"}
    assert entries == {"pyspark_graft_worker.py"}


def test_session_defaults_come_from_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session.default_cpus() == len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    assert session.default_driver_memory() == (
        f"{max(1024, min(kb // 1024 // 4, 8192))}m"
    )

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session.default_cpus() == 3
    assert session.default_driver_memory() == "2g"
