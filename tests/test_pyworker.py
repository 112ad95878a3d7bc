"""Python-worker entry point (compat/pyworker), the package archive
(``session.ship_package``) and host-sized session defaults.

The guard replaces ``zipimport.zipimporter.invalidate_caches`` for the
whole interpreter, so its semantics are checked in a subprocess; the wiring
is checked from inside a real worker task.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

from flinkexp_spark import session
from flinkexp_spark.srcstate import package_files

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


class _FakeContext:
    def __init__(self):
        self._python_includes = []
        self.added = []
        self.applicationId = f"local-fake-{id(self)}"

    def addPyFile(self, path):
        self.added.append(path)
        self._python_includes.append(os.path.basename(path))


class _FakeSession:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_ship_package_adds_one_archive_per_context(spark, tmp_path, monkeypatch):
    # the real context: exactly one archive, however often queries ship
    session.ship_package(spark)
    includes = list(spark.sparkContext._python_includes)
    session.ship_package(spark)
    assert spark.sparkContext._python_includes == includes
    assert sum(i.startswith(session.ARCHIVE_PREFIX) for i in includes) == 1

    from flinkexp_spark.streaming import replay

    monkeypatch.setattr(replay, "SCRATCH_ROOT", str(tmp_path))
    first, second = _FakeSession(), _FakeSession()
    for s in (first, second, first, second):
        session.ship_package(s)
    # a new context ships again; a second call on the same one adds nothing
    (a,) = first.sparkContext.added
    assert second.sparkContext.added == [a]
    assert os.listdir(tmp_path) == [os.path.basename(a)]

    repo = os.path.dirname(session._PACKAGE_DIR)
    files = package_files(repo)
    with zipfile.ZipFile(a) as z:
        assert z.namelist() == [os.path.relpath(p, repo) for p in files]
        for p in files:
            with open(p, "rb") as f:
                assert z.read(os.path.relpath(p, repo)) == f.read(), p


def test_memo_builds_once_per_key_per_context(monkeypatch):
    monkeypatch.setattr(session, "_MEMO", {})
    builds = []

    def get(s, key):
        return session.memo(s, key, lambda: builds.append(key) or len(builds))

    first, second = _FakeSession(), _FakeSession()
    cent8 = ("ivf_centroids", "/a/sf0.1", 8)
    # one build per key per context, however often it is asked for
    assert get(first, cent8) == get(first, cent8) == 1
    # a different k or a different corpus path is a different entry
    assert get(first, ("ivf_centroids", "/a/sf0.1", 80)) == 2
    assert get(first, ("ivf_centroids", "/b/sf0.1", 8)) == 3
    assert get(first, ("ivf_bucketed_index", "/a/sf0.1")) == 4
    assert len(builds) == 4
    # a second application drops every entry of the first one
    assert get(second, cent8) == 5
    assert {app for app, _ in session._MEMO} == {second.sparkContext.applicationId}
    assert get(second, cent8) == 5
    assert get(first, cent8) == 6
    assert builds == [
        cent8,
        ("ivf_centroids", "/a/sf0.1", 80),
        ("ivf_centroids", "/b/sf0.1", 8),
        ("ivf_bucketed_index", "/a/sf0.1"),
        cent8,
        cent8,
    ]


ARCHIVE_READS_SCRIPT = textwrap.dedent(
    """
    import json, sys

    sys.path.insert(0, sys.argv[1])
    from flinkexp_spark.session import ARCHIVE_PREFIX, get_session, ship_package

    spark = get_session(app_name="archive_reads", master="local[1]")

    def probe(batches):
        import collections, os, sys, zipimport

        import pandas as pd

        if not hasattr(zipimport, "_probe_reads"):
            reads = zipimport._probe_reads = collections.Counter()
            read_directory = zipimport._read_directory

            def counting_read(archive):
                reads[archive] += 1
                return read_directory(archive)

            zipimport._read_directory = counting_read
        for pdf in batches:
            if pdf["ship"].iloc[0]:
                import flinkexp_spark.functions.zstd  # noqa: F401

        def shipped(archive):
            return os.path.basename(archive).startswith(ARCHIVE_PREFIX)

        yield pd.DataFrame({
            "pid": [os.getpid()],
            "reads": [sum(
                n for a, n in zipimport._probe_reads.items() if shipped(a)
            )],
            "importers": [sum(
                isinstance(i, zipimport.zipimporter) and shipped(i.archive)
                for i in sys.path_importer_cache.values()
            )],
        })

    def task(ship):
        df = spark.range(1, numPartitions=1).selectExpr(f"{ship} AS ship")
        (row,) = df.mapInPandas(probe, "pid long, reads long, importers long")\
            .collect()
        return list(row)

    rows = [task(False)]
    ship_package(spark)
    rows += [task(True) for _ in range(4)]
    print(json.dumps(rows))
    spark.stop()
    """
)


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13+ invalidates zip caches lazily; no guard installed",
)
def test_worker_does_not_reread_the_shipped_archive(tmp_path):
    """On a ``get_session`` worker the guard covers the package archive:
    each zip importer reads it at most once more after it is built, and
    later tasks do not read it at all (the stock worker re-reads it on
    every task)."""
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=str(tmp_path / "scratch"))
    env.pop("PYTHONPATH", None)
    repo = os.path.dirname(session._PACKAGE_DIR)
    out = subprocess.run(
        [sys.executable, "-c", ARCHIVE_READS_SCRIPT, repo],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    rows = json.loads(out.stdout.strip().splitlines()[-1])
    pids = {pid for pid, _, _ in rows}
    assert len(pids) == 1, rows  # one reused worker ran every task
    reads = [n for _, n, _ in rows]
    importers = rows[-1][2]
    assert reads[0] == 0 and reads[1] >= 1 and importers >= 1, rows
    assert reads[-1] <= 1 + importers, rows
    assert reads[2] == reads[3] == reads[4], rows


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
