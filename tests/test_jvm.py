"""The engine's JVM jar (``compat/jvm``): it rebuilds from its source, the
source-tree hash sees it, and a local session's ``file:`` file system sets
permissions without forking ``chmod`` while writing the same files, modes
and ``.crc`` checksums as Hadoop's stock ``LocalFileSystem``."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
import zipfile

import pytest

from flinkexp_spark import session
from flinkexp_spark.srcstate import package_files, source_tree_hash

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _classes(jar: str) -> dict[str, bytes]:
    with zipfile.ZipFile(jar) as z:
        return {n: z.read(n) for n in z.namelist()}


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac on PATH to rebuild the jar")
def test_checked_in_jar_rebuilds_from_source(tmp_path):
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        import build_jvm
    finally:
        sys.path.pop(0)
    rebuilt = build_jvm.build(str(tmp_path))
    assert _classes(rebuilt) == _classes(session.JVM_JAR)


def test_source_tree_hash_covers_jvm_source_and_jar(tmp_path):
    jvm = tmp_path / "flinkexp_spark" / "compat" / "jvm"
    jvm.mkdir(parents=True)
    (tmp_path / "flinkexp_spark" / "__init__.py").write_text("")
    (jvm / "A.java").write_text("class A {}\n")
    (jvm / "a.jar").write_bytes(b"PK")
    hashes = [source_tree_hash(str(tmp_path))]
    (jvm / "a.jar").write_bytes(b"PK\0")
    hashes.append(source_tree_hash(str(tmp_path)))
    (jvm / "A.java").write_text("class A { }\n")
    hashes.append(source_tree_hash(str(tmp_path)))
    assert len(set(hashes)) == 3
    # Python workers get only the .py files
    assert package_files(str(tmp_path)) == [str(tmp_path / "flinkexp_spark" / "__init__.py")]


NO_FORK_SCRIPT = textwrap.dedent(
    """
    import json, os, sys
    repo, sf_dir, log = sys.argv[1:4]
    sys.path.insert(0, repo)
    from flinkexp_spark.registry import queries
    from flinkexp_spark.session import get_session, ship_package

    def forks():
        with open(log) as f:
            lines = f.read().splitlines()
        open(log, "w").close()
        return lines

    spark = get_session(app_name="no_fork_test")
    ship_package(spark)
    # the executor's first task fetches the archive and runs `chmod a+x`
    # on its copy (Spark's FileUtil.chmod, not a file-system permission)
    spark.sparkContext.parallelize([0], 1).count()
    forks()
    df = queries()["stream_wordcount_update"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    out = {"replay_forks": forks()}

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.Path("file:///").getFileSystem(conf)
    out["fs"] = fs.getClass().getName()
    out["raw"] = fs.getRawFileSystem().getClass().getName()
    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), conf)
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission

    def write(fs, root):
        os.makedirs(root)
        P = lambda *parts: jvm.org.apache.hadoop.fs.Path("file://" + os.path.join(root, *parts))
        fs.mkdirs(P("d"), perm(0o750))
        s = fs.create(P("d", "f640"), perm(0o640), True, 4096, 1, 1 << 27, None)
        s.write(b"0123456789" * 100)
        s.close()
        s = fs.create(P("d", "fdefault"))
        s.write(b"abc")
        s.close()
        # chmod(1) keeps a directory's setgid bit; the parent's is inherited
        os.mkdir(os.path.join(root, "g"))
        os.chmod(os.path.join(root, "g"), 0o2755)
        fs.mkdirs(P("g", "sub"), perm(0o750))
        files = {}
        for d, _, names in os.walk(root):
            for n in [""] + names:
                p = os.path.join(d, n)
                rel = os.path.relpath(p, root)
                data = open(p, "rb").read() if n.endswith(".crc") else None
                files[rel] = [oct(os.stat(p).st_mode & 0o7777), data and data.hex()]
        return files

    tmp = os.getcwd()
    out["files"] = write(fs, os.path.join(tmp, "nio"))
    out["write_forks"] = forks()
    out["stock_files"] = write(stock, os.path.join(tmp, "stock"))
    out["stock_forks"] = forks()
    spark.stop()
    print(json.dumps(out))
    """
)


def _run_under_shim(tmp_path, command: str, script: str, sf_dir: str) -> dict:
    """Run ``script`` outside the repo with a ``command`` shim first on
    ``PATH``, which the driver JVM inherits: the shim appends each call's
    arguments to a log (the script's third argument), then runs the real
    command.  Returns the JSON the script prints last."""
    shim = tmp_path / "bin"
    shim.mkdir()
    log = tmp_path / f"{command}.log"
    log.write_text("")
    real = shutil.which(command)
    (shim / command).write_text(f'#!/bin/sh\necho "$*" >> {log}\nexec {real} "$@"\n')
    (shim / command).chmod(0o755)
    work = tmp_path / "work"
    work.mkdir()
    env = dict(
        os.environ,
        PATH=f"{shim}{os.pathsep}{os.environ['PATH']}",
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_SCRATCH=str(tmp_path / "scratch"),
    )
    proc = subprocess.run(
        [sys.executable, "-c", script, REPO, sf_dir, str(log)],
        cwd=work, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_local_session_writes_without_forking_chmod(tmp_path, sf_dir):
    """Under a logging ``chmod`` shim, a streaming replay and direct creates
    through the session's ``file:`` file system fork no ``chmod`` and give
    the modes and ``.crc`` files Hadoop's stock file system gives."""
    out = _run_under_shim(tmp_path, "chmod", NO_FORK_SCRIPT, sf_dir)
    assert out["fs"] == "flinkexp.NioLocalFileSystem"
    assert out["raw"] == "flinkexp.NioLocalFileSystem$Raw"
    assert out["replay_forks"] == []
    assert out["write_forks"] == []
    assert out["stock_forks"]  # the shim does see the stock file system
    files = out["files"]
    assert files == out["stock_files"]
    assert files["d"][0] == "0o750"
    assert files["d/f640"][0] == "0o640"
    assert files["d/fdefault"][0] == "0o644"
    assert files["g/sub"][0] == "0o2750"
    assert files["d/.f640.crc"][1] and files["d/.fdefault.crc"][1]


# One query per way the engine drains a stream: memory sink, file sink,
# foreachBatch writer, and the four queries that start their own streams.
STREAM_QUERIES = (
    "stream_tumbling_window",
    "stream_session_window",
    "stream_wordcount_update",
    "stream_text_source",
    "stream_python_datasource",
    "stream_wordcount_adapter",
    "stream_observed_metrics",
)

TEMP_CHECKPOINT_SCRIPT = textwrap.dedent(
    f"""
    import json, sys
    repo, sf_dir, log = sys.argv[1:4]
    sys.path.insert(0, repo)
    from flinkexp_spark.registry import queries
    from flinkexp_spark.session import get_session

    spark = get_session(app_name="temp_checkpoint_test")
    for name in {STREAM_QUERIES!r}:
        queries()[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # Spark deletes a temporary checkpoint's directory when its query
    # stops, and forks `rm -rf` on it again from the JVM's shutdown hook:
    # close the gateway's stdin (the JVM exits on EOF) and wait for it
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=120)
    with open(log) as f:
        print(json.dumps({{"rm": f.read().splitlines()}}))
    """
)


def test_engine_streams_checkpoint_in_their_scratch_dirs(tmp_path, sf_dir):
    """Every stream these queries start names a checkpointLocation in its
    scratch directory.  A stream started without one gets a ``temporary-*``
    checkpoint under ``java.io.tmpdir``, which the JVM removes with a
    forked ``rm -rf``; a logging ``rm`` shim sees none."""
    out = _run_under_shim(tmp_path, "rm", TEMP_CHECKPOINT_SCRIPT, sf_dir)
    temporary = [
        line for line in out["rm"]
        if any(os.path.basename(a).startswith("temporary-") for a in line.split())
    ]
    assert temporary == [], out["rm"]
