"""Engine session factory.

The reference acquires its environment via
``StreamExecutionEnvironment.getExecutionEnvironment``
(reference: study/src/main/scala/group/xc/flink/stream/demo1/StreamSocket.scala:12)
and declares exactly one physical-execution choice in its POM: the RocksDB
state backend (reference: study/pom.xml:72).  Our equivalent is a configured
``SparkSession`` with scale-oriented defaults baked in:

* **AQE on** (runtime re-planning: partition coalescing, skew-join splitting,
  broadcast demotion/promotion) — on a 1000-executor cluster this is what
  keeps a 100 TB shuffle from being statically mis-partitioned.
* **Arrow on** for every JVM<->Python boundary (pandas_udf / applyInPandas).
* **RocksDB state store** for streaming state (the Spark analog of the
  reference's declared RocksDB keyed-state backend) — keyed state larger
  than memory spills to disk instead of OOMing an executor.
* **UTC session timezone** so event-time semantics are engine-independent
  (and comparable against the DuckDB oracle, which is UTC-naive).
* **shuffle partitions ~ cores** locally; at cluster scale AQE coalescing
  makes the static number mostly irrelevant, but we still expose it.
* **Host-sized defaults**: local cores are the ones this process may run
  on and the driver heap is a quarter of physical memory (1-8 GB), unless
  ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` say otherwise.
* **Python-worker entry point** ``compat/pyworker/pyspark_graft_worker.py``
  (``spark.python.worker.module``): before Python 3.13 every worker task
  re-parsed pyspark.zip, the py4j zip and the spark-core jar once per
  cached zip importer (~0.2 s per task); the entry point re-reads an
  archive only when it changed.  A session built elsewhere keeps the stock
  worker unless it sets the same two things (``PYTHONPATH`` and the key).
* **Fork-free local file system** ``compat/jvm/NioLocalFileSystem.java``
  (``spark.hadoop.fs.file.impl``, its jar appended to
  ``spark.driver.extraClassPath``): without a native Hadoop library the
  stock ``file:`` file system forks ``chmod`` for every file create and
  ``mkdirs`` (41 forks per ``stream_wordcount_update`` replay); this one
  sets the same modes through java.nio and writes the same ``.crc``
  files.  Only for ``local`` masters, where the executors run in the
  driver's JVM; a cluster executor would not have the jar.  A session
  built elsewhere keeps the stock file system.

:func:`ship_package` is the one way Python workers get the package: the
registry calls it before every query body, on whatever session the caller
passes, so workers of a driver started outside the repo import
``flinkexp_spark`` from the shipped zip.  :func:`memo` is the one
per-SparkContext cache for driver-built state (trained quantizers,
codebooks, vocabularies, checkpointed tables).
"""

from __future__ import annotations

import hashlib
import io
import os
import re
import uuid
import zipfile
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import SparkSession

__all__ = [
    "get_session", "ship_package", "memo", "default_cpus", "default_driver_memory",
    "host_memory_mb", "DEFAULT_SHUFFLE_PARTITIONS",
]

_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
# stdlib-only, one module: every Python worker gets it on its PYTHONPATH
_PYWORKER_DIR = os.path.join(_PACKAGE_DIR, "compat", "pyworker")
# built from compat/jvm/*.java by tools/build_jvm.py
JVM_JAR = os.path.join(_PACKAGE_DIR, "compat", "jvm", "flinkexp-jvm.jar")
ARCHIVE_PREFIX = "flinkexp_spark-"
# (applicationId, key) -> built value; only the live application's entries
_MEMO: dict[tuple[str, Hashable], Any] = {}


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def host_memory_mb() -> int:
    """Physical memory of this host in MiB."""
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else a quarter of MemTotal in 1-8 GB."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    mem_mb = host_memory_mb()
    return f"{max(1024, min(mem_mb // 4, 8192))}m"


DEFAULT_SHUFFLE_PARTITIONS = default_cpus()


def get_session(
    app_name: str = "flinkexp_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession with scale-safe defaults.

    In local mode there is one JVM; on a real cluster the same config applies
    unchanged, except that only a local master gets the java.nio ``file:``
    file system (its jar is on the driver's classpath alone).
    """
    cpus = default_cpus()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    nshuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    # Before the JVM launches: make google.protobuf importable (natively or
    # via the SDK bridge) so transformWithStateInPandas workers — which
    # inherit PYTHONPATH from this process — can reach the state server.
    # No-op when protobuf is pip-installed; harmless when unavailable.
    from flinkexp_spark.compat.protobuf_shim import ensure_protobuf

    ensure_protobuf()
    # Workers find their entry point (spark.python.worker.module below)
    # through the same inherited PYTHONPATH.
    pythonpath = os.environ.get("PYTHONPATH", "")
    if _PYWORKER_DIR not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = _PYWORKER_DIR + (
            os.pathsep + pythonpath if pythonpath else ""
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- planner / runtime adaptivity ---------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        # Small dims (region/nation/supplier at any SF) must broadcast; 64 MB
        # threshold keeps star-schema joins shuffle-free on the dim side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python boundary ----------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.python.worker.module", "pyspark_graft_worker")
        # --- time semantics ------------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # --- streaming state -----------------------------------------------
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
        # --- scan sizing: parquet split size tuned so a 100 TB table yields
        #     ~800k splits, not 8M (driver scheduling pressure) -------------
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Fixture `events.ts` is parquet TIMESTAMP(NANOS); Spark has no ns
        # timestamp type, so read it as a raw long (datasets.load converts).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Fixture timestamps are tz-naive TIMESTAMP(MICROS) denoting UTC
        # instants; read them as TimestampType (LTZ), not TIMESTAMP_NTZ,
        # so epoch arithmetic and window() work (see datasets.load).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
    )
    conf = dict(extra_conf or {})
    # one JVM runs the driver and the executors only in local mode
    if re.fullmatch(r"local(\[.*\])?", master):
        classpath = conf.get("spark.driver.extraClassPath")
        conf["spark.driver.extraClassPath"] = (
            f"{classpath}{os.pathsep}{JVM_JAR}" if classpath else JVM_JAR
        )
        conf.setdefault("spark.hadoop.fs.file.impl", "flinkexp.NioLocalFileSystem")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ship_package(spark: SparkSession) -> None:
    """Ship every .py file of ``flinkexp_spark`` to this SparkContext's
    Python workers as one zip, once per context.

    cloudpickle pickles module-level functions and classes by reference,
    so a worker must be able to import the package even when its driver
    runs outside the repo.  Whether the context already has the archive is
    read from its own ``_python_includes``, so a recreated context ships
    again.  The zip is named by content hash under the scratch root and
    written through a rename, so concurrent processes share one file; it
    is never deleted, because executors fetch it lazily."""
    sc = spark.sparkContext
    if any(name.startswith(ARCHIVE_PREFIX) for name in sc._python_includes):
        return
    from flinkexp_spark.srcstate import package_files
    from flinkexp_spark.streaming.replay import SCRATCH_ROOT

    repo = os.path.dirname(_PACKAGE_DIR)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for path in package_files(repo):
            with open(path, "rb") as f:
                # a bare ZipInfo has a fixed timestamp: same files, same bytes
                z.writestr(zipfile.ZipInfo(os.path.relpath(path, repo)), f.read())
    data = buf.getvalue()
    digest = hashlib.sha256(data).hexdigest()[:16]
    archive = os.path.join(SCRATCH_ROOT, f"{ARCHIVE_PREFIX}{digest}.zip")
    if not os.path.exists(archive):
        os.makedirs(SCRATCH_ROOT, exist_ok=True)
        tmp = f"{archive}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, archive)
    sc.addPyFile(archive)


def memo(spark: SparkSession, key: Hashable, build: Callable[[], Any]) -> Any:
    """``build()`` once per ``key`` per SparkContext, then the same value.

    Entries of any other application are dropped first: one application
    is live per driver process, and a stopped one's entries would pin its
    checkpoints and plans forever.  ``key`` names the value and everything
    it depends on besides the context (corpus path, K, mode)."""
    app_id = spark.sparkContext.applicationId
    for stale in [k for k in _MEMO if k[0] != app_id]:
        del _MEMO[stale]
    full = (app_id, key)
    if full not in _MEMO:
        _MEMO[full] = build()
    return _MEMO[full]
