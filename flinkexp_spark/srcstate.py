"""Source-tree content hash for bench-artifact staleness wires.

The r12 verdict found the git-HEAD comparison between ``BENCH_LOCAL.json``
and ``BENCH_SF1.json`` tripping on an *artifact-only* commit: the driver
re-stamps BENCH_LOCAL at the new HEAD after the round-close commit, while
BENCH_SF1 stays frozen one commit back — yet no perf-relevant code changed.
The invariant the wire actually wants is "both benches measured the SAME
engine source", so both artifacts now stamp a content hash of the
perf-relevant tree and the trip-wire compares that, falling back to git
HEAD only for artifacts predating the field.

:func:`package_files` is also the file list ``session.ship_package`` zips
for Python workers.  The hash also covers the package's JVM source and
its built jar (``compat/jvm``), which the session puts on the driver's
classpath.
"""

from __future__ import annotations

import hashlib
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Files whose content can change measured performance: the package plus
# these two.  Tests, tools and markdown artifacts deliberately excluded:
# editing them must NOT demand a bench re-run.
_PACKAGE = "flinkexp_spark"
_PERF_FILES = ("bench.py", "__spark_entry__.py")


def package_files(repo: str = _REPO, suffixes: tuple[str, ...] = (".py",)) -> list[str]:
    """Every file under the ``flinkexp_spark`` package with one of
    ``suffixes`` (default: the .py files), sorted."""
    paths: list[str] = []
    for dirpath, dirnames, filenames in os.walk(os.path.join(repo, _PACKAGE)):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for fn in filenames:
            if fn.endswith(suffixes):
                paths.append(os.path.join(dirpath, fn))
    return sorted(paths)


def source_tree_hash(repo: str = _REPO) -> str:
    """SHA-256 over (relpath, content) of every perf-relevant file."""
    h = hashlib.sha256()
    paths = package_files(repo, (".py", ".java", ".jar"))
    for fn in _PERF_FILES:
        p = os.path.join(repo, fn)
        if os.path.exists(p):
            paths.append(p)
    for p in sorted(paths):
        rel = os.path.relpath(p, repo)
        h.update(rel.encode())
        h.update(b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    return h.hexdigest()
