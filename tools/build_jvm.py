#!/usr/bin/env python
"""Rebuild the engine's JVM jar from ``flinkexp_spark/compat/jvm/*.java``.

Compiles with ``javac --release 17`` against the ``hadoop-client-api`` jar
that ships with pyspark, then zips the classes with fixed entry
timestamps, so the same source and javac give the same jar bytes.  The
jar is checked in; ``tests/test_jvm.py`` rebuilds it and compares the
class bytes.  Needs a JDK on ``PATH``.

Usage: python tools/build_jvm.py [--out DIR]   (default: the jar's own dir)
"""

from __future__ import annotations

import argparse
import glob
import os
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(REPO, "flinkexp_spark", "compat", "jvm")
JAR_NAME = "flinkexp-jvm.jar"


def hadoop_api_jar() -> str:
    import pyspark

    jars = glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar"))
    if len(jars) != 1:
        raise RuntimeError(f"expected one hadoop-client-api jar in pyspark, found {jars}")
    return jars[0]


def build(out_dir: str) -> str:
    """Compile every source in ``JVM_DIR`` and write ``out_dir/JAR_NAME``."""
    sources = sorted(glob.glob(os.path.join(JVM_DIR, "*.java")))
    jar = os.path.join(out_dir, JAR_NAME)
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-nowarn", "-cp", hadoop_api_jar(), "-d", classes, *sources],
            check=True,
        )
        entries = sorted(
            os.path.relpath(os.path.join(d, f), classes)
            for d, _, files in os.walk(classes) for f in files
        )
        os.makedirs(out_dir, exist_ok=True)
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
            for name in entries:
                with open(os.path.join(classes, name), "rb") as f:
                    # a bare ZipInfo is dated 1980-01-01: same classes, same bytes
                    z.writestr(zipfile.ZipInfo(name), f.read(), zipfile.ZIP_DEFLATED)
    return jar


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=JVM_DIR)
    print(build(ap.parse_args().out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
