"""Rebuild the engine's JVM jar from its Java source.

Compiles every ``.java`` file under ``kafka_stream_aggregator_spark/jvm``
with ``javac --release 17`` against the Hadoop client API that pyspark
bundles, and writes the classes into a jar whose entries carry a fixed
timestamp, so the same source and javac give the same bytes. Usage:

    python tools/build_jvm.py [out.jar]

The default output is the committed jar, ``session.FORK_FREE_FS_JAR``.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark

from kafka_stream_aggregator_spark.session import FORK_FREE_FS_JAR

SRC_DIR = os.path.dirname(FORK_FREE_FS_JAR)


def build(out_jar: str) -> None:
    (hadoop_api,) = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")
    )
    sources = sorted(glob.glob(os.path.join(SRC_DIR, "*.java")))
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-cp", hadoop_api, "-d", classes, *sources],
            check=True,
        )
        names = sorted(
            os.path.relpath(os.path.join(d, f), classes)
            for d, _, files in os.walk(classes)
            for f in files
        )
        with zipfile.ZipFile(out_jar, "w") as jar:
            for name in names:
                with open(os.path.join(classes, name), "rb") as f:
                    jar.writestr(zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0)), f.read())


if __name__ == "__main__":
    build(sys.argv[1] if len(sys.argv) > 1 else FORK_FREE_FS_JAR)
