"""Session factory settings that need no shared session: flags, host
sizing, the engine's jar, and a session that attaches to a JVM launched
without it (in a subprocess of its own)."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap
import zipfile

import pyspark
import pytest

from kafka_stream_aggregator_spark.session import FORK_FREE_FS_JAR, env_flag, local_resources

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "raw, on",
    [
        ("1", True),
        ("true", True),
        ("TRUE", True),
        (" yes ", True),
        ("on", True),
        ("0", False),
        ("false", False),
        ("False", False),
        ("", False),
        ("no", False),
    ],
)
def test_prefer_smj_flag_parsed_by_value(monkeypatch, raw, on):
    monkeypatch.setenv("SPARK_GRAFT_PREFER_SMJ", raw)
    assert env_flag("SPARK_GRAFT_PREFER_SMJ") is on


def test_prefer_smj_flag_unset_is_off(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_PREFER_SMJ", raising=False)
    assert env_flag("SPARK_GRAFT_PREFER_SMJ") is False


def test_local_resources_size_from_the_host_when_unset():
    assert local_resources(None, {}, 4, 15 << 30) == (4, "7680m")
    # a small host still gets a 1g heap
    assert local_resources(None, {}, 1, 1 << 30) == (1, "1024m")


def test_local_resources_argument_then_env_take_precedence():
    env = {"SPARK_GRAFT_CPUS": "6", "SPARK_DRIVER_MEM": "3g"}
    assert local_resources(None, env, 4, 15 << 30) == (6, "3g")
    assert local_resources(2, env, 4, 15 << 30) == (2, "3g")
    # empty values count as unset
    empty = {"SPARK_GRAFT_CPUS": "", "SPARK_DRIVER_MEM": ""}
    assert local_resources(None, empty, 4, 8 << 30) == (4, "4096m")


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac on PATH")
def test_committed_jar_is_built_from_its_source(tmp_path):
    """tools/build_jvm.py rebuilds the jar from the .java source; the
    rebuilt classes are byte-for-byte the committed jar's."""
    out = tmp_path / "rebuilt.jar"
    subprocess.run([sys.executable, os.path.join(REPO, "tools", "build_jvm.py"), str(out)],
                   check=True)

    def classes(jar):
        with zipfile.ZipFile(jar) as z:
            return {n: z.read(n) for n in z.namelist()}

    rebuilt = classes(out)
    assert any(n.endswith("ForkFreeLocalFileSystem.class") for n in rebuilt)
    assert rebuilt == classes(FORK_FREE_FS_JAR)


ATTACH = """
import os
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from kafka_stream_aggregator_spark.session import get_spark

if {plain_first}:
    SparkSession.builder.getOrCreate()
spark = get_spark("attach", cpus=1, extra={{"spark.driver.extraClassPath": "/caller.jar"}})
print("CLASS_PATH", spark.conf.get("spark.driver.extraClassPath"))
print("FS_IMPL", spark.conf.get("spark.hadoop.fs.file.impl"))
spark.range(5).write.parquet({out!r})
assert sorted(r.id for r in spark.read.parquet({out!r}).collect()) == [0, 1, 2, 3, 4]

jvm = spark._jvm
hconf = spark._jsparkSession.sessionState().newHadoopConf()
fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), hconf)
print("FS_CLASS", fs.getClass().getSimpleName())
ck = jvm.org.apache.hadoop.fs.Path({ck!r})
mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
    ck, hconf
)
print("MANAGER", mgr.getClass().getSimpleName())
mgr.mkdirs(ck)
target = os.path.join({ck!r}, "1.delta")
for payload in (b"old", b"newer"):
    out = mgr.createAtomic(jvm.org.apache.hadoop.fs.Path(target), True)
    out.write(bytearray(payload))
    out.close()
print("COMMITTED", open(target).read())
spark.stop()
"""


@pytest.mark.parametrize(
    "launcher, fs_class, manager",
    [
        ("plain_session_first", "ProxyLocalFileSystem", "FileContextBasedCheckpointFileManager"),
        ("spark_submit", "LocalFileSystem", "FileSystemBasedCheckpointFileManager"),
    ],
)
def test_get_spark_on_a_jvm_launched_without_the_jar(tmp_path, launcher, fs_class, manager):
    """A JVM that other code launched (a plain session built first, or
    spark-submit) has no engine jar on its class path: get_spark then
    names Hadoop's LocalFileSystem for file:, never a class the JVM
    cannot load, and parquet still writes and reads back there. A
    caller's class path is kept, with the engine's jar after it. The
    plain session's context keeps hive-exec's ProxyLocalFileSystem, so
    its checkpoints keep Spark's default manager; either way an
    overwriting checkpoint commit replaces the file."""
    script = tmp_path / "attach.py"
    script.write_text(textwrap.dedent(ATTACH).format(
        repo=REPO,
        plain_first=launcher == "plain_session_first",
        out=str(tmp_path / "out"),
        ck=str(tmp_path / "ck"),
    ))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g", PYSPARK_PYTHON=sys.executable)
    if launcher == "spark_submit":
        cmd = [os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit"),
               "--master", "local[1]", "--driver-memory", "1g", str(script)]
    else:
        cmd = [sys.executable, str(script)]
    run = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=300)
    assert run.returncode == 0, run.stderr[-3000:]
    lines = dict(line.split(" ", 1) for line in run.stdout.splitlines() if " " in line)
    assert lines == {
        "CLASS_PATH": f"/caller.jar{os.pathsep}{FORK_FREE_FS_JAR}",
        "FS_IMPL": "org.apache.hadoop.fs.LocalFileSystem",
        "FS_CLASS": fs_class,
        "MANAGER": manager,
        "COMMITTED": "newer",
    }
