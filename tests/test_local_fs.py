"""The file:// FileSystem `get_spark` installs (`no_ocr_spark/jvm/`) and the
per-application scratch dirs:

* a session `get_spark` launches writes a lineage run without forking
  `chmod`, with Hadoop's modes and one `.crc` per data file, and runs with
  a fixed young generation and, unless SPARK_GRAFT_DRIVER_MEM is set, a
  heap of half the host's memory (at most 16g); a submitted session
  (PYSPARK_GATEWAY_PORT set) is left with Hadoop's own FileSystem and the
  submitter's JVM options, and gets the hash kernel by adding the jar to
  the running JVM,
* the committed jar is the committed source, compiled,
* compose-time scratch tables are private to their application, and only
  `session.scratch_dir` picks their root.
"""

from __future__ import annotations

import ast
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile
import zipfile
from types import SimpleNamespace

import pytest

from no_ocr_spark.session import (DRIVER_JAVA_OPTIONS, JVM_JAR, LOCAL_FS_CLASS,
                                  scratch_dir)

ROOT = pathlib.Path(__file__).resolve().parent.parent
JVM_DIR = ROOT / "no_ocr_spark" / "jvm"

_LINEAGE_RUN = """
import sys
from no_ocr_spark.plans.lineage import run_with_lineage
from no_ocr_spark.session import get_spark
from no_ocr_spark.sources.synth_spark import pages_df

spark = get_spark(app="local_fs_test", master="local[2]", shuffle_partitions=2)
print("fs.file.impl=%s" % spark.sparkContext._jsc.hadoopConfiguration().get("fs.file.impl"))
mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print("jvm args=%s" % list(mx.getInputArguments()))
run_with_lineage(spark, pages_df(spark, 12), sys.argv[1], n_buckets=2)
spark.stop()
"""

_SUBMITTED = """
import os
from no_ocr_spark.session import get_spark

assert "PYSPARK_GATEWAY_PORT" in os.environ
spark = get_spark(app="local_fs_submitted")
print("fs.file.impl=%s" % spark.sparkContext._jsc.hadoopConfiguration().get("fs.file.impl"))
print("extraClassPath=%s" % spark.conf.get("spark.driver.extraClassPath", None))
mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print("jvm args=%s" % list(mx.getInputArguments()))
from no_ocr_spark.functions import docsig
docs = spark.createDataFrame([("a b a b a b",)], "text string")
jar, docsig.JVM_JAR = docsig.JVM_JAR, "/nonexistent/no-ocr-spark.jar"
try:
    docsig.with_doc_sig(docs)
except RuntimeError as e:
    print("no jar: %s" % e)
docsig.JVM_JAR = jar
row = docsig.with_doc_sig(docs).first()
print("kernel=%s/%d" % (row.is_repetitive, len(row.sig)))
spark.stop()
"""


def _env(**extra: str) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY")}
    env.update(PYTHONPATH=str(ROOT), SPARK_GRAFT_DRIVER_MEM="1g", **extra)
    return env


def _run(cmd: list[str], env: dict) -> str:
    r = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=600,
                       preexec_fn=lambda: os.umask(0o022))
    causes = [ln for ln in r.stderr.splitlines()
              if "Exception" in ln and not ln[:1].isspace()]
    assert r.returncode == 0, "\n".join(causes[:10]) + "\n...\n" + r.stderr[-2000:]
    return r.stdout


def test_writes_fork_no_chmod_and_keep_modes_and_checksums(tmp_path):
    fake_bin = tmp_path / "bin"
    fake_bin.mkdir()
    chmod = fake_bin / "chmod"
    chmod.write_text('#!/bin/sh\necho "chmod forked: $*" >&2\nexit 1\n')
    chmod.chmod(0o755)
    out = tmp_path / "job"
    env = _env(PATH=f"{fake_bin}{os.pathsep}{os.environ['PATH']}")
    derived_heap = "SPARK_GRAFT_DRIVER_MEM" not in os.environ
    if derived_heap:
        del env["SPARK_GRAFT_DRIVER_MEM"]
    stdout = _run([sys.executable, "-c", _LINEAGE_RUN, str(out)], env)
    assert f"fs.file.impl={LOCAL_FS_CLASS}" in stdout
    assert f"'{DRIVER_JAVA_OPTIONS}'" in stdout  # fixed young generation
    if derived_heap:  # half of physical memory, capped at 16g
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        assert f"'-Xmx{min(16 * 1024, phys // 2 // 2**20)}m'" in stdout

    dirs = [out] + [p for p in out.rglob("*") if p.is_dir()]
    files = [p for p in out.rglob("*") if p.is_file()]
    assert {oct(p.stat().st_mode & 0o7777) for p in dirs} == {"0o755"}
    assert {oct(p.stat().st_mode & 0o7777) for p in files} == {"0o644"}
    for table in ("extracted", "spans", "lineage"):
        assert list((out / table).rglob("*.parquet")), table
    for d in dirs:
        names = {p.name for p in d.iterdir() if p.is_file()}
        data = {n for n in names if not n.endswith(".crc")}
        assert names - data == {f".{n}.crc" for n in data}, d

    # a submitted job's JVM has only the classpath spark-submit was given
    from pyspark.find_spark_home import _find_spark_home

    script = tmp_path / "submitted.py"
    script.write_text(_SUBMITTED)
    stdout = _run([os.path.join(_find_spark_home(), "bin", "spark-submit"),
                   "--master", "local[1]", str(script)], _env())
    assert "fs.file.impl=None" in stdout
    assert "extraClassPath=None" in stdout
    assert DRIVER_JAVA_OPTIONS not in stdout  # the submitter's JVM options
    assert "no jar: " in stdout and "no-ocr-spark.jar" in stdout
    assert "kernel=True/8" in stdout  # the jar, added to the running JVM


@pytest.mark.skipif(shutil.which("javac") is None, reason="javac is not installed")
def test_committed_jar_is_the_compiled_source(tmp_path):
    from pyspark.find_spark_home import _find_spark_home

    sources = sorted(JVM_DIR.glob("*.java"))
    assert sources and not list(JVM_DIR.glob("*.py"))
    jars = os.path.join(_find_spark_home(), "jars", "*")
    subprocess.run(["javac", "--release", "17", "-cp", jars, "-d", str(tmp_path)]
                   + [str(s) for s in sources], check=True, timeout=300)
    built = {p.relative_to(tmp_path).as_posix(): p.read_bytes()
             for p in tmp_path.rglob("*.class")}
    with zipfile.ZipFile(JVM_JAR) as jar:
        committed = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert sorted(committed) == sorted(built)
    stale = [n for n in built if built[n] != committed[n]]
    assert not stale, f"rebuild the jar (command in the .java header): {stale}"


def test_scratch_dir_is_per_application():
    def session(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    a = scratch_dir(session("local-1"), "no_ocr_snap_gate", "sf0.001", "t")
    b = scratch_dir(session("local-2"), "no_ocr_snap_gate", "sf0.001", "t")
    assert a != b
    assert a == scratch_dir(session("local-1"), "no_ocr_snap_gate", "sf0.001", "t")
    for p in (a, b):
        assert p.startswith(tempfile.gettempdir() + os.sep)


def test_only_scratch_dir_reads_the_temp_root():
    """A fixed path under the temp root is shared by every session on the
    host; `session.scratch_dir` is the one place that picks it."""
    hits = []
    for path in sorted((ROOT / "no_ocr_spark").rglob("*.py")):
        if path.name == "session.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            name = getattr(node, "attr", None) or getattr(node, "id", None)
            if name == "gettempdir":
                hits.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert not hits, hits
