"""``get_spark``'s worker daemon: when it is set, that a Python stage runs
with it set and unset, and what its ``invalidate_caches`` wrapper keeps;
its Tungsten page size; its generated-class cache; and its JVM options.

The Spark cases each start their own session in a subprocess, because the
test session's JVM (and its daemon conf) already exists."""

from __future__ import annotations

import importlib
import importlib.util
import json
import os
import subprocess
import sys
import zipfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "simplecommoncrawlextractor_spark.worker_daemon"

# Run by ``python -c`` with argv = [pkg_path, probe_zip_dir]. It puts
# ``pkg_path`` first on sys.path, opens a session through get_spark, runs a
# 4-task mapInPandas, and, when ``probe_zip_dir`` is given, adds two zips
# with ``addPyFile`` after the workers are warm and imports each in a task.
CHILD = r"""
import json, os, sys
pkg_path, probe_dir = sys.argv[1], sys.argv[2]
sys.path.insert(0, pkg_path)
import simplecommoncrawlextractor_spark as pkg
spark = pkg.get_spark(app_name="test-session", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")

def plus_one(it):
    for pdf in it:
        yield pdf.assign(id=pdf["id"] + 1)

rows = sorted(r.id for r in spark.range(0, 8, numPartitions=4).mapInPandas(plus_one, "id long").collect())
probes = []
if probe_dir:
    for name in ("ccs_probe_a", "ccs_probe_b"):
        spark.sparkContext.addPyFile(os.path.join(probe_dir, name + ".zip"))

        def load(it, name=name):
            import importlib
            value = importlib.import_module(name).VALUE
            for pdf in it:
                yield pdf.assign(id=value)

        probes += sorted({r.id for r in spark.range(0, 4, numPartitions=2).mapInPandas(load, "id long").collect()})
module = spark.sparkContext.getConf().get("spark.python.daemon.module", None)
spark.stop()
print(json.dumps({"module": module, "file": pkg.__file__, "rows": rows, "probes": probes}))
"""


# Run like CHILD: opens a session whose caller adds a JVM option of its own
# and prints the JVM's input arguments and the property that option sets.
JVM_CHILD = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
import simplecommoncrawlextractor_spark as pkg
spark = pkg.get_spark(
    app_name="test-session-jvm", master="local[1]", shuffle_partitions=1,
    extra_conf={"spark.driver.extraJavaOptions": "-Dccspark.probe=1"},
)
jvm = spark._jvm
args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
probe = jvm.java.lang.System.getProperty("ccspark.probe")
spark.stop()
print(json.dumps({"args": args, "probe": probe}))
"""

# HotSpot's four C2 thresholds at 10x their defaults
C2_THRESHOLDS = {
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
}


def _run_child(cwd: str, pkg_path: str, probe_dir: str = "", script: str = CHILD) -> dict:
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "PYSPARK_GATEWAY_PORT")}
    env["PYSPARK_PYTHON"] = sys.executable
    out = subprocess.run(
        [sys.executable, "-c", script, pkg_path, probe_dir],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _zip_module(path, name: str, body: str) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(name + ".py", body)
    return str(path)


def test_daemon_set_from_repo_root_and_add_py_file_after_warm_workers(tmp_path):
    _zip_module(tmp_path / "ccs_probe_a.zip", "ccs_probe_a", "VALUE = 100\n")
    _zip_module(tmp_path / "ccs_probe_b.zip", "ccs_probe_b", "VALUE = 200\n")
    got = _run_child(ROOT, ROOT, str(tmp_path))
    assert got["module"] == DAEMON
    assert got["rows"] == list(range(1, 9))
    assert got["probes"] == [100, 200]


def test_daemon_unset_when_package_only_on_sys_path(tmp_path):
    # cwd is elsewhere and PYTHONPATH is unset: a worker could not import
    # the daemon module, so the session must keep pyspark.daemon.
    got = _run_child(str(tmp_path), ROOT)
    assert got["module"] is None
    assert got["rows"] == list(range(1, 9))


def test_daemon_unset_when_package_imported_from_zip(tmp_path):
    # the dist/ccspark.zip that tools/package.py builds, from this checkout
    spec = importlib.util.spec_from_file_location("package_tool", os.path.join(ROOT, "tools", "package.py"))
    package = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(package)
    zpath = package.build(str(tmp_path / "ccspark.zip"))
    got = _run_child(ROOT, zpath)
    assert got["file"].startswith(zpath + os.sep)
    assert got["module"] is None
    assert got["rows"] == list(range(1, 9))


def test_daemon_unset_off_local_masters_and_under_spark_submit(monkeypatch):
    from simplecommoncrawlextractor_spark.session import _daemon_importable

    monkeypatch.chdir(ROOT)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert _daemon_importable("local[2]") and _daemon_importable("local")
    # executors of a cluster master start in their own work directory
    assert not _daemon_importable("local-cluster[2,1,1024]")
    assert not _daemon_importable("yarn")
    # under spark-submit the JVM, and its cwd and environment, came first
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert not _daemon_importable("local[2]")


def test_tungsten_pages_are_one_mib(spark):
    # Spark's own size for an 8 GiB driver is 64 MiB, a G1 humongous object
    memory = spark._jvm.org.apache.spark.SparkEnv.get().memoryManager()
    assert memory.pageSizeBytes() == 1 << 20


def test_generated_classes_compile_once(spark):
    # 150 distinct classes visited twice in the same order, the shape of a
    # crawl round's plans: an LRU cache smaller than that evicts each one
    # before its next use, so the second pass would compile all of them.
    # No other test uses these literals, so the first pass compiles each.
    from pyspark.sql import functions as F

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    queries = [spark.range(4).select(F.col("id") + F.lit(i)) for i in range(1000, 1150)]
    counts = [compiles.getCount()]
    for _ in range(2):
        for q in queries:
            q.collect()
        counts.append(compiles.getCount())
    assert counts[1] - counts[0] >= len(queries)
    assert counts[2] - counts[1] == 0


def test_c2_thresholds_in_shared_session(spark):
    args = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    assert C2_THRESHOLDS <= set(args)


def test_c2_thresholds_kept_with_callers_java_options():
    # Spark prepends defaultJavaOptions to the caller's extraJavaOptions
    got = _run_child(ROOT, ROOT, script=JVM_CHILD)
    assert C2_THRESHOLDS <= set(got["args"])
    assert "-Dccspark.probe=1" in got["args"]
    assert got["probe"] == "1"


@pytest.fixture
def wrapped(monkeypatch):
    """The daemon's ``invalidate_caches``; ``importlib``'s is restored after."""
    monkeypatch.setattr(importlib, "invalidate_caches", importlib.invalidate_caches)
    monkeypatch.setattr(sys, "path", list(sys.path))
    names = []
    yield importlib.import_module(DAEMON).invalidate_caches, names
    for n in names:
        sys.modules.pop(n, None)


def test_wrapper_keeps_zip_directories_and_resets_path_finders(tmp_path, wrapped):
    invalidate, names = wrapped
    names += ["wd_zipped", "wd_plain_old", "wd_plain_new", "wd_zipped_later"]
    zpath = _zip_module(tmp_path / "a.zip", "wd_zipped", "VALUE = 1\n")
    plain = tmp_path / "plain"
    plain.mkdir()
    (plain / "wd_plain_old.py").write_text("VALUE = 2\n")
    sys.path[:0] = [zpath, str(plain)]
    assert importlib.import_module("wd_zipped").VALUE == 1
    assert importlib.import_module("wd_plain_old").VALUE == 2
    importer = sys.path_importer_cache[zpath]
    files = importer._files

    # A module written into a directory the FileFinder already listed, with
    # the directory's mtime put back: only an invalidated finder sees it.
    st = os.stat(plain)
    (plain / "wd_plain_new.py").write_text("VALUE = 3\n")
    os.utime(plain, ns=(st.st_atime_ns, st.st_mtime_ns))
    invalidate()
    assert importer._files is files
    assert importlib.import_module("wd_plain_new").VALUE == 3

    later = _zip_module(tmp_path / "b.zip", "wd_zipped_later", "VALUE = 4\n")
    sys.path.insert(0, later)
    invalidate()
    assert importlib.import_module("wd_zipped_later").VALUE == 4
    assert sys.path_importer_cache[zpath]._files is files

    # The unwrapped call re-reads the archive, which is what the wrapper skips.
    importlib.import_module(DAEMON)._invalidate_caches()
    assert importer._files is not files
