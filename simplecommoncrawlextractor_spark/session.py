"""SparkSession factory tuned for the engine.

Design notes (100 TB / multi-executor):
- AQE on (runtime coalesce, skew-join splitting) — the reference balances
  uneven gzip files with a hand-rolled work queue
  (cc-extractor/src/main/java/org/tallison/cc/index/CCIndexBatchReader.java:60-101);
  Spark's scheduler + AQE subsume it.
- Arrow on — every Python-side stage in this engine is a vectorized
  pandas UDF / mapInPandas / applyInPandas; zero per-row Python.
- shuffle.partitions defaults small for local test scale; production would
  size it to cluster cores × 2-3 or rely on AQE coalescing.
- Tungsten pages are 1 MiB. Spark otherwise sizes them from the execution
  memory per core, 64 MiB for the 8 GiB local driver, and every sort, hash
  aggregate and broadcast hash relation takes a whole page however few rows
  it holds. A 64 MiB array is a G1 humongous object (over half a 4 MiB
  region). In a crawl round about 500 MiB of them stayed live, and past
  that each new page started another concurrent mark cycle: 8-14
  back-to-back cycles in some runs and none in others, 3-7 s of GC CPU that
  came and went from run to run. A task still takes a larger page when one
  record needs it.
- The generated-class cache holds 1024 classes, not Spark's 100
  (``spark.sql.codegen.cache.maxEntries``, a static conf read at session
  start). A crawl episode compiles about 150 classes and a query pass
  about 115, and each revisits its classes in the same order every time.
  Under LRU with 100 entries each class was evicted before its next use,
  so every round compiled all of them again: a Janino compile (7-11 ms
  mean) on the driver, a new class that starts interpreted, and another
  round of JIT compiles. Measured with Spark's ``CodegenMetrics`` on a
  4-core box, the ``perfbench`` crawl episode after the warm-up compiles
  4 classes instead of 141, a ``query_mix`` pass 0 instead of 111, and
  rounds 4-5 of a 5-round crawl 6 instead of 194. The cache stays bounded
  because one plan still inlines a per-round literal (``fetch_log``'s
  round number), which makes a new class for each new round that must
  age out.
- HotSpot's C2 compiler gets a method only once it stays hot: the four
  tier-4 thresholds are 10x their defaults (``C2_THRESHOLDS``, set as
  ``spark.driver.defaultJavaOptions``; in local mode that JVM runs the
  tasks too). At the defaults a fresh JVM spent more CPU in C2 than on
  work: in a ``perfbench`` ``crawl_bulk`` unit on a 4-core box, C2 used
  6.6-8.2 s and C1 1.2-1.6 s against 2.1-2.7 s of executor task time.
  By ``-XX:+LogCompilation`` that C2 time went to framework code that
  first gets warm at that size (Parquet's column writer, Catalyst, the
  ClosureCleaner's ASM reader, ``Utils.getCallSite``, the Pickler), not
  to generated classes (0.18 s). With 10x thresholds C2 in the unit fell
  to 3.1-3.4 s and ``setup_s`` 42.6 -> 33.2 s, while the long
  ``tools/loop_throughput.py`` loop kept its urls/s. 20x thresholds cost
  that loop about 6%, and C1 only (``TieredStopAtLevel=1``) and 50x
  15-30%: its hot loops need C2 code. Spark prepends
  ``defaultJavaOptions`` to ``spark.driver.extraJavaOptions``, so a
  caller's own JVM options still apply. Like any JVM option it applies
  only when this process launches the JVM, not under ``spark-submit``.
- Python worker start-up is paid once per worker. PySpark's daemon calls
  ``importlib.invalidate_caches()`` before every task, which re-reads the
  central directory of ``pyspark.zip`` and the py4j zip once per zip
  importer: about 0.1 s of CPU per task, and a private copy of each
  directory per worker. ``worker_daemon`` runs the same daemon with zip
  importers left out of that call. It is set through
  ``spark.python.daemon.module`` only when the worker's Python can import
  it: a local master whose JVM this process launches (not under
  ``spark-submit``), with the package imported from a directory whose
  parent is the current directory (the JVM's, so the daemon's) or on
  ``PYTHONPATH``. Otherwise, e.g. with ``--py-files dist/ccspark.zip`` or
  run from elsewhere with the package only on ``sys.path``, the session
  keeps PySpark's own ``pyspark.daemon``. ``extra_conf`` overrides either.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
DAEMON_MODULE = "simplecommoncrawlextractor_spark.worker_daemon"
# HotSpot's defaults are 5000, 600, 15000 and 40000 (see the module docstring)
C2_THRESHOLDS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def _daemon_importable(master: str) -> bool:
    """Whether the Python workers of a new session on ``master`` can import
    ``DAEMON_MODULE`` when Spark starts the daemon (see the module docstring)."""
    local = master == "local" or master.startswith("local[")
    if not local or os.environ.get("PYSPARK_GATEWAY_PORT"):
        return False
    pkg = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg):
        return False
    parent = os.path.realpath(os.path.dirname(pkg))
    roots = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return any(r and os.path.realpath(r) == parent for r in roots)


def get_spark(
    app_name: str = "simplecommoncrawlextractor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``,
    or to one thread per CPU this process may run on when that is unset;
    pass ``local[8]`` vs ``local[32]`` to evidence scaling efficiency.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.buffer.pageSize", "1m")
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.driver.defaultJavaOptions", C2_THRESHOLDS)
    )
    # local-mode shuffle spills to tmpfs when available: at high local
    # parallelism the disk becomes the shuffle bottleneck long before CPU
    shm = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/ccspark-local")
    try:
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    except OSError:
        pass
    if _daemon_importable(master):
        builder = builder.config("spark.python.daemon.module", DAEMON_MODULE)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
