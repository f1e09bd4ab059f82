"""ccspark benchmark: one named workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload crawl_bulk --seed 7 --seconds 40 --trace 0

Workloads (perfbench/DESIGN.md says why these two and what each loads):

- ``crawl_bulk``: ``CrawlScheduler.bootstrap`` over a seed URL frame
  generated from ``--seed``, ``step()`` rounds, then the ``crawl_order()``
  audit, on a fresh state store. One such episode is the unit of work.
- ``query_mix``: passes over dedup/similarity and index callables of
  ``__spark_entry__.queries()`` on the fixed sf0.1 tables in
  ``perfbench/data``; ``--seed`` only shuffles the query order of each
  pass. One pass is the unit of work.

The program runs on ``local[nproc]`` with ``shuffle_partitions=nproc``
through ``get_spark``; the next operation starts only when the previous one
has finished. The number of units per workload is fixed here, so every
commit measures the same work; ``--seconds`` is part of the benchmark's
command line, and BENCHMARK.json's ``run_seconds`` states about how long
the measured units take on a 4-core box.

End-to-end times are CPU seconds of the whole process tree (DESIGN.md says
why); the wall times, including the crawl operator's ``bootstrap_s``,
``crawl_urls_per_s``, ``round_s_p50``, ``round_s_max`` and ``audit_s``, go
to the context record, and each op's wall and CPU seconds to its ``units``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on Spark's
event log, wraps the public calls of the same measured units in spans
(perfbench/spans.py), and prints the per-layer table and the per-layer
metrics; its ``trace.pass_cpu_s`` and ``trace.pass_s`` minus an untraced
run's ``pass_cpu_s`` and ``pass_s`` are the tracing overhead. Correctness is
checked outside the timed region. The last stdout line is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the
line before it is a JSON ``context`` record (nproc, load, source id,
control leg, the crawl figures under their own names).
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
PINS = os.path.join(HERE, "pins.json")

# The crawl is sized so that one episode (bootstrap, one large round, audit)
# fits the run budget on a 4-core box: a step() has a large fixed per-round
# cost (about 70 Spark jobs, 10 s), so a second round would cost more than
# the per-URL work it adds, and the cold warm-up already costs about 30 s.
CRAWL = {
    "n_seeds": 8_000,
    "n_hosts": 800,
    "hot_share": 0.3,
    "host_budget": 50,
    "salt_k": 16,
    "n_buckets": 64,
    "rounds": 1,
}
CRAWL_WARM = {**CRAWL, "n_seeds": 400, "n_hosts": 40, "rounds": 1}
WARM_SEED = 20260816

# The Arrow/Python-heavy operators.dedup and operators.similarity path ...
DEDUP_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "semantic_dedup_pairs",
]
# ... and the mostly-JVM scan/aggregate path over the CDX view, WARC,
# wikidump and events sources, which a change to the Python boundary or to
# crawl state should not move.
INDEX_QUERIES = [
    "a6_count_tld_mime_200",
    "s9_wiki_external_links",
    "warc_roundtrip_records",
    "events_sessionize",
]
QUERY_MIX = DEDUP_QUERIES + INDEX_QUERIES

# units measured per run, after the warm-up
UNITS = {"crawl_bulk": 1, "query_mix": 1}
WORKLOADS = tuple(UNITS)
CONTROL_ROWS = 2_000_000
# the sampler's on/off comparison (DESIGN.md) was made by flipping this
PY_RSS_SAMPLER = True


def _process_age_s() -> float:
    """Seconds since this process started, from /proc (tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _source_id() -> dict:
    """The commit id when the checkout is a git repository, and always a
    digest of the program's own source files."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "simplecommoncrawlextractor_spark")
    files = [os.path.join(ROOT, f) for f in ("__spark_entry__.py", "bench.py", "bench_extra.py")]
    for d, _, names in sorted(os.walk(pkg)):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}


def _isolate(work: str) -> None:
    """Keep every file Spark, its workers and the program write under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(work: str, event_log: str | None):
    from simplecommoncrawlextractor_spark import get_spark

    n = _nproc()
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log is not None:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + event_log,
        })
    spark = get_spark(
        app_name="ccspark-perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait for each."""
    from rss import descendants

    kids = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)


def _op(ops: list, kind: str, fn):
    """Run one timed operation; an exception marks it failed instead of ending the run."""
    from rss import tree_cpu_s

    c0, t0 = tree_cpu_s(), time.perf_counter()
    try:
        out, err = fn(), None
    except Exception as e:  # noqa: BLE001 - any failure of the program counts
        out, err = None, f"{type(e).__name__}: {e}"[:300]
    ops.append({"kind": kind, "s": time.perf_counter() - t0, "cpu_s": tree_cpu_s() - c0, "error": err})
    return out


# ---------------------------------------------------------------------------
# crawl_bulk
# ---------------------------------------------------------------------------


def crawl_seeds(spark, seed: int, n_seeds: int, n_hosts: int, hot_share: float, **_):
    """Seed URL frame from (seed, n, n_hosts, hot share): an exact hot-host
    share, cold URLs spread evenly over seed-named hosts, and half of the
    URLs in non-canonical spellings so canonicalization has work."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    n_hot = int(round(n_seeds * hot_share))
    cold = np.arange(n_seeds - n_hot) % n_hosts
    hosts = ["hot.example.com"] * n_hot + [f"s{seed}-h{h}.example.com" for h in cold]
    order = rng.permutation(n_seeds)
    ids = rng.integers(0, 1 << 40, n_seeds)
    urls = []
    for i, j in enumerate(order):
        host, path = hosts[j], f"/start/{ids[i]:x}"
        if i % 4 == 0:
            urls.append(f"HTTPS://{host.upper()}:443{path}")
        elif i % 4 == 1:
            urls.append(f"https://{host}{path}?b=2&a=1#frag")
        else:
            urls.append(f"https://{host}{path}")
    pdf = pd.DataFrame({
        "url": urls,
        "priority": np.round(rng.random(n_seeds), 3),
        "discovered_at": pd.to_datetime(1735689600 + np.arange(n_seeds), unit="s"),
    })
    return spark.createDataFrame(pdf, "url string, priority double, discovered_at timestamp")


def _store_stats(root: str) -> dict:
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    with open(os.path.join(root, "manifest.json")) as f:
        tables = json.load(f)["tables"]

    def n_parts(name):
        rel = tables.get(name)
        if rel is None:
            return 0
        if isinstance(rel, dict):
            return len(rel["parts"])
        return len(rel) if isinstance(rel, list) else 1

    return {
        "bytes_written": size,
        "files_written": files,
        "parts.frontier": n_parts("frontier"),
        "parts.url_seen": n_parts("url_seen"),
        "parts.blooms": n_parts("blooms"),
    }


def crawl_episode(spark, seeds, store_root: str, cfg: dict, tracer=None) -> dict:
    """bootstrap → ``rounds`` × step() → crawl_order() collect, on a fresh store.
    The first operation that raises ends the episode."""
    from simplecommoncrawlextractor_spark.plans import CrawlScheduler, StateStore

    store = StateStore(store_root)
    sched = CrawlScheduler(
        spark, store, host_budget=cfg["host_budget"], salt_k=cfg["salt_k"],
        n_buckets=cfg["n_buckets"], seen_backend="bloom",
    )
    if tracer is not None:
        tracer.wrap(sched, "bootstrap", "bootstrap")
        tracer.wrap(sched, "step", "step")
        tracer.wrap(sched, "frontier", "frontier")
        tracer.wrap(store, "commit", "state.commit")
        tracer.wrap(store, "read", "state.read")
        tracer.wrap(sched.seen, "probe", "seen.probe")
        tracer.wrap(sched.seen, "merge_delta", "seen.merge_delta")

    def audit():
        if tracer is None:
            return sched.crawl_order().collect()
        with tracer.span("audit"):
            return sched.crawl_order().collect()

    ops, fetched, rows = [], [], None
    t0 = time.perf_counter()
    _op(ops, "bootstrap", lambda: sched.bootstrap(seeds))
    for _ in range(cfg["rounds"]):
        if ops[-1]["error"]:
            break
        st = _op(ops, "step", sched.step)
        if st is not None:
            fetched.append(st["fetched"])
    if not ops[-1]["error"]:
        rows = _op(ops, "audit", audit)
    return {
        "unit_s": time.perf_counter() - t0,
        "ops": ops,
        "fetched": fetched,
        "rows": None if rows is None else [
            (r["round"], r["host"], r["fetch_rank"], r["URL"]) for r in rows
        ],
        "store": _store_stats(store_root) if rows is not None else {},
    }


def crawl_digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(("\t".join(map(str, r)) + "\n").encode())
    return h.hexdigest()


def check_crawl(ep: dict, cfg: dict, pin: str | None) -> list[str]:
    """Problems with one episode's crawl order: its invariants for any
    seed, and the pinned digest when this seed has one."""
    rows = ep["rows"]
    if rows is None:
        return [op["error"] for op in ep["ops"] if op["error"]]
    problems = []
    if len(rows) != sum(ep["fetched"]) or not rows:
        problems.append(f"{len(rows)} audit rows for {sum(ep['fetched'])} fetched")
    if len({r[3] for r in rows}) != len(rows):
        problems.append("a URL was scheduled twice")
    if sorted({r[0] for r in rows}) != list(range(1, cfg["rounds"] + 1)):
        problems.append("rounds missing from the crawl order")
    ranks: dict = {}
    for rnd, host, rank, _ in rows:
        ranks.setdefault((rnd, host), []).append(rank)
    for key, rs in ranks.items():
        if sorted(rs) != list(range(1, len(rs) + 1)) or len(rs) > cfg["host_budget"]:
            problems.append(f"fetch ranks of {key} are {sorted(rs)[:5]}...")
            break
    if pin is not None and pin != crawl_digest(rows):
        problems.append("crawl order digest differs from the pinned one")
    return problems


def load_pins() -> dict:
    """perfbench/pins.json, written by perfbench/pin.py: the crawl-order
    digest of each pinned seed, and the DuckDB oracle answer of each
    oracled query at sf0.1."""
    with open(PINS) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


def query_fns() -> dict:
    import __spark_entry__ as entry

    allq = entry.queries()
    return {name: allq[name] for name in QUERY_MIX}


def query_pass(spark, fns: dict, order: list[str], sf_dir: str, tracer=None) -> dict:
    ops, results = [], {}

    def one(name):
        if tracer is None:
            return fns[name](spark, sf_dir).toPandas()
        with tracer.span(f"q.{name}"):
            return fns[name](spark, sf_dir).toPandas()

    t0 = time.perf_counter()
    for name in order:
        results[name] = _op(ops, name, lambda: one(name))
    return {"unit_s": time.perf_counter() - t0, "ops": ops, "results": results}


def oracle_answers(sf_dir: str) -> dict:
    """name -> [row count, value hash, columns] of the DuckDB oracle answer."""
    import duckdb

    import __spark_entry__ as entry
    from tools.selfcheck import value_hash

    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        t = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    sql = entry.oracle_sql()
    out = {}
    for name in QUERY_MIX:
        ddf = con.execute(sql[name]).df()
        out[name] = [len(ddf), value_hash(ddf), sorted(ddf.columns)]
    con.close()
    return out


def check_query(name: str, pdf, oracle: dict) -> str | None:
    from tools.selfcheck import value_hash

    n, h, cols = oracle[name]
    if len(pdf) != n or sorted(pdf.columns) != cols:
        return f"{len(pdf)} rows vs oracle {n}"
    if value_hash(pdf) != h:
        return "value hash differs from the oracle"
    return None


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def _ok(ops: list, kind: str | None = None) -> list[float]:
    """Wall seconds of the ops that succeeded, of one kind or of any."""
    return [o["s"] for o in ops if not o["error"] and (kind is None or o["kind"] == kind)]


def _op_kind(workload: str) -> str | None:
    """An op is a step() round in crawl_bulk and a query in query_mix."""
    return "step" if workload == "crawl_bulk" else None


def end_to_end_metrics(units: list[dict], setup_s: float, rss_mb: float | None) -> dict:
    """Every end-to-end metric. Times are CPU seconds of the whole process
    tree (driver, JVM, Python workers): on a shared host whose CPUs are
    stolen by other tenants they vary less than wall time, which the
    context record carries instead."""
    if not any(_ok(u["ops"]) for u in units):
        raise RuntimeError("no operation succeeded, so there is nothing to time")
    m = {
        "setup_s": (setup_s, "s"),
        "pass_cpu_s": (statistics.median(u["cpu_s"] for u in units), "s"),
    }
    if rss_mb is not None:
        m["py_peak_rss_mb"] = (rss_mb, "MB")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def wall_figures(workload: str, units: list[dict], setup_wall_s: float) -> dict:
    """Wall times, for the context record; crawl_bulk adds the crawl
    operator's figures under their own names."""
    ops = [o for u in units for o in u["ops"]]
    op_s = _ok(ops, _op_kind(workload))
    out = {
        "setup_wall_s": setup_wall_s,
        "pass_s": statistics.median(u["unit_s"] for u in units),
        "op_s_p50": statistics.median(op_s) if op_s else 0.0,
        "op_s_max": max(op_s, default=0.0),
    }
    if workload == "crawl_bulk":
        out.update({
            "bootstrap_s": statistics.median(_ok(ops, "bootstrap") or [0.0]),
            "crawl_urls_per_s": sum(sum(u["fetched"]) for u in units) / sum(op_s) if op_s else 0.0,
            "round_s_p50": out["op_s_p50"],
            "round_s_max": out["op_s_max"],
            "audit_s": statistics.median(_ok(ops, "audit") or [0.0]),
        })
    return out


CRAWL_LAYER = [
    ("scheduler.jobs_per_round", "count"), ("scheduler.tasks_per_round", "count"),
    ("scheduler.self_s", "s"), ("scheduler.task_s", "s"),
    ("state.commit_s", "s"), ("state.commit_jobs", "count"),
    ("state.read_s", "s"), ("state.read_calls", "count"),
    ("state.bytes_written", "B"), ("state.files_written", "count"),
    ("state.parts.frontier", "count"), ("state.parts.url_seen", "count"),
    ("state.parts.blooms", "count"),
    ("seen.probe_s", "s"), ("seen.merge_delta_s", "s"),
    ("step.shuffle_write_bytes", "B"), ("step.shuffle_read_bytes", "B"),
    ("step.py_bytes_sent", "B"), ("step.py_bytes_returned", "B"),
    ("step.py_worker_s", "s"), ("step.stages", "count"),
    ("step.failed_tasks", "count"), ("step.spill_bytes", "B"),
    ("frontier.self_s", "s"), ("frontier.jobs", "count"),
    ("bootstrap.s", "s"), ("bootstrap.jobs", "count"),
    ("bootstrap.canonicalize_py_bytes_sent", "B"),
    ("audit.s", "s"), ("audit.jobs", "count"),
]
QUERY_FIELDS = [("s", "s"), ("task_s", "s"), ("jobs", "count"), ("shuffle_write_bytes", "B")]
PY_FIELDS = [("py_bytes_sent", "B"), ("py_worker_s", "s")]
QUERY_LAYER = (
    [(f"q.{q}.{f}", u) for q in QUERY_MIX for f, u in QUERY_FIELDS]
    + [(f"q.{q}.{f}", u) for q in DEDUP_QUERIES for f, u in PY_FIELDS]
    + [("queries.stages", "count"), ("queries.failed_tasks", "count"), ("queries.spill_bytes", "B")]
)
TRACE_LAYER = [("trace.pass_cpu_s", "s"), ("trace.pass_s", "s")]
PER_LAYER = CRAWL_LAYER + QUERY_LAYER + TRACE_LAYER


def _canonicalize_nodes(log) -> list[int]:
    return [i for i, n in enumerate(log.nodes) if n["node"] == "MapInPandas" and "canon(" in n["desc"]]


def crawl_layer(spans: list[dict], log, store: dict) -> dict:
    from spans import self_times, subtree

    selfs = self_times(spans)
    by = lambda n: [s for s in spans if s["name"] == n]  # noqa: E731
    dur = lambda ss: sum(s["end"] - s["start"] for s in ss)  # noqa: E731
    tree = lambda ss: [i for s in ss for i in subtree(spans, s["id"])]  # noqa: E731
    steps = by("step")
    step_ids = tree(steps)
    per_round = [log.total(subtree(spans, s["id"]), "jobs") for s in steps]
    boot = by("bootstrap")
    return {
        "scheduler.jobs_per_round": statistics.mean(per_round),
        "scheduler.tasks_per_round": log.total(step_ids, "tasks") / len(steps),
        "scheduler.self_s": sum(selfs[s["id"]] for s in steps),
        "scheduler.task_s": log.total(step_ids, "task_s"),
        "state.commit_s": dur(by("state.commit")),
        "state.commit_jobs": log.total(tree(by("state.commit")), "jobs"),
        "state.read_s": dur(by("state.read")),
        "state.read_calls": len(by("state.read")),
        **{f"state.{k}": float(x) for k, x in store.items()},
        "seen.probe_s": dur(by("seen.probe")),
        "seen.merge_delta_s": dur(by("seen.merge_delta")),
        "step.shuffle_write_bytes": log.total(step_ids, "shuffle_write_bytes"),
        "step.shuffle_read_bytes": log.total(step_ids, "shuffle_read_bytes"),
        "step.py_bytes_sent": log.total(step_ids, "py_bytes_sent"),
        "step.py_bytes_returned": log.total(step_ids, "py_bytes_returned"),
        "step.py_worker_s": log.total(step_ids, "py_worker_s"),
        "step.stages": log.total(step_ids, "stages"),
        "step.failed_tasks": log.total(step_ids, "failed_tasks"),
        "step.spill_bytes": log.total(step_ids, "spill_bytes"),
        "frontier.self_s": sum(selfs[s["id"]] for s in by("frontier")),
        "frontier.jobs": log.total([s["id"] for s in by("frontier")], "jobs"),
        "bootstrap.s": dur(boot),
        "bootstrap.jobs": log.total(tree(boot), "jobs"),
        "bootstrap.canonicalize_py_bytes_sent": log.node_total(
            tree(boot), _canonicalize_nodes(log), "data sent to Python workers"
        ),
        "audit.s": dur(by("audit")),
        "audit.jobs": log.total(tree(by("audit")), "jobs"),
    }


def query_layer(spans: list[dict], log) -> dict:
    from spans import subtree

    v, all_ids = {}, []
    for q in QUERY_MIX:
        ss = [s for s in spans if s["name"] == f"q.{q}"]
        ids = [i for s in ss for i in subtree(spans, s["id"])]
        all_ids += ids
        n = max(1, len(ss))
        v[f"q.{q}.s"] = sum(s["end"] - s["start"] for s in ss) / n
        fields = [f for f, _ in QUERY_FIELDS[1:] + (PY_FIELDS if q in DEDUP_QUERIES else [])]
        for f in fields:
            v[f"q.{q}.{f}"] = log.total(ids, f) / n
    v["queries.stages"] = log.total(all_ids, "stages")
    v["queries.failed_tasks"] = log.total(all_ids, "failed_tasks")
    v["queries.spill_bytes"] = log.total(all_ids, "spill_bytes")
    return v


SPAN_KEYS = ("jobs", "stages", "tasks", "failed_tasks", "task_s", "spill_bytes",
             "shuffle_write_bytes", "shuffle_read_bytes", "py_bytes_sent",
             "py_bytes_returned", "py_worker_s")


def span_table(spans: list[dict], log) -> list[str]:
    """One line per span name (count, wall, self time, joined Spark totals),
    then one line per step() round with its whole subtree's totals."""
    from spans import self_times, subtree

    selfs = self_times(spans)

    def fmt(label, n, wall, self_s, tot):
        return (f"{label:<30}{n:>4}{wall:>9.3f}{self_s:>9.3f}"
                + "".join(f"{tot[k]:>20.3f}" if k.endswith("_s") else f"{tot[k]:>20.0f}"
                          for k in SPAN_KEYS))

    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(s["name"], {"n": 0, "wall": 0.0, "self": 0.0, "tot": dict.fromkeys(SPAN_KEYS, 0.0)})
        r["n"] += 1
        r["wall"] += s["end"] - s["start"]
        r["self"] += selfs[s["id"]]
        for k in SPAN_KEYS:
            r["tot"][k] += log.groups[s["id"]].get(k, 0.0) if s["id"] in log.groups else 0.0
    out = [f"{'span (own jobs)':<30}{'n':>4}{'wall_s':>9}{'self_s':>9}" + "".join(f"{k:>20}" for k in SPAN_KEYS)]
    out += [fmt(name, r["n"], r["wall"], r["self"], r["tot"]) for name, r in rows.items()]
    for i, s in enumerate(s for s in spans if s["name"] == "step"):
        ids = subtree(spans, s["id"])
        tot = {k: log.total(ids, k) for k in SPAN_KEYS}
        out.append(fmt(f"round {i + 1} (whole subtree)", 1, s["end"] - s["start"],
                       sum(selfs[j] for j in ids), tot))
    return out


def per_layer_metrics(workload, spans, log, store, traced: list[dict]) -> dict:
    """Every per-layer metric; the ones of the other workload read 0. The
    traced units' own CPU and wall seconds are there to compare with an
    untraced run's, which gives the tracing overhead."""
    values = dict.fromkeys((name for name, _ in PER_LAYER), 0.0)
    if workload == "crawl_bulk":
        values.update(crawl_layer(spans, log, store))
    else:
        values.update(query_layer(spans, log))
    values["trace.pass_cpu_s"] = statistics.median(u["cpu_s"] for u in traced)
    values["trace.pass_s"] = statistics.median(u["unit_s"] for u in traced)
    return {k: {"value": float(values[k]), "unit": u} for k, u in PER_LAYER}


# ---------------------------------------------------------------------------
# driver
# ---------------------------------------------------------------------------


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "simplecommoncrawlextractor_spark")):
        print(f"no ccspark sources next to {HERE}", file=sys.stderr)
        return 2
    from rss import RssSampler, tree_cpu_s
    from spans import EventLog, Tracer

    load_before = os.getloadavg()[0]
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    _isolate(work)
    trace_dir = os.path.join(work, "eventlog") if args.trace else None
    ctx: dict = {"workload": args.workload, "seed": args.seed, "nproc": _nproc(),
                 "load1_before": load_before, **_source_id()}
    spark = start_spark(work, trace_dir)
    try:
        if args.workload == "crawl_bulk":
            seeds = crawl_seeds(spark, args.seed, **CRAWL)
            warm = crawl_episode(
                spark, crawl_seeds(spark, WARM_SEED, **CRAWL_WARM), os.path.join(work, "warm"), CRAWL_WARM
            )
            if warm["rows"] is None:
                raise RuntimeError(f"warm-up crawl failed: {check_crawl(warm, CRAWL_WARM, None)}")

            def make_unit(i, tr):
                return crawl_episode(spark, seeds, os.path.join(work, f"store{i}"), CRAWL, tr)
        else:
            import numpy as np

            fns = query_fns()
            sf = os.path.join(DATA, "sf0.1")
            rng = np.random.default_rng(args.seed)
            warm = query_pass(spark, fns, QUERY_MIX, os.path.join(DATA, "sf0.001"))
            if any(o["error"] for o in warm["ops"]):
                raise RuntimeError(f"warm-up pass failed: {[o['error'] for o in warm['ops'] if o['error']]}")

            def make_unit(i, tr):
                return query_pass(spark, fns, [QUERY_MIX[j] for j in rng.permutation(len(QUERY_MIX))], sf, tr)
        setup_s, setup_wall_s = tree_cpu_s(), _process_age_s()

        def timed_unit(tr):
            cpu0 = tree_cpu_s()
            u = make_unit(len(units), tr)
            u["cpu_s"] = tree_cpu_s() - cpu0
            return u

        tracer = Tracer(spark.sparkContext) if args.trace else None
        sampler = RssSampler() if PY_RSS_SAMPLER and not args.trace else None
        units = []
        if sampler:
            sampler.start()
        try:
            for _ in range(UNITS[args.workload]):
                units.append(timed_unit(tracer))
        finally:
            if sampler:
                sampler.stop()
        ctx["load1_after"] = os.getloadavg()[0]
        ctx["units"] = [{"unit_s": round(u["unit_s"], 4), "cpu_s": round(u["cpu_s"], 2),
                         "ops": [(o["kind"], round(o["s"], 4), round(o["cpu_s"], 2)) for o in u["ops"]]} for u in units]

        # correctness, outside the timed region: every op attempted counts
        # once, and fails if it raised or its output failed the check
        attempted = failed = 0
        problems: list[str] = []
        if args.workload == "crawl_bulk":
            pin = load_pins()["crawl_bulk"].get(str(args.seed))
            ctx["pinned"] = pin is not None
            for u in units:
                attempted += len(u["ops"])
                bad = check_crawl(u, CRAWL, pin)
                # a wrong crawl order is the product of every round of the episode
                failed += len(u["ops"]) if bad else 0
                problems += bad
            ctx["crawl_digest"] = crawl_digest(units[0]["rows"]) if units[0]["rows"] else None
            ctx["urls_scheduled"] = sum(units[0]["fetched"])
        else:
            oracle = load_pins()["query_mix"]
            for u in units:
                for o in u["ops"]:
                    attempted += 1
                    bad = o["error"] or check_query(o["kind"], u["results"][o["kind"]], oracle)
                    if bad:
                        failed += 1
                        problems.append(f"{o['kind']}: {bad}")

        os.environ["SPARK_GRAFT_CONTROL_ROWS"] = str(CONTROL_ROWS)
        import bench_extra

        ctx["control_rows_per_s"] = bench_extra.run_control(spark)["rows_per_sec"]
        ctx["figures"] = {**wall_figures(args.workload, units, setup_wall_s),
                          "ops_failed_ratio": failed / attempted}
        metrics = end_to_end_metrics(units, setup_s, None if sampler is None else sampler.peak_mb)
    finally:
        stop_spark(spark)
    if tracer is not None:
        log = EventLog(trace_dir)
        print("\n".join(span_table(tracer.spans, log)))
        metrics = per_layer_metrics(args.workload, tracer.spans, log, units[-1].get("store", {}), units)
    shutil.rmtree(work, ignore_errors=True)
    if problems:
        ctx["problems"] = problems[:20]
    print(json.dumps({"context": ctx}))
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="nominal run length; the measured work is fixed per workload")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(p.parse_args(argv))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    raise SystemExit(main())
