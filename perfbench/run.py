"""yodel-spark benchmark: one command, three workloads, closed loop on local[4].

    python3 perfbench/run.py --workload batch-sf0.1 --seed 1 --seconds 7 --trace 0

Run from the root of a checkout.  One client runs one query at a time in
one process: each timed sample is ``Query.build(spark, data_dir)`` plus a
``noop`` write (several builders run eager jobs inside ``build``), and
cached data is cleared after every query because users pay each query's
``persist()`` cost on every run.  The seed permutes the query order of
every pass and drives the ``scale-x10`` generator.

A run: set up three times (inputs generated, session started, package
shipped; the median is ``setup_s``), verify every query's output once
(which also warms every plan), then time whole passes, as many as
``--seconds`` buys at the workload's ``seconds_per_pass``.  Per-query
times are medians over passes.

With ``--trace 1`` the run first times untraced passes for half of
``--seconds``, then restarts the session with an uncompressed event log, a
streaming listener and wrappers around the ``io/compact`` entry points,
times traced passes for the other half, and reports the per-layer
metrics of ``BENCHMARK.json``, summed per pass (median over passes).

The last stdout line is the result object; the line before it carries
provenance, per-query detail and the error rate.  A traced run writes its
metrics, spans and per-query job, stage and task counts to
``perfbench/work/trace-<workload>-<seed>.json``.
Exit status is 1 when any output is wrong or any query raised, 2 when
the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "work")
EXPECTED = os.path.join(BENCH_DIR, "expected.json")
CORES = 4
SETUP_REPEATS = 3


@dataclass(frozen=True)
class Workload:
    data: str  # "base" (sf0.1) or "x10"
    queries: tuple[str, ...]
    #: a run times max(1, round(seconds / seconds_per_pass)) passes: the
    #: count is fixed before timing, so a slow or fast host cannot change
    #: how many (increasingly warm) passes a median is taken over
    seconds_per_pass: float


WORKLOADS = {
    # Short read queries whose time is mostly the fixed per-job cost:
    # Python build, Catalyst, job scheduling, Python-worker start (packs
    # crosses into Python).  One per query module family.
    "batch-sf0.1": Workload(
        "base",
        (
            "top_events_global",
            "orders_semi_anti",
            "ev_hourly",
            "events_props_stats",
            "text_fingerprint",
            "classify_tristate",
            "hll",
            "packs",
        ),
        3.5,
    ),
    # Data-bound kernels on inputs replicated x10: text stats, embedding
    # top-k and a Python-boundary (Arrow batch) operator.  The LSH, IVF/PQ
    # and curation pipelines take 4-25+ s each at this size on 4 cores,
    # more than one run can afford.
    "scale-x10": Workload(
        "x10",
        ("text_bm25", "similarity_topk", "packs"),
        3.5,
    ),
    # The write path: a streaming ingest gate (triggers, corpus append,
    # index extend) and the io/compact two-phase manifest swaps
    # (compaction, vacuum).
    "ingest-write": Workload(
        "base",
        ("singest", "compact", "vac"),
        7.0,
    ),
}


def _configure_env() -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def _import_program():
    sys.path.insert(0, ROOT)
    from yodel_etl_spark.queries import infra_q, layout_q
    from yodel_etl_spark.registry import load_all

    # the write-path queries prefer tmpfs for their tables; point them
    # at the checkout instead
    scratch = os.path.join(WORK, "scratch")
    os.makedirs(scratch, exist_ok=True)
    layout_q._scratch_root = infra_q._scratch_root = lambda: scratch
    return load_all()


# -- inputs ------------------------------------------------------------


def _generate(workload: Workload, seed: int) -> str:
    import datagen

    data = os.path.join(WORK, "data")
    shutil.rmtree(data, ignore_errors=True)
    base = os.path.join(data, "sf0.1")
    datagen.write_base(base)
    if workload.data == "base":
        return base
    x10 = os.path.join(data, "x10")
    datagen.write_replicated(base, x10, seed)
    return x10


# -- session -----------------------------------------------------------


def _start_session(event_log_dir: str | None = None):
    from pyspark import SparkConf, SparkContext
    from yodel_etl_spark.session import get_spark, ship_package

    conf = SparkConf().setAll(
        [
            ("spark.master", f"local[{CORES}]"),
            ("spark.app.name", "perfbench"),
            ("spark.driver.memory", "2g"),
            # a fixed, pre-touched heap: the peak RSS then moves with
            # off-heap and metaspace use, not with when G1 grows the heap;
            # no perf-data file in /tmp
            (
                "spark.driver.extraJavaOptions",
                "-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData"
                f" -Djava.io.tmpdir={os.environ['TMPDIR']}",
            ),
            ("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse")),
            ("spark.ui.enabled", "false"),
            ("spark.ui.showConsoleProgress", "false"),
        ]
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.setAll(
            [
                ("spark.eventLog.enabled", "true"),
                ("spark.eventLog.dir", event_log_dir),
                ("spark.eventLog.compress", "false"),
                ("spark.eventLog.rolling.enabled", "false"),
            ]
        )
    SparkContext(conf=conf).setLogLevel("ERROR")
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]")
    ship_package(spark)
    return spark


def _set_up(workload: Workload, seed: int, spark):
    """Generate inputs and (re)start the session."""
    if spark is not None:
        spark.stop()
    data_dir = _generate(workload, seed)
    return _start_session(), data_dir


# -- verification ------------------------------------------------------


def _verify(spark, queries, workload_name: str, data_dir: str, timings: dict) -> list[str]:
    """Check every query's output once; returns the failures and fills
    ``timings`` with each check's seconds."""
    from concurrent.futures import ThreadPoolExecutor

    from yodel_etl_spark.testing import compare_frames, duckdb_connect, frame_sig

    with open(EXPECTED, encoding="utf-8") as fh:
        expected = json.load(fh)[workload_name]
    names = WORKLOADS[workload_name].queries
    con = duckdb_connect(data_dir)
    failures = []
    # DuckDB computes the oracles on its own thread while Spark runs
    with ThreadPoolExecutor(max_workers=1) as pool:
        oracles = {
            n: pool.submit(lambda sql: con.sql(sql).df(), queries[n].oracle)
            for n in names
            if expected.get(n, {}).get("oracle")
        }
        for name in names:
            pin = expected.get(name, {})
            t0 = time.perf_counter()
            try:
                pdf = queries[name].build(spark, data_dir).toPandas()
                if name in oracles:
                    res = compare_frames(name, pdf, oracles[name].result())
                    if not res.ok:
                        failures.append(f"{name}: {res.detail}")
                elif "schema" not in pin:
                    failures.append(f"{name}: no pinned expectation")
                else:
                    got = {"rows": len(pdf), "schema": sorted(pdf.columns)}
                    if "sig" in pin:
                        got["sig"] = frame_sig(pdf)
                    wrong = {k: (pin[k], v) for k, v in got.items() if k in pin and pin[k] != v}
                    if wrong:
                        failures.append(f"{name}: (expected, got): {wrong}")
            except Exception as exc:  # noqa: BLE001 - every failure is counted
                failures.append(f"{name}: raised {type(exc).__name__}: {exc}"[:500])
            finally:
                spark.catalog.clearCache()
                timings[name] = time.perf_counter() - t0
    con.close()
    return failures


# -- timed loop --------------------------------------------------------


def _run_query(spark, query, data_dir: str) -> dict:
    query.build(spark, data_dir).write.format("noop").mode("overwrite").save()
    return {}


def _passes(spark, queries, names, data_dir, rng, n_passes, run=_run_query):
    """``n_passes`` whole passes, each in a seeded order.  Returns
    ({query: [wall_s, ...]}, [span, ...], failures); each span also holds
    what ``run`` returned for it."""
    samples: dict[str, list[float]] = {n: [] for n in names}
    spans, failures = [], []
    for n_pass in range(n_passes):
        for name in rng.sample(names, len(names)):
            span = {"query": name, "pass": n_pass, "start_ms": int(time.time() * 1000.0)}
            t0 = time.perf_counter()
            try:
                span.update(run(spark, queries[name], data_dir))
                samples[name].append(time.perf_counter() - t0)
            except Exception as exc:  # noqa: BLE001 - every failure is counted
                failures.append(f"{name}: raised {type(exc).__name__}: {exc}"[:500])
            span["end_ms"] = int(math.ceil(time.time() * 1000.0))
            spans.append(span)
            spark.catalog.clearCache()
    return samples, spans, failures


def _summary(samples: dict[str, list[float]]) -> dict[str, float]:
    med = [statistics.median(v) for v in samples.values() if v]
    if not med:  # every sample raised; the run reports correct=false
        return {"total_s": 0.0, "query_geomean_s": 0.0}
    return {
        "total_s": sum(med),
        "query_geomean_s": math.exp(sum(math.log(m) for m in med) / len(med)),
    }


# -- tracing -----------------------------------------------------------


class Tracer:
    """Per-layer measurement from outside the program: build and plan
    timing around each query, a streaming listener, and timing wrappers
    around the ``io/compact`` public entry points."""

    COMPACT_ENTRY_POINTS = (
        "compact_parquet",
        "vacuum_parquet",
        "delete_parquet_where",
        "relayout_parquet",
    )

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.progress: list[dict] = []
        self._compact_s = 0.0
        self._depth = 0
        self._install_compact_wrappers()
        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def _install_compact_wrappers(self) -> None:
        from yodel_etl_spark.io import compact

        for name in self.COMPACT_ENTRY_POINTS:
            fn = getattr(compact, name)
            setattr(compact, name, self._timed(fn))

    def _timed(self, fn):
        def wrapper(*args, **kwargs):
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1
                if self._depth == 0:
                    self._compact_s += time.perf_counter() - t0

        return wrapper

    def run(self, spark, query, data_dir: str) -> dict:
        self._compact_s = 0.0
        t0 = time.perf_counter()
        df = query.build(spark, data_dir)
        t1 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return {
            "queries.build_s": t1 - t0,
            "catalyst.plan_s": t2 - t1,
            "io.compact_s": self._compact_s,
        }

    def drain(self, spark, quiet_s: float = 1.0, limit_s: float = 10.0) -> None:
        """Wait until the listener has received every progress event."""
        deadline = time.monotonic() + limit_s
        seen = -1
        while len(self.progress) != seen and time.monotonic() < deadline:
            seen = len(self.progress)
            time.sleep(quiet_s)
        spark.streams.removeListener(self.listener)


STREAM_DURATIONS = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.query_planning_ms": "queryPlanning",
}


def _stream_metrics(progress: list[dict], spans: list[dict]) -> list[dict]:
    from datetime import datetime

    keys = ["streaming.triggers", "streaming.empty_triggers", "streaming.input_rows"]
    out = [dict.fromkeys([*keys, *STREAM_DURATIONS], 0) for _ in spans]
    for p in progress:
        t_ms = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1000.0
        for i, s in enumerate(spans):
            if s["start_ms"] <= t_ms <= s["end_ms"]:
                m = out[i]
                m["streaming.triggers"] += 1
                m["streaming.empty_triggers"] += p["numInputRows"] == 0
                m["streaming.input_rows"] += p["numInputRows"]
                for k, src in STREAM_DURATIONS.items():
                    m[k] += p["durationMs"].get(src, 0)
                break
    return out


def _traced_window(spark, queries, names, data_dir, rng, n_passes):
    """Restart with tracing on and run passes; returns the samples, the
    layer metrics summed per pass, the spans and the failures."""
    import eventlog

    log_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    spark.stop()
    spark = _start_session(log_dir)
    tracer = Tracer(spark)
    samples, spans, failures = _passes(spark, queries, names, data_dir, rng, n_passes, tracer.run)
    tracer.drain(spark)
    spark.stop()
    (log_file,) = os.listdir(log_dir)
    per_span = eventlog.layer_metrics(eventlog.read_events(os.path.join(log_dir, log_file)), spans)
    streams = _stream_metrics(tracer.progress, spans)
    for i, span in enumerate(spans):
        span.update(per_span[i])
        span.update(streams[i])
    n_pass = 1 + spans[-1]["pass"]
    keys = [*per_span[0], *streams[0], "queries.build_s", "catalyst.plan_s", "io.compact_s"]
    per_pass = [
        {k: sum(s.get(k, 0) for s in spans if s["pass"] == p) for k in keys}
        for p in range(n_pass)
    ]
    return samples, per_pass, spans, failures


# -- provenance --------------------------------------------------------


def _loadavg() -> list[float]:
    return list(os.getloadavg())


def _git_sha() -> str:
    try:
        res = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30, cwd=ROOT
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return res.stdout.strip() if res.returncode == 0 else "unknown"


def _provenance(seed: int) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "seed": seed,
        "git_sha": _git_sha(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
    }


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


# -- main --------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _configure_env()
    try:
        queries = _import_program()
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2

    workload = WORKLOADS[args.workload]
    load_before = _loadavg()
    provenance = _provenance(args.seed)
    rng = random.Random(args.seed)
    names = list(workload.queries)

    setups, spark = [], None
    for _ in range(1 if args.trace else SETUP_REPEATS):
        t0 = time.perf_counter()
        spark, data_dir = _set_up(workload, args.seed, spark)
        setups.append(time.perf_counter() - t0)
    import datagen

    provenance["input_sha256"] = datagen.content_hash(data_dir)
    provenance["java"] = spark._jvm.java.lang.System.getProperty("java.version")

    verify_s: dict[str, float] = {}
    failures = _verify(spark, queries, args.workload, data_dir, verify_s)
    attempted = len(names)

    window = args.seconds / 2 if args.trace else args.seconds
    n_passes = max(1, round(window / workload.seconds_per_pass))
    samples, spans, raised = _passes(spark, queries, names, data_dir, rng, n_passes)
    failures += raised
    attempted += len(spans)
    untraced = _summary(samples)

    detail = {"workload": args.workload, "provenance": provenance, "verify_s": verify_s}
    if args.trace:
        t_samples, per_pass, t_spans, raised = _traced_window(
            spark, queries, names, data_dir, rng, n_passes
        )
        failures += raised
        attempted += len(t_spans)
        traced = _summary(t_samples)
        metrics = {
            k: {"value": statistics.median(p[k] for p in per_pass), "unit": _unit(k)}
            for k in per_pass[0]
        }
        metrics["trace.overhead_ratio"] = {
            "value": traced["total_s"] / untraced["total_s"],
            "unit": "ratio",
        }
        trace_doc = {
            "workload": args.workload,
            "seed": args.seed,
            "metrics": metrics,
            "spans": t_spans,
            "per_query_jobs": _per_query(t_spans, "spark.jobs"),
            "per_query_stages": _per_query(t_spans, "spark.stages"),
            "per_query_tasks": _per_query(t_spans, "spark.tasks"),
        }
        path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(trace_doc, fh, indent=1)
        detail["trace_file"] = os.path.relpath(path, ROOT)
        detail["per_query_jobs"] = trace_doc["per_query_jobs"]
    else:
        rss = _jvm_peak_rss_mb(spark)
        spark.stop()
        metrics = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "total_s": {"value": untraced["total_s"], "unit": "s"},
            "query_geomean_s": {"value": untraced["query_geomean_s"], "unit": "s"},
            "jvm_peak_rss_mb": {"value": rss, "unit": "MB"},
        }
    provenance["loadavg_before"] = load_before
    provenance["loadavg_after"] = _loadavg()
    detail.update(
        {
            "setup_runs_s": setups,
            "passes": n_passes,
            "query_median_s": {n: statistics.median(v) for n, v in samples.items() if v},
            "error_rate": len(failures) / attempted,
            "failures": failures,
        }
    )
    print("perfbench " + json.dumps(detail, sort_keys=True))
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if not failures else 1


def _stop_jvm() -> None:
    """Stop the JVM this process launched and wait for it to end (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _per_query(spans: list[dict], key: str) -> dict[str, list[int]]:
    out: dict[str, list[int]] = {}
    for s in spans:
        out.setdefault(s["query"], []).append(int(s.get(key, 0)))
    return out


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_ms"):
        return "ms"
    if metric.endswith("_bytes") or metric == "spill.bytes":
        return "bytes"
    return "count"


if __name__ == "__main__":
    try:
        status = main()
    finally:
        _stop_jvm()
    sys.exit(status)
