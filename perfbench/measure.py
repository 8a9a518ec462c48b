"""One benchmark run: set up, warm up, time the workload's job, check it.

Started by ``run.py`` in its own session with the checkout root as its
working directory; prints the result as the last line of its output. See
README.md for the metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

from workloads import WORKLOADS, ensure_input, input_index

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")

# local[N] with N <= cores: one driver, one job at a time (a closed loop)
CORES = min(4, os.cpu_count() or 1)
# pinned below host RAM (the engine's session defaults to 24g)
DRIVER_MEMORY = "2g"
N_SETUPS = 2  # warm session restarts whose median is setup_s
N_BUCKETS = 64  # run_pipeline's bucket count for the filtered checkpoint
ZOOM = 16  # run_pipeline's default candidate-search zoom

END_TO_END = {"job_s": "s", "input_rows_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = [
    "session.cold_start_s", "session.start_s", "session.worker_warmup_s",
    "session.workload_warmup_s",
    "spans.time_s", "spans.docs_in", "spans.points_out",
    "trace_filter.time_s", "trace_filter.shuffle_write_bytes", "trace_filter.points_kept",
    "trace_filter.docs_kept", "trace_filter.keep_ratio",
    *[
        f"pipeline.ckpt_{stage}_{m}"
        for stage in ("filtered_points", "traversals", "measurements")
        for m in ("write_s", "bytes", "files", "skew")
    ],
    "candidates.time_s", "candidates.rows", "candidates.per_point", "candidates.points_without",
    "matching.time_s", "matching.task_s", "matching.jvm_cpu_s", "matching.python_wait_s",
    "matching.python_run_s", "matching.arrow_in_bytes", "matching.arrow_out_bytes",
    "matching.traversals_out",
    "measurements.time_s", "measurements.rows_out", "measurements.keep_ratio",
    *[
        f"rollup.{r}.{m}"
        for r in ("exact", "hourly", "hist")
        for m in ("time_s", "shuffle_bytes", "spill_bytes", "peak_exec_mem_bytes", "groups")
    ],
    "config_build.time_s", "config_build.entries",
    "trace.job_s",
]


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, read off its name."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith(("_ratio", "_skew", ".per_point")):
        return "ratio"
    return "count"


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _prepare_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the run directory, and make the checkout's engine importable by the
    workers."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # on disk in the checkout, not the engine's default tmpfs (/dev/shm):
    # the benchmark reads and writes only inside its checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # every JVM, spark-submit's launcher too, would write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tempfile.tempdir = os.environ["TMPDIR"]
    sys.path.insert(0, ROOT)


def _spark_conf(run_dir: str, event_log: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # the initial heap is the maximum: without it, the peak RSS follows
        # when the collector happens to grow the heap (2.3-4.2 GB over five
        # trace_heavy runs) instead of the program's memory
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
        ),
    }
    if event_log:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def new_session(conf: dict):
    from conflation_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{CORES}]", extra_conf=conf)


def warm_workers(spark) -> None:
    """The session's first Python-worker job: the workers spawn and import
    the engine's matcher module, the first thing every worker of a real job
    pays for."""

    def probe(batches):  # a nested function ships to the workers by value
        import conflation_spark.operators.matching  # noqa: F401

        yield from batches

    spark.range(CORES * 4).repartition(CORES).mapInArrow(probe, "id long").count()


def _runs_java(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java"
    except OSError:  # ended, or not ours to read
        return False


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and the Python
    workers it forks), sampled from /proc every ``period`` seconds.

    A child of the JVM that still runs the ``java`` executable is a process
    the JVM is starting: posix_spawn shares the JVM's memory until the child
    execs, so /proc shows the JVM's whole RSS for it a second time. Such a
    child is not counted; without this rule one run in about seven read
    1.6-2.4 GB too high."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _descendant_rss_kb(root: int) -> int:
        parent, rss = {}, {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                with open(f"/proc/{name}/statm") as f:
                    pages = int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while being read
            parent[int(name)] = int(fields[1])
            rss[int(name)] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
        total, frontier = 0, [root]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p]
            if _runs_java(p):
                total += sum(rss[c] for c in kids if not _runs_java(c))
            else:
                total += sum(rss[c] for c in kids)
            frontier += kids
        return total

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._descendant_rss_kb(me))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------- jobs


def run_pipeline_job(spark, input_dir: str, work_dir: str) -> dict:
    from conflation_spark.plans.pipeline import run_pipeline

    return run_pipeline(spark, input_dir, work_dir, resume=False)


def run_aggregate_job(spark, input_dir: str, work_dir: str) -> dict:
    """The reference's separate aggregation step: exact, hourly and
    histogram rollups, then the config. Writes config.json and the rollup
    rows; returns the collected rows."""
    from conflation_spark.functions.config_build import rollup_to_configs, write_config
    from conflation_spark.operators.rollup import rollup_medians, rollup_medians_hist

    m = spark.read.parquet(os.path.join(input_dir, "measurements.parquet"))
    rows = {
        "exact": [r.asDict() for r in rollup_medians(m).collect()],
        "hourly": [r.asDict() for r in rollup_medians(m, extra_keys=["hour"]).collect()],
        "hist": [r.asDict() for r in rollup_medians_hist(m).collect()],
    }
    results = os.path.join(work_dir, "results")
    write_config(rollup_to_configs(rows["exact"]), results)
    with open(os.path.join(results, "rollup_rows.json"), "w") as f:
        json.dump(rows, f)
    return rows


def run_job(kind: str, spark, input_dir: str, work_dir: str):
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    job = run_pipeline_job if kind == "pipeline" else run_aggregate_job
    return job(spark, input_dir, work_dir)


def check_job(kind: str, spark, input_dir: str, work_dir: str, out, workload: str, label: str):
    from checks import check_aggregate, check_pipeline

    if kind == "pipeline":
        return check_pipeline(spark, input_dir, work_dir, out, workload, label)
    config = os.path.join(work_dir, "results", "config.json")
    return check_aggregate(input_dir, out, config, workload, label)


class Tally:
    """Attempted and failed jobs, and the summaries of the checked ones."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.summaries: list[dict] = []

    def run_checked(self, job, check, label: str):
        """Run ``job()``, then ``check(output)`` outside the timed part.
        Returns ``(wall seconds, peak RSS MB)``; seconds is None if the job
        crashed. A crash or a failed check counts the job as failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with RssSampler() as rss:
                out = job()
        except Exception:  # a crashed job counts as failed; the run goes on
            traceback.print_exc()
            self.failed += 1
            return None, None
        dt = time.perf_counter() - t0
        ok, summary, problems = check(out)
        log(f"job {dt:.2f}s on input {label}, peak RSS {rss.peak_kb / 1024:.0f} MB, "
            f"checked in {time.perf_counter() - t0 - dt:.2f}s")
        self.summaries.append({"input": label, "ok": ok, **summary})
        if not ok:
            print(f"output check failed: {problems}", file=sys.stderr)
            self.failed += 1
        return dt, rss.peak_kb / 1024

    def run_job(self, kind, spark, input_dir, work_dir, workload, label):
        return self.run_checked(
            lambda: run_job(kind, spark, input_dir, work_dir),
            lambda out: check_job(kind, spark, input_dir, work_dir, out, workload, label),
            label,
        )


# ------------------------------------------------------------ timed mode


def warm_up(args, kind, spark, warm_dir, tally) -> float:
    """The workload's untimed warm-up jobs; returns their seconds. Their
    output is not checked; a crash counts as a failed job."""
    n = WORKLOADS[args.workload]["warmup_jobs"]
    if not n:
        return 0.0
    t0 = time.perf_counter()
    for i in range(n):
        try:
            run_job(kind, spark, warm_dir, os.path.join(args.run_dir, "warm"))
        except Exception:  # the run goes on; the timed jobs show the fault
            traceback.print_exc()
            tally.attempted += 1
            tally.failed += 1
        log(f"warm-up job {i} done")
    return time.perf_counter() - t0


def timed_run(args, kind, spark, setup, input_dir, input_rows, warm_dir, tally) -> dict:
    """The warm-up, then the workload's fixed number of timed jobs, each
    checked outside its timing; medians are reported. The count does not
    depend on how fast the jobs run, so every run times the same jobs."""
    warm_up(args, kind, spark, warm_dir, tally)
    times: list[float] = []
    peaks: list[float] = []
    for _ in range(WORKLOADS[args.workload]["timed_jobs"]):
        dt, peak = tally.run_job(kind, spark, input_dir, os.path.join(args.run_dir, "work"),
                                 args.workload, args.label)
        if dt is None:
            break
        times.append(dt)
        peaks.append(peak)
    # a run whose every job crashed reports zeros next to correct=false
    job_s = statistics.median(times) if times else 0.0
    return {
        "job_s": job_s,
        "input_rows_per_s": input_rows / job_s if job_s else 0.0,
        "setup_s": statistics.median(setup["setups"]),
        "peak_rss_mb": statistics.median(peaks) if peaks else 0.0,
    }


# ----------------------------------------------------------- traced mode


class Tracer:
    """Spans (name, start, end, parent, run id) recorded around calls into
    each layer, kept in memory and written out at the end. Every Spark job
    started inside a span is tagged with the span's name as its job group,
    so the event log attributes the job's task metrics to the span."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spark.sparkContext.setJobGroup(name, name)
        self._stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            self.spans.append(
                {"name": name, "start": t0, "end": t1, "parent": parent, "run_id": self.run_id}
            )
            self.spark.sparkContext.setJobGroup(parent or "untagged", parent or "untagged")

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def _noop_count(df) -> int:
    """Materialize ``df`` at the layer boundary without writing it, counting
    its rows in the same job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("rows")
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return int(obs.get["n"])


def trace_pipeline(tr: Tracer, spark, input_dir: str, work_dir: str, m: dict) -> dict:
    """The traced job: the pipeline run stage by stage, one span per
    checkpointed stage. Then each layer's public function is called in
    pipeline order on the same inputs, materialized at its boundary. Where
    two layers fuse into one Spark stage, the upstream layer is also run
    alone, and the difference is the downstream layer's self time."""
    import pyarrow.parquet as pq

    from conflation_spark.operators.candidates import candidate_edges
    from conflation_spark.operators.matching import match_traces
    from conflation_spark.operators.measurements import derive_measurements
    from conflation_spark.operators.rollup import rollup_medians
    from conflation_spark.operators.trace_filter import filter_traces
    from conflation_spark.plans.pipeline import STAGES, read_lineage, read_stage, run_pipeline
    from conflation_spark.sources.spans import decode_points, load_documents

    shutil.rmtree(work_dir, ignore_errors=True)
    with tr.span("pipeline"):
        for stop in (*STAGES, None):
            with tr.span(f"pipeline.{stop or 'rollup_config'}"):
                run_pipeline(spark, input_dir, work_dir, resume=True, stop_after=stop)
    m["trace.job_s"] = tr.seconds("pipeline")
    counts = {}
    for stage in STAGES:
        man = read_lineage(work_dir, stage)
        counts[stage] = man["rows"]
        m[f"pipeline.ckpt_{stage}_write_s"] = man["write_seconds"]
        m[f"pipeline.ckpt_{stage}_bytes"] = sum(p["bytes"] for p in man["parts"])
        m[f"pipeline.ckpt_{stage}_files"] = man["partitions"]
        m[f"pipeline.ckpt_{stage}_skew"] = man["skew_ratio"]

    def points():
        docs = load_documents(spark, input_dir)
        return decode_points(docs).select("doc_id", "offset", "time", "lon", "lat")

    edges = spark.read.parquet(os.path.join(input_dir, "edges.parquet"))
    filtered = read_stage(spark, work_dir, "filtered_points")
    with tr.span("layers"):
        with tr.span("spans"):
            m["spans.points_out"] = _noop_count(points())
        with tr.span("trace_filter"):
            m["trace_filter.points_kept"] = _noop_count(
                filter_traces(points().repartition(N_BUCKETS, "doc_id"))
            )
        with tr.span("candidates"):
            m["candidates.rows"] = _noop_count(candidate_edges(filtered, edges, zoom=ZOOM))
        with tr.span("matching"):
            m["matching.traversals_out"] = _noop_count(
                match_traces(filtered, candidate_edges(filtered, edges, zoom=ZOOM),
                             num_partitions=N_BUCKETS)
            )
        with tr.span("measurements"):
            m["measurements.rows_out"] = _noop_count(
                derive_measurements(read_stage(spark, work_dir, "traversals"), edges)
            )
        with tr.span("rollup.exact"):
            meas = read_stage(spark, work_dir, "measurements")
            rows = [r.asDict() for r in rollup_medians(meas).collect()]
        _trace_config(tr, rows, os.path.join(work_dir, "traced_results"), m)
    with tr.span("counts"):  # not a layer: counts that need a job of their own
        m["candidates.points_without"] = filtered.join(
            candidate_edges(filtered, edges, zoom=ZOOM).select("doc_id", "gps_idx").distinct(),
            ["doc_id", "gps_idx"], "left_anti",
        ).count()

    m["spans.time_s"] = tr.seconds("spans")
    m["trace_filter.time_s"] = tr.seconds("trace_filter") - m["spans.time_s"]
    kept_docs = pq.read_table(
        os.path.join(work_dir, "checkpoints", "filtered_points"), columns=["doc_id"]
    ).column("doc_id").unique()
    m["trace_filter.docs_kept"] = len(kept_docs)
    m["trace_filter.keep_ratio"] = len(kept_docs) / m["spans.docs_in"]
    m["candidates.time_s"] = tr.seconds("candidates")
    m["candidates.per_point"] = m["candidates.rows"] / max(counts["filtered_points"], 1)
    m["matching.time_s"] = tr.seconds("matching") - m["candidates.time_s"]
    m["measurements.time_s"] = tr.seconds("measurements")
    m["measurements.keep_ratio"] = m["measurements.rows_out"] / max(counts["traversals"], 1)
    m["rollup.exact.time_s"] = tr.seconds("rollup.exact")
    m["rollup.exact.groups"] = len(rows)
    return counts


def _trace_config(tr: Tracer, rows: list, results: str, m: dict) -> None:
    from conflation_spark.functions.config_build import rollup_to_configs, write_config

    with tr.span("config_build"):
        configs = rollup_to_configs(rows)
        write_config(configs, results)
    m["config_build.entries"] = len(configs)
    m["config_build.time_s"] = tr.seconds("config_build")


def trace_aggregate(tr: Tracer, spark, input_dir: str, work_dir: str, m: dict) -> dict:
    """The traced job: the aggregation step's public functions called in
    order, one span each."""
    from conflation_spark.operators.rollup import rollup_medians, rollup_medians_hist

    meas = spark.read.parquet(os.path.join(input_dir, "measurements.parquet"))
    calls = {
        "exact": lambda: rollup_medians(meas),
        "hourly": lambda: rollup_medians(meas, extra_keys=["hour"]),
        "hist": lambda: rollup_medians_hist(meas),
    }
    rows = {}
    results = os.path.join(work_dir, "results")
    with tr.span("aggregate"):
        for name, call in calls.items():
            with tr.span(f"rollup.{name}"):
                rows[name] = [r.asDict() for r in call().collect()]
        _trace_config(tr, rows["exact"], results, m)
        with open(os.path.join(results, "rollup_rows.json"), "w") as f:
            json.dump(rows, f)
    m["trace.job_s"] = tr.seconds("aggregate")
    for name in calls:
        m[f"rollup.{name}.time_s"] = tr.seconds(f"rollup.{name}")
        m[f"rollup.{name}.groups"] = len(rows[name])
    return rows


def traced_run(args, kind, spark, setup, input_dir, input_rows, warm_dir, tally) -> dict:
    """The warm-up as in the timed mode, then the traced job: the same work
    as a timed job, split into spans at the layer boundaries."""
    m: dict[str, float] = {name: 0.0 for name in PER_LAYER}
    m["session.cold_start_s"] = setup["cold"]
    m["session.start_s"] = statistics.median(setup["starts"])
    m["session.worker_warmup_s"] = statistics.median(setup["workers"])
    m["session.workload_warmup_s"] = warm_up(args, kind, spark, warm_dir, tally)
    if kind == "pipeline":
        m["spans.docs_in"] = input_rows
    tr = Tracer(spark, f"{args.workload}-{args.seed}")
    traced_dir = os.path.join(args.run_dir, "traced")
    trace = trace_pipeline if kind == "pipeline" else trace_aggregate
    tally.run_checked(
        lambda: trace(tr, spark, input_dir, traced_dir, m),
        lambda out: check_job(kind, spark, input_dir, traced_dir, out, args.workload, args.label),
        args.label,
    )
    with open(os.path.join(args.run_dir, "spans.json"), "w") as f:
        json.dump(tr.spans, f, indent=1)
    return m


def fold_event_log(run_dir: str, m: dict) -> None:
    """Per-span Spark task metrics, read after the session has stopped and
    flushed its event log."""
    from eventlog import group_metrics

    g = group_metrics(os.path.join(run_dir, "eventlog"))
    tf = g.get("trace_filter")
    if tf:
        m["trace_filter.shuffle_write_bytes"] = tf["shuffle_write_bytes"]
    mt = g.get("matching")
    if mt:
        m["matching.task_s"] = mt["task_s"]
        m["matching.jvm_cpu_s"] = mt["cpu_s"]
        m["matching.python_wait_s"] = mt["task_s"] - mt["cpu_s"] - mt["gc_s"]
        m["matching.python_run_s"] = mt["py_run_s"]
        m["matching.arrow_in_bytes"] = mt["py_sent_bytes"]
        m["matching.arrow_out_bytes"] = mt["py_recv_bytes"]
    for r in ("exact", "hourly", "hist"):
        ro = g.get(f"rollup.{r}")
        if ro:
            m[f"rollup.{r}.shuffle_bytes"] = ro["shuffle_write_bytes"]
            m[f"rollup.{r}.spill_bytes"] = ro["spill_bytes"]
            m[f"rollup.{r}.peak_exec_mem_bytes"] = ro["peak_exec_mem_bytes"]


# ------------------------------------------------------------------ main


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    args = ap.parse_args()

    _prepare_env(args.run_dir)

    spec = WORKLOADS[args.workload]
    kind = spec["kind"]
    cache = os.path.join(STATE, "cache")
    index = input_index(args.seed)
    args.label = str(index)  # the input cut's name in checks and expected.json
    input_dir = ensure_input(cache, args.workload, index)
    warm_dir = ensure_input(cache, args.workload, None) if spec["warmup_jobs"] else None
    input_rows = spec["size"]

    log("inputs ready")
    conf = _spark_conf(args.run_dir, event_log=bool(args.trace))
    # the cold start launches the JVM and runs its first Python job (the
    # JVM's first one costs twice a later one); set-up is then timed on
    # restarts
    t0 = time.perf_counter()
    spark = new_session(conf)
    warm_workers(spark)
    setup = {"cold": time.perf_counter() - t0, "starts": [], "workers": [], "setups": []}
    for _ in range(N_SETUPS):
        spark.stop()
        t0 = time.perf_counter()
        spark = new_session(conf)
        t1 = time.perf_counter()
        warm_workers(spark)
        t2 = time.perf_counter()
        setup["starts"].append(t1 - t0)
        setup["workers"].append(t2 - t1)
        setup["setups"].append(t2 - t0)

    log(f"sessions ready: cold {setup['cold']:.2f}s, setups {setup['setups']}")
    tally = Tally()
    mode = traced_run if args.trace else timed_run
    try:
        metrics = mode(args, kind, spark, setup, input_dir, input_rows, warm_dir, tally)
    finally:
        spark.stop()
    if args.trace:
        fold_event_log(args.run_dir, metrics)
        units = {name: unit_of(name) for name in PER_LAYER}
    else:
        units = END_TO_END
    for s in tally.summaries:
        print("check " + json.dumps(s, sort_keys=True))
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
