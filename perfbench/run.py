"""The repository benchmark.

    python3 perfbench/run.py --workload live_orders --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads:

- ``live_orders``: an open loop of 250 orders/s over the Kafka wire
  protocol into the ``app.py --source minikafka`` topology; the unit is
  one order, timed from its due time to the first read of its alert.
- ``batch_mix``: registry queries in three groups (relational, Python
  boundary, driver-side) over seeded tables; the unit is one query,
  timed as the median of its passes.

``setup_s`` is the time from process start until the session is up and
warmed: the topology's cold first batch, or the program's time in the
warm-up pass (the oracle check of that pass's results runs after the
timed passes and is not counted).

``latency_gmean_s`` is the geometric mean of the same samples as the
percentiles: every order or query moves it, and a slowdown of any one
query by a given factor moves it alike, however fast that query is.

With ``--trace 0`` the last line of standard output is a JSON object
with the end-to-end metrics; with ``--trace 1`` the run also writes the
Spark event log and reports the per-layer metrics, and writes its span
tree under ``.bench_work/traces/``. Every run writes its full record,
host and Spark version included, under ``.bench_work/results/``. What
the engine prints goes to a log in the run's work directory, which is
removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

# set-up is timed from the start of the outer process (see ``main``)
T_PROCESS = float(os.environ.get("PERFBENCH_T0") or time.time())
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kafka_spark_streaming_app_spark"
WORKLOADS = ("live_orders", "batch_mix")
LIVE_RATE = 250.0
ALERT_LIMIT_S = 10.0
BATCH_SCALE = 0.5
# the measuring process is stopped after RUN_TIMEOUT_S; whatever it left
# running gets LEFTOVER_GRACE_S to end on its own before it is signalled
RUN_TIMEOUT_S = 150
LEFTOVER_GRACE_S = 15

E2E = {
    "latency_p50_s": "s",
    "latency_p99_s": "s",
    "latency_gmean_s": "s",
    "setup_s": "s",
}
GROUP_KEYS = (
    "wall_s", "build_s", "action_s", "jobs", "stages", "tasks", "executor_run_s",
    "executor_cpu_s", "parallel_eff", "shuffle_bytes", "spill_bytes", "python_stage_s",
    "driver_gap_s",
)
SPARK_KEYS = GROUP_KEYS[3:]
TRIGGER_KEYS = (
    "count", "exec_ms_p50", "exec_ms_p99", "latest_offset_ms_p50", "plan_ms_p50",
    "add_batch_ms_p50", "wal_commit_ms_p50", "commit_offsets_ms_p50", "rows_p50", "phase_cover",
)
PER_LAYER = (
    ["session.start_s", "session.warmup_s"]
    + [f"spark.{k}" for k in SPARK_KEYS]
    + [f"trigger.{q}.{k}" for q in ("agg", "alerts") for k in TRIGGER_KEYS]
    + ["state.rows_total_max", "state.memory_bytes_max", "state.commit_ms_p50",
       "state.rows_dropped_late", "sink.parquet_files",
       "minikafka.source_lag_orders_p99", "minikafka.scan_task_s",
       "minikafka.alert_dup_frac", "loadgen.late_ms_p99"]
    + [f"{g}.{k}" for g in ("relational", "pyboundary", "driver") for k in GROUP_KEYS]
)
UNITS = {
    "_s": "s", "_ms_p50": "ms", "_ms_p99": "ms", "_bytes": "bytes", "_bytes_max": "bytes",
    "_frac": "fraction", "parallel_eff": "fraction", "phase_cover": "fraction",
    "late_ms_p99": "ms", "commit_ms_p50": "ms",
}


def unit_of(name: str) -> str:
    for suffix, unit in sorted(UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suffix):
            return unit
    return "count"


def host_info() -> dict:
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    mem_mb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_mb = int(line.split()[1]) // 1024
    except OSError:
        pass
    return {"cpus": cpus or 1, "mem_mb": mem_mb, "python": platform.python_version()}


def configure(work: str, host: dict) -> None:
    """Host-sized session settings, applied before the JVM starts."""
    for d in ("local", "tmp", "ckroot", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # a quarter of the host's memory, between 1 and 4 GiB
    heap_mb = min(4096, max(1024, host["mem_mb"] // 4))
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    # Python workers import the package and these modules whatever
    # their working directory
    paths = [ROOT, HERE, os.path.join(ROOT, "scripts")]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM started, the launcher's too: no performance-data file in
    # /tmp, temporary files in the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    for p in reversed(paths):
        sys.path.insert(0, p)


def start_session(work: str, trace: bool):
    from kafka_spark_streaming_app_spark.session import get_spark

    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "ckroot"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def event_log(work: str):
    from layers import EventLog

    d = os.path.join(work, "eventlog")
    files = [os.path.join(d, f) for f in os.listdir(d) if not f.endswith(".inprogress")]
    files = files or [os.path.join(d, f) for f in os.listdir(d)]
    return EventLog.read(files[0])


# --- live_orders -------------------------------------------------------------


def run_live(spark, args, work: str, host: dict, spans, info: dict) -> tuple[dict, dict, int, int]:
    import stream
    from layers import gmean, pct, progress_time, state_stats, trigger_stats
    from orders import check_windows, expected_windows, score_alerts

    from kafka_spark_streaming_app_spark.sources.minikafka_ds import register_minikafka

    register_minikafka(spark)
    broker = stream.Broker()
    out = os.path.join(work, "live")
    try:
        r = stream.live(spark, broker, args.seed, LIVE_RATE, args.seconds, out, ALERT_LIMIT_S)
    finally:
        broker.close()
    w0, w1 = r["window"]
    first, last = r["window_slice"]
    gen_start, rate = r["gen_start"], r["rate"]

    latencies, missing, wrong = score_alerts(
        r["generated"], r["orders"], r["sent"], (first, last), r["alerts"],
        lambda i: gen_start + i / rate, ALERT_LIMIT_S,
    )
    attempted = len(latencies) + len(r["alerts"])

    # finalized windows against the recomputation
    agg = r["progress"]["agg"]
    wm = agg[-1]["eventTime"].get("watermark") if agg else None
    wm_s = progress_time({"timestamp": wm}) if wm else 0.0
    rows = stream.read_windows(out)
    expected = expected_windows(r["all_orders"], r["all_event_s"])
    checked, bad = check_windows(rows, expected, wm_s)
    attempted += checked

    # open-loop validity: the generator kept its schedule, and source
    # lag did not grow over the window
    late_win = r["late_ms"][first:last]
    lag_win = [lag for t, role, lag in r["lag"] if role == "alerts" and w0 < t <= w1 + stream.ALERT_S]
    invalid = []
    if pct(late_win, 99) > 1000:
        invalid.append(f"generator ran late (p99 {pct(late_win, 99):.0f} ms)")
    if len(lag_win) >= 2 and lag_win[-1] - lag_win[0] > rate * stream.ALERT_S:
        invalid.append(f"source lag grew from {lag_win[0]} to {lag_win[-1]} orders")

    # the triggers that serve the window's orders fire on the grid in
    # (w0, w1]; their jobs are submitted before the next one fires
    in_win = {
        role: [p for p in ps if w0 + 1 < progress_time(p) <= w1 + 1]
        for role, ps in r["progress"].items()
    }
    region = [(w0 + 1, w1 + stream.ALERT_S)]
    e2e = {
        "latency_p50_s": pct(latencies, 50),
        "latency_p99_s": pct(latencies, 99),
        "latency_gmean_s": gmean(latencies),
        "setup_s": info["start_s"] + (r["setup_end"] - r["start"]),
    }
    layer = {}
    if args.trace:
        log = event_log(work)
        spark_l = log.reduce(region, host["cpus"])
        layer.update({f"spark.{k}": v for k, v in spark_l.items()})
        for role in ("agg", "alerts"):
            layer.update({f"trigger.{role}.{k}": v for k, v in trigger_stats(in_win[role]).items()})
        layer.update({f"state.{k}": v for k, v in state_stats(in_win["agg"]).items()})
        layer["sink.parquet_files"] = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(os.path.join(out, "windowed-aggregations")) for f in fs
        )
        layer["minikafka.source_lag_orders_p99"] = pct(lag_win, 99)
        layer["minikafka.scan_task_s"] = log.node_stage_s(region, r"MicroBatchScan")
        layer["minikafka.alert_dup_frac"] = (
            (r["alert_records"] - len(r["alerts"])) / r["alert_records"] if r["alert_records"] else 0.0
        )
        layer["loadgen.late_ms_p99"] = pct(late_win, 99)
        root = spans.add("workload.live_orders", r["start"], r["end"])
        spans.add("warmup", r["start"], r["setup_end"], root)
        win = spans.add("window", *region[0], root)
        for role, ps in r["progress"].items():
            for p in ps:
                t = progress_time(p)
                tid = spans.add(f"trigger.{role}", t, t + p["durationMs"].get("triggerExecution", 0) / 1e3,
                                win if w0 + 1 < t <= w1 + 1 else root, batch=p["batchId"])
                spans.add_phases(tid, t, p["durationMs"])
        spans.add_spark(log)
    info["warmup_s"] = r["setup_end"] - r["start"]
    info["timeline"] = {
        "topology_start": r["start"], "loadgen_start": gen_start,
        "window": [w0, w1], "end": r["end"], "window_rows_checked": checked,
    }
    problems = invalid + [f"{n} {what}" for n, what in (
        (missing, "alerts missing or past the limit"), (wrong, "wrong alerts"),
        (bad, "window rows mismatched")) if n]
    info["problems"] = problems
    for p in problems:
        print(f"live_orders: {p}", file=sys.stderr)
    return e2e, layer, attempted, missing + wrong + bad + len(invalid)


# --- batch_mix ---------------------------------------------------------------


def run_batch(spark, args, work: str, host: dict, spans, info: dict) -> tuple[dict, dict, int, int]:
    import batch
    from layers import gmean, pct
    from tables import make_tables, write_tables

    sf_dir = os.path.join(work, "tables")
    write_tables(make_tables(args.seed, BATCH_SCALE), sf_dir)
    # set-up ends with a warm-up pass: the program's time in it counts,
    # the oracle check of its results does not and runs last
    info["warmup_s"], results = batch.warm_pass(spark, sf_dir)
    broken = {name for name, r in results.items() if isinstance(r, Exception)}
    passes = batch.timed_passes(spark, sf_dir, args.seconds, skip=broken)
    attempted, failed = batch.check(results, sf_dir)
    walls = {}
    for runs in passes:
        for _group, name, t0, _t1, t2 in runs:
            walls.setdefault(name, []).append(t2 - t0)
    info["query_walls"] = walls
    # a query's latency is the median of its runs; the statistics are
    # taken over queries
    per_query = [statistics.median(ws) for ws in walls.values()]
    e2e = {
        "latency_p50_s": pct(per_query, 50),
        "latency_p99_s": pct(per_query, 99),
        "latency_gmean_s": gmean(per_query),
        "setup_s": info["start_s"] + info["warmup_s"],
    }
    layer = {}
    if args.trace and walls:
        log = event_log(work)
        t_all = [(t0, t2) for runs in passes for _g, _n, t0, _t1, t2 in runs]
        layer.update({f"spark.{k}": v for k, v in log.reduce(t_all, host["cpus"]).items()})
        n = len(passes)
        for group in batch.GROUPS:
            runs = [x for p in passes for x in p if x[0] == group]
            iv = [(t0, t2) for _g, _n, t0, _t1, t2 in runs]
            red = log.reduce(iv, host["cpus"])
            layer[f"{group}.wall_s"] = sum(t2 - t0 for t0, t2 in iv) / n
            layer[f"{group}.build_s"] = sum(t1 - t0 for _g, _n, t0, t1, _t2 in runs) / n
            layer[f"{group}.action_s"] = sum(t2 - t1 for _g, _n, _t0, t1, t2 in runs) / n
            for k, v in red.items():
                layer[f"{group}.{k}"] = v if k == "parallel_eff" else v / n
        root = spans.add("workload.batch_mix", passes[0][0][2], passes[-1][-1][4])
        for i, runs in enumerate(passes):
            pid = spans.add("pass", runs[0][2], runs[-1][4], root, index=i)
            for group in batch.GROUPS:
                g = [x for x in runs if x[0] == group]
                if not g:
                    continue
                gid = spans.add(f"group.{group}", g[0][2], g[-1][4], pid)
                for _g, name, t0, t1, t2 in g:
                    qid = spans.add(f"query.{name}", t0, t2, gid)
                    spans.add("build", t0, t1, qid)
                    spans.add("action", t1, t2, qid)
        spans.add_spark(log)
    return e2e, layer, attempted, failed


def main(argv=None) -> int:
    """Checks the arguments, then measures in a child process: the Spark
    JVM and its Python workers outlive the process that drives them, so
    the result line is printed only once every process the child left
    has ended (see ``procs``)."""
    argv = sys.argv[1:] if argv is None else list(argv)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "streaming", "pipeline.py")):
        print(f"perfbench: the {PACKAGE} package is not in {ROOT}; nothing to measure",
              file=sys.stderr)
        return 2
    if os.environ.get("PERFBENCH_T0"):
        return measure(args)

    import signal

    import procs

    # a SIGTERM still stops and waits for the child's processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    env = dict(os.environ, PERFBENCH_T0=repr(T_PROCESS))
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    out_path = os.path.join(ROOT, ".bench_work", f"stdout-{os.getpid()}")
    try:
        rc = procs.run([sys.executable, os.path.abspath(__file__), *argv], env, out_path,
                       RUN_TIMEOUT_S, LEFTOVER_GRACE_S)
        with open(out_path, "rb") as f:
            out = f.read()
    finally:
        if os.path.exists(out_path):
            os.remove(out_path)
    if rc is None:
        print(f"perfbench: the run took longer than {RUN_TIMEOUT_S} s and was stopped", file=sys.stderr)
        return 1
    if rc == 0:
        sys.stdout.buffer.write(out)
        sys.stdout.flush()
    return rc


def measure(args) -> int:
    host = host_info()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    os.makedirs(work, exist_ok=True)
    configure(work, host)

    # everything the engine prints goes to a log; the result line goes
    # to the real standard output
    real_stdout = os.dup(1)
    log_fd = os.open(os.path.join(work, "stdout.log"), os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 1)
    os.close(log_fd)

    from layers import Spans

    spans = Spans(run_id)
    info: dict = {}
    spark = None
    try:
        spark = start_session(work, bool(args.trace))
        info["start_s"] = time.time() - T_PROCESS
        host["spark"] = spark.version
        run = run_live if args.workload == "live_orders" else run_batch
        e2e, layer, attempted, failed = run(spark, args, work, host, spans, info)
    finally:
        if spark is not None:
            spark.stop()
        sys.stdout.flush()
    layer.update({"session.start_s": info["start_s"], "session.warmup_s": info["warmup_s"]})

    names = PER_LAYER if args.trace else list(E2E)
    metrics = {
        n: {"value": float(layer.get(n, 0.0) if args.trace else e2e[n]),
            "unit": unit_of(n) if args.trace else E2E[n]}
        for n in names
    }
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": metrics,
    }
    record = dict(result, workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, host=host, end_to_end=e2e, per_layer=layer, run=info)
    for sub in ("results", "traces"):
        os.makedirs(os.path.join(ROOT, ".bench_work", sub), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(ROOT, ".bench_work", "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        spans.write(os.path.join(ROOT, ".bench_work", "traces", f"{tag}.json"))
    shutil.rmtree(work, ignore_errors=True)
    os.write(real_stdout, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
