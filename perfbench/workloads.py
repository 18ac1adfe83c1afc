"""The three workloads, driven through the program's public entry points:
``run_flow`` / ``run_stream_flow`` and an action on the returned leaves.

Each workload returns a ``Result``: end-to-end values, per-layer values
(traced runs only), how many operations were attempted and failed, the
problems the output checks found, and lines for the human-readable report.
"""

from __future__ import annotations

import dataclasses
import datetime
import glob
import json
import os
import statistics
import sys
import time
import traceback

import checks
import inputs
from spans import PHASE_METRICS, fold_jobs, install_node_spans, median_of

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FLOWS = {
    "corpus_refine": os.path.join(ROOT, "flows", "examples", "web_corpus_refinement.json"),
    "star_etl": os.path.join(HERE, "flows", "star_etl.json"),
    "events_stream": os.path.join(HERE, "flows", "events_stream.json"),
}
PINS = os.path.join(HERE, "pins.json")

# events/s: half the flow's capacity, measured on a 4-core host as the highest
# rate at which every batch still held one second of events (see README)
STREAM_RATE = 300_000
BATCH_WARMUP_RUNS = 4  # flow runs after the cold one, left out of the figures
STREAM_WARMUP_BATCHES = 5  # data batches after the first, left out of the figures
MIN_SAMPLES = 3  # steady runs, or stream batches, measured even past the deadline
STREAMING_METRICS = [
    "batch_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms", "commit_offsets_ms",
    "rows_per_batch", "jobs_per_batch", "state_rows", "state_bytes", "state_commit_ms", "backlog_s",
]


def node_ids() -> list[str]:
    """Processor ids of all three flows (ids are unique across them)."""
    ids: list[str] = []
    for path in FLOWS.values():
        with open(path) as f:
            ids.extend(p["id"] for p in json.load(f)["processors"])
    return ids


def per_layer_names() -> list[str]:
    names = ["session.start_s", "session.import_s"]
    names += ["flow.build_s", "flow.build_self_s", "flow.build_jobs", "flow.action_s", "flow.action_jobs"]
    names += ["flow.persisted_rdds_after", "flow.persisted_bytes_after"]
    names += [f"spark.{phase}.{m}" for phase in ("build", "action") for m in PHASE_METRICS]
    names += [f"streaming.{m}" for m in STREAMING_METRICS]
    names += ["host.control_s", "trace.overhead_share"]
    names += [f"operators.{nid}.{m}" for nid in node_ids() for m in ("build_s", "build_jobs")]
    return names


@dataclasses.dataclass
class Context:
    spark: object
    tracer: object
    seconds: float
    seed: int
    in_dir: str
    out_dir: str
    deadline: float  # perf_counter time by which measuring must stop
    limit: float  # perf_counter time by which the stream's waits give up
    trace: bool


@dataclasses.dataclass
class Result:
    e2e: dict
    layers: dict
    attempted: int
    failed: int
    problems: list
    report: list


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


def _peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python driver."""
    total = 0
    for pid in ("self", str(spark.sparkContext._gateway.proc.pid)):
        with open(f"/proc/{pid}/status") as f:
            total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total / 1024


def _stat(path: str) -> list[str]:
    """The fields of a /proc stat file after the command name: [0] state,
    [1] ppid, [11:13] utime, stime, [13:15] cutime, cstime (clock ticks)."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def cpu_snapshot(spark) -> tuple[float, dict[int, float]]:
    """CPU seconds (user + system) used so far by this Python driver, the
    driver JVM and every process under it (the Python workers), reaped ones
    included; and, by thread id, the part of it each of the JVM's JIT
    compiler threads used.  Time the hypervisor steals from the VM is in
    neither."""
    hz = os.sysconf("SC_CLK_TCK")
    root = spark.sparkContext._gateway.proc.pid
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            fields = _stat(f"/proc/{entry}/stat")
        except OSError:  # the process ended while we looked
            continue
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p not in (root, 0, 1) and p in parent:
            p = parent[p]
        if p == root:
            total += t
    jit = {}
    for tid in os.listdir(f"/proc/{root}/task"):
        try:
            with open(f"/proc/{root}/task/{tid}/comm") as f:
                if "Compiler" not in f.read():  # "C1 CompilerThre", "C2 CompilerThre"
                    continue
            fields = _stat(f"/proc/{root}/task/{tid}/stat")
        except OSError:
            continue
        jit[int(tid)] = (int(fields[11]) + int(fields[12])) / hz
    return total / hz + time.process_time(), jit


def cpu_split(before, after) -> tuple[float, float]:
    """(work, jit): the CPU seconds used between two ``cpu_snapshot``s,
    outside and inside the JIT compiler threads.  A compiler thread that
    ended in between leaves its last share in ``work``."""
    jit = sum(v - before[1].get(tid, 0.0) for tid, v in after[1].items())
    return after[0] - before[0] - jit, jit


def _persisted(spark) -> tuple[int, int]:
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return jsc.getPersistentRDDs().size(), sum(i.memSize() + i.diskSize() for i in infos)


def _node_layers(tracer, build_span) -> dict:
    out = {}
    for s in tracer.children(build_span):
        if s["name"].startswith("operators."):
            nid = s["name"].split(".", 1)[1]
            out[f"operators.{nid}.build_s"] = s["end"] - s["start"]
            out[f"operators.{nid}.build_jobs"] = len(tracer.job_ids(s))
    return out


def _phase_layers(spark, phase: str, job_ids: list[int], wall: float) -> dict:
    folded = fold_jobs(spark, job_ids, wall)
    out = {f"spark.{phase}.{m}": folded[m] for m in PHASE_METRICS}
    out[f"flow.{phase}_s"] = wall
    out[f"flow.{phase}_jobs"] = folded["jobs"]
    return out


# --------------------------------------------------------------- batch flows


def _batch(ctx: Context, workload: str, params: dict, check) -> Result:
    from tuktu_spark.flow import run_flow

    with open(FLOWS[workload]) as f:
        spec = json.load(f)
    sinks = {p["id"] for p in spec["processors"] if p["name"].endswith("_sink")}
    tracer, spark = ctx.tracer, ctx.spark
    attempted = failed = 0
    problems: list[str] = []
    digests: set[str] = set()

    def run_once(traced: bool):
        nonlocal attempted, failed
        attempted += 1
        tracer.enabled = traced
        tracer.run_id = attempted
        undo = install_node_spans(tracer) if traced else None
        c0, t0 = cpu_snapshot(spark), time.perf_counter()
        try:
            with tracer.span("run") as run:
                with tracer.span("flow.build"):
                    leaves = run_flow(spark, FLOWS[workload], params=params)
                with tracer.span("flow.action"):
                    rows = {
                        nid: [r.asDict(recursive=True) for r in df.collect()]
                        for nid, df in leaves.items()
                        if nid not in sinks
                    }
            wall = time.perf_counter() - t0
            cpu = cpu_split(c0, cpu_snapshot(spark))
        except Exception:  # a failed flow run is counted, not fatal
            failed += 1
            _log_failure(f"{workload} run {attempted}")
            return None, None, None
        finally:
            tracer.enabled = False
            if undo:
                undo()
        found = check(rows)
        digests.add(checks.rows_digest(rows))
        if found:
            failed += 1
            problems.extend(found)
        return wall, cpu, run

    first, _, _ = run_once(traced=False)
    # the JIT keeps warming over the next runs (each ~15% faster than the
    # last on a 2-core run): leave a fixed number out, so the figure does not
    # depend on how many runs fit in the window
    for _ in range(BATCH_WARMUP_RUNS):
        run_once(traced=False)
    untraced, traced_runs = [], []
    t_start = time.perf_counter()
    want_traced = ctx.trace
    # traced mode alternates untraced and traced runs and ends on an untraced
    # one, so the JIT warming over the runs does not bias the overhead
    while (len(untraced) < MIN_SAMPLES and failed < MIN_SAMPLES) or time.perf_counter() < ctx.deadline and (
        time.perf_counter() - t_start < ctx.seconds
        or (want_traced and (not traced_runs or len(untraced) <= len(traced_runs)))
    ):
        traced = want_traced and len(traced_runs) < len(untraced)
        wall, cpu, run = run_once(traced)
        if wall is not None:
            (traced_runs if traced else untraced).append((wall, cpu, run))
    if len(digests) > 1:
        problems.append(f"{workload}: output differs between runs: {sorted(digests)}")
    if first is None or not untraced:
        return Result({}, {}, attempted, failed, problems, [])

    walls = [w for w, _, _ in untraced]
    cpus = [c for _, (c, _), _ in untraced]
    run_s = statistics.median(walls)
    # the CPU of the whole window over the runs in it: a GC lands in one run
    # of several, and the mean shares it out where a median would skip it
    e2e = {"work_cpu_s": statistics.fmean(cpus)}
    report = [f"runs: 1 cold + {BATCH_WARMUP_RUNS} warm-up + {len(walls)} steady (closed loop, one flow run at a time)",
              f"run_s {run_s:.3f} s (median wall time); steady s: {[round(w, 3) for w in walls]}",
              f"work_cpu_s each: {[round(c, 3) for c in cpus]}",
              f"JIT compiler CPU s each (not in work_cpu_s): {[round(j, 2) for _, (_, j), _ in untraced]}",
              f"first_run_s {first:.3f} s (cold, one sample)",
              f"peak_rss_mb {_peak_rss_mb(spark):.1f} MB",
              f"output digest: {sorted(digests)}"]
    layers = {}
    if traced_runs:
        per_run = []
        for _, _, run in traced_runs:
            build, action = tracer.children(run)
            d = {"flow.build_self_s": tracer.self_time(build)}
            d.update(_phase_layers(spark, "build", tracer.job_ids(build), build["end"] - build["start"]))
            d.update(_phase_layers(spark, "action", tracer.job_ids(action), action["end"] - action["start"]))
            d.update(_node_layers(tracer, build))
            per_run.append(d)
        layers = median_of(per_run)
        traced_s = statistics.median(w for w, _, _ in traced_runs)
        layers["trace.overhead_share"] = traced_s / run_s - 1
        rdds, nbytes = _persisted(spark)
        layers["flow.persisted_rdds_after"] = rdds
        layers["flow.persisted_bytes_after"] = nbytes
        report.append(f"traced runs: {len(traced_runs)}, median {traced_s:.3f} s vs untraced {run_s:.3f} s")
    return Result(e2e, layers, attempted, failed, problems, report)


def corpus_refine(ctx: Context) -> Result:
    with open(PINS) as f:
        pinned = json.load(f)["corpus_refine"].get(str(ctx.seed))

    def check(rows):
        return checks.corpus(rows, ctx.in_dir, pinned)

    result = _batch(ctx, "corpus_refine", {"dir": ctx.in_dir}, check)
    result.report.append(f"pinned digest for seed {ctx.seed}: {pinned}")
    return result


def star_etl(ctx: Context) -> Result:
    reference = checks.star_reference(ctx.in_dir)

    def check(rows):
        return checks.star(rows, ctx.out_dir, reference)

    return _batch(ctx, "star_etl", {"dir": ctx.in_dir, "out": ctx.out_dir}, check)


# -------------------------------------------------------------------- stream


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _ts(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _wait(q, until, deadline: float) -> list[dict]:
    while True:
        prog = _progress(q)
        if until(prog) or time.perf_counter() > deadline:
            return prog
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        time.sleep(0.05)


def _offsets(ckpt: str, log: str) -> dict[int, int]:
    """batch id -> rate offset (seconds) from a checkpoint's offset log;
    for the commit log only the batch ids matter."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, log, "[0-9]*")):
        with open(path) as f:
            last = f.read().strip().splitlines()[-1]
        out[int(os.path.basename(path))] = int(last) if last.strip().isdigit() else -1
    return out


def _stream_once(ctx: Context, traced: bool, duration: float):
    """Start the stream flow, wait for its first result and a warm-up, let
    it run for ``duration`` seconds, stop it.  Returns the
    figures, progress of the measured batches, and the final check."""
    from tuktu_spark.flow.compiler import run_stream_flow

    spark, tracer = ctx.spark, ctx.tracer
    tracer.enabled = traced
    tracer.run_id = (tracer.run_id or 0) + 1
    params = {"dir": ctx.in_dir, "rate": str(STREAM_RATE), "keys": str(inputs.EVENT_KEYS)}
    undo = install_node_spans(tracer) if traced else None
    t0 = time.time()
    with tracer.span("run") as run:
        with tracer.span("flow.build") as build:
            q, name = run_stream_flow(spark, FLOWS["events_stream"], node="agg", params=params,
                                      output_mode="update")
        tracer.enabled = False
        if undo:
            undo()
        t_run = time.perf_counter()
        try:
            data = lambda p: [b for b in p if b["numInputRows"] > 0]  # noqa: E731
            prog = _wait(q, lambda p: len(data(p)) >= 1, ctx.limit)
            first = data(prog)[0]
            first_s = _ts(first["timestamp"]) + first["durationMs"]["triggerExecution"] / 1000 - t0
            warm_id = first["batchId"] + STREAM_WARMUP_BATCHES
            _wait(q, lambda p: p and p[-1]["batchId"] >= warm_id, ctx.limit)
            t_measure = time.time()
            batch_cpu = _cpu_per_batch(spark, q, min(duration, ctx.deadline - time.perf_counter()), ctx.limit)
        finally:
            # batches run back to back, so this stops one mid-way; the check
            # accepts the state with or without that batch's rows
            t_end = time.time()
            q.stop()
        action_wall = time.perf_counter() - t_run
    t_stopped = time.time()
    # measured: the data batches that started inside the window
    prog = [b for b in _progress(q)
            if b["numInputRows"] > 0 and t_measure <= _ts(b["timestamp"]) < t_end]
    sink = spark.table(name).toPandas()
    ckpt = os.path.join(ctx.out_dir, "checkpoints", name)
    logged, committed = _offsets(ckpt, "offsets"), _offsets(ckpt, "commits")
    ends = sorted({logged[max(committed)], logged[max(logged)]})
    problems = checks.events(sink, ctx.in_dir, STREAM_RATE, inputs.EVENT_KEYS, ends)
    # due time of rate value v is t0_rate + v / rate: recover t0_rate from the
    # first surviving event of any label (its timestamp and value)
    t0_rate = statistics.median(sink["first_ts"] - sink["first_v"] / STREAM_RATE)
    lat, backlog = [], []
    for b in prog:
        start = _ts(b["timestamp"])
        end = start + b["durationMs"]["triggerExecution"] / 1000
        src = b["sources"][0]
        newest_due = t0_rate + (int(src["endOffset"]) * STREAM_RATE - 1) / STREAM_RATE
        lat.append((end - newest_due) * 1000)
        backlog.append(start - (t0_rate + int(src["startOffset"])))
    marks = {"first result": first_s, "warm": t_measure - t0, "stop": t_end - t0, "stopped": t_stopped - t0, "checked": time.time() - t0}
    figures = {"first_s": first_s, "marks": marks, "lat": lat, "backlog": backlog, "prog": prog, "query": q,
               "batch_cpu": batch_cpu,
               "run": run, "build": build, "action_wall": action_wall}
    return figures, problems


def _cpu_per_batch(spark, q, duration: float, limit: float) -> list[dict]:
    """For ``duration`` seconds, and on until ``MIN_SAMPLES`` intervals are
    measured (but not past ``limit``), take a CPU snapshot each time a
    micro-batch ends.  Returns one record per interval between two
    snapshots: how many batches ended and how many one-second ticks of
    events they held, and the ``work`` and ``jit`` CPU seconds used in it
    (idle time between batches included)."""
    out = []
    last = None
    stop = time.perf_counter() + duration
    while (time.perf_counter() < stop or len(out) < MIN_SAMPLES) and time.perf_counter() < limit:
        p = q.lastProgress
        if p is not None and (last is None or p["batchId"] != last[0]):
            now = (p["batchId"], int(p["sources"][0]["endOffset"]), cpu_snapshot(spark))
            if last is not None:
                work, jit = cpu_split(last[2], now[2])
                out.append({"batches": now[0] - last[0], "ticks": now[1] - last[1], "work": work, "jit": jit})
            last = now
        time.sleep(0.02)
    return out


def one_tick_cpu(intervals: list[dict]) -> float:
    """CPU of a micro-batch that holds one second of events: a line fitted
    to the CPU of each one-batch interval against the ticks it held, read at
    one tick.  With a single tick count, the mean CPU of those batches: most
    of a batch's CPU is a fixed per-batch cost (README, "work_cpu_s")."""
    rows = [(r["ticks"], r["work"]) for r in intervals if r["batches"] == 1 and r["ticks"] > 0]
    if not rows:
        return sum(r["work"] for r in intervals) / sum(r["batches"] for r in intervals)
    ticks, work = zip(*rows)
    if len(set(ticks)) == 1:
        return statistics.fmean(work)
    slope, intercept = statistics.linear_regression(ticks, work)
    return intercept + slope


def _tail(values: list[float]) -> tuple[float | None, float | None]:
    """Highest percentile with at least ten samples beyond it, and its
    value; (None, None) under 20 samples."""
    n = len(values)
    if n < 20:
        return None, None
    pct = 100 * (n - 10) / n
    return pct, sorted(values)[n - 11]


def events_stream(ctx: Context) -> Result:
    want_traced = ctx.trace
    attempted = failed = 0
    problems: list[str] = []
    runs = []
    for traced in ([False, True] if want_traced else [False]):
        try:
            fig, found = _stream_once(ctx, traced, ctx.seconds)
        except Exception:
            _log_failure("events_stream")
            attempted += 1
            failed += 1
            continue
        batches = len(fig["prog"])
        attempted += batches
        if found:
            failed += batches
            problems.extend(found)
        if not fig["lat"]:
            problems.append("events_stream: no measured batch")
        runs.append((traced, fig))
    untraced = [f for t, f in runs if not t]
    if not untraced or not untraced[0]["lat"] or not any(r["ticks"] for r in untraced[0]["batch_cpu"]):
        return Result({}, {}, max(attempted, 1), max(failed, 1), problems, [])
    fig = untraced[0]
    batch_s = [b["durationMs"]["triggerExecution"] / 1000 for b in fig["prog"]]
    p50 = statistics.median(fig["lat"])
    pct, tail = _tail(fig["lat"])
    per_tick = [r["work"] / r["ticks"] for r in fig["batch_cpu"] if r["ticks"] > 0]
    e2e = {"work_cpu_s": one_tick_cpu(fig["batch_cpu"])}
    report = [
        f"open loop at {STREAM_RATE} events/s; {len(fig['lat'])} batches measured after "
        f"{STREAM_WARMUP_BATCHES} warm-up batches",
        f"run_s {statistics.median(batch_s):.3f} s (median batch time)",
        f"work_cpu_s each interval between batch ends, per tick: {[round(t, 3) for t in per_tick]}",
        f"(batches, ticks) each interval: {[(r['batches'], r['ticks']) for r in fig['batch_cpu']]}",
        f"JIT compiler CPU s per tick (not in work_cpu_s): median "
        f"{statistics.median(r['jit'] / r['ticks'] for r in fig['batch_cpu'] if r['ticks'] > 0):.3f}",
        f"first_run_s {fig['first_s']:.3f} s (from the run_stream_flow call to the first result, one sample)",
        f"peak_rss_mb {_peak_rss_mb(ctx.spark):.1f} MB",
        f"stream_latency_p50_ms {p50:.1f} ms (max {max(fig['lat']):.1f} ms); batch s: "
        f"median {statistics.median(batch_s):.3f}, each {[round(b, 3) for b in batch_s]}",
        (f"stream_latency_tail_ms {tail:.1f} ms (p{pct:.0f})" if tail is not None
         else f"stream_latency_tail_ms n/a: a tail percentile needs 20 batches, {len(fig['lat'])} measured"),
        "stream timeline s: " + ", ".join(f"{k} {v:.1f}" for k, v in fig["marks"].items()),
        f"generator lag (batch start - due time of its oldest event) s: median "
        f"{statistics.median(fig['backlog']):.3f}, max {max(fig['backlog']):.3f}",
    ]
    layers = {}
    traced = [f for t, f in runs if t]
    if traced and traced[0]["lat"]:
        layers = _stream_layers(ctx, traced[0])
        traced_batch_s = [b["durationMs"]["triggerExecution"] / 1000 for b in traced[0]["prog"]]
        layers["trace.overhead_share"] = statistics.median(traced_batch_s) / statistics.median(batch_s) - 1
    return Result(e2e, layers, attempted, failed, problems, report)


def _stream_layers(ctx: Context, fig: dict) -> dict:
    spark, tracer = ctx.spark, ctx.tracer
    prog = fig["prog"]
    tracker = spark.sparkContext.statusTracker()
    stream_jobs = sorted(tracker.getJobIdsForGroup(str(fig["query"].runId)))

    def med(f):
        return statistics.median(f(b) for b in prog)

    state = [b["stateOperators"][0] for b in prog]
    layers = {
        "streaming.batch_ms": med(lambda b: b["durationMs"]["triggerExecution"]),
        "streaming.add_batch_ms": med(lambda b: b["durationMs"].get("addBatch", 0)),
        "streaming.query_planning_ms": med(lambda b: b["durationMs"].get("queryPlanning", 0)),
        "streaming.wal_commit_ms": med(lambda b: b["durationMs"].get("walCommit", 0)),
        "streaming.commit_offsets_ms": med(lambda b: b["durationMs"].get("commitOffsets", 0)),
        "streaming.rows_per_batch": med(lambda b: b["numInputRows"]),
        "streaming.jobs_per_batch": len(stream_jobs) / (fig["prog"][-1]["batchId"] + 1) if fig["prog"] else 0,
        "streaming.state_rows": state[-1]["numRowsTotal"],
        "streaming.state_bytes": state[-1]["memoryUsedBytes"],
        "streaming.state_commit_ms": statistics.median(s["commitTimeMs"] for s in state),
        "streaming.backlog_s": statistics.median(fig["backlog"]),
    }
    build = fig["build"]
    layers["flow.build_self_s"] = tracer.self_time(build)
    layers.update(_phase_layers(spark, "build", tracer.job_ids(build), build["end"] - build["start"]))
    layers.update(_phase_layers(spark, "action", stream_jobs, fig["action_wall"]))
    layers.update(_node_layers(tracer, build))
    to_perf = time.perf_counter() - time.time()  # batch times are wall-clock
    for b in prog:
        start = _ts(b["timestamp"]) + to_perf
        tracer.add_span(f"streaming.batch.{b['batchId']}", start,
                        start + b["durationMs"]["triggerExecution"] / 1000, fig["run"],
                        durations_ms=b["durationMs"])
    return layers


WORKLOADS = {"corpus_refine": corpus_refine, "star_etl": star_etl, "events_stream": events_stream}


def host_control(spark, rows: int = 20_000_000, keys: int = 4096) -> float:
    """Pure-Spark scan -> partial agg -> shuffle -> final agg, no repo code:
    it moves only with the host, for telling host noise from program change."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(0, rows, 1, 8)
        .selectExpr(f"id % {keys} AS k", "hash(id) % 1024 AS v")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"), F.sum("v").alias("s"), F.avg("v").alias("a"))
        .write.mode("overwrite")
        .format("noop")
        .save()
    )
    return time.perf_counter() - t0
