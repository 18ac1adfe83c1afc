#!/usr/bin/env python3
"""Flow-level benchmark for tuktu-spark.

    python3 perfbench/run.py --workload star_etl --seed 0 --seconds 8 --trace 0

Runs one workload on ``local[<cores>]`` in this process, after generating its
inputs from ``--seed`` into a per-run directory under ``.perfbench_run/``
(removed at exit).  Prints a readable report, then, as the last line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, and the spans go to ``.perfbench_out/``.  See
perfbench/README.md for what each metric means and what should move it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
E2E_UNITS = {"setup_s": "s", "work_cpu_s": "s"}
# measuring stops this long after start at the latest (past a few samples):
# an untraced run normally measures until 40-50 s on a 4-vCPU host, and the
# cap keeps a run on a slow host near that; a traced run does more, and
# stays within 180 s
RUN_LIMIT_S = {0: 52, 1: 140}
# a stream that has not shown its first result, finished its warm-up or
# measured a few seconds of events by this long after start gives up
HARD_LIMIT_S = {0: 120, 1: 150}
# a second set-up, in a process of its own, only starts this long after the
# run did at the latest, so that it does not push a slow run past its share
# of the time budget (README, "setup_s")
PROBE_BY_S = {0: 48, 1: 120}
PROBE_TIMEOUT_S = 60


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("_bytes_after"):
        return "bytes"
    if name.endswith("_share") or name.endswith("task_skew"):
        return "ratio"
    return "count"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=["corpus_refine", "star_etl", "events_stream"])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _hermetic(run_dir: str) -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark into the
    run directory and put the repo root on the workers' PYTHONPATH, so the
    run neither depends on nor writes to the current directory."""
    tmp, local, out = (os.path.join(run_dir, d) for d in ("tmp", "local", "out"))
    for d in (tmp, local, out):
        os.makedirs(d)
    # half the CPUs: on a 4-vCPU shared VM four busy processes each ran at
    # 0.45x the speed of one, and run_s spread wider over seeds with local[4]
    # than with local[2] on both gated workloads (README, "Cores"); the JVM's
    # own threads and the Python workers use the other half
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # no /tmp/hsperfdata_* from the JVMs
    )
    os.chdir(run_dir)
    return {
        "spark.sql.warehouse.dir": os.path.join(out, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(out, "checkpoints"),
        # a fixed set of JIT compiler threads: the JVM otherwise ends idle
        # ones, and the CPU an ended thread used can no longer be told apart
        # from the work (README, "work_cpu_s")
        "spark.driver.extraJavaOptions": (f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
                                          f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"),
        "spark.ui.showConsoleProgress": "false",
    }


def _vm_ticks() -> tuple[int, int]:
    """Clock ticks the whole VM has spent busy, and had stolen by the
    hypervisor while it wanted to run, from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (int(x) for x in f.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def start_session(conf: dict[str, str]):
    """Start the session the way a user does, then import the flow compiler
    and the operator registry.  Returns (spark, start_s, import_s, stolen),
    where ``stolen`` is the share of the VM's CPU time the hypervisor took
    during the set-up."""
    busy0, steal0 = _vm_ticks()
    t0 = time.perf_counter()
    from tuktu_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    import tuktu_spark.flow  # noqa: F401
    import tuktu_spark.operators  # noqa: F401

    t2 = time.perf_counter()
    busy1, steal1 = _vm_ticks()
    stolen = (steal1 - steal0) / max(busy1 - busy0 + steal1 - steal0, 1)
    return spark, t1 - t0, t2 - t1, stolen


def probe_setup(conf: dict[str, str]) -> tuple[float, float, float]:
    """One set-up in a process of its own (setup_probe.py), run to its end.
    Returns (start_s, import_s, stolen) as ``start_session`` does."""
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "setup_probe.py"), json.dumps(conf)],
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=PROBE_TIMEOUT_S)
    finally:
        if proc.poll() is None:  # timed out, or this process was interrupted
            os.killpg(proc.pid, signal.SIGKILL)  # the probe and its JVM
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"set-up probe exited with {proc.returncode}")
    times = json.loads(out.strip().splitlines()[-1])
    return times["start_s"], times["import_s"], times["stolen"]


def stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    args = _args(argv)
    t_begin = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "tuktu_spark", "session.py")):
        print(f"perfbench: no tuktu_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import inputs
    import workloads
    from spans import Tracer

    run_root = os.path.join(ROOT, ".perfbench_run")
    run_dir = os.path.join(run_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    cwd = os.getcwd()
    spark = None
    try:
        conf = _hermetic(run_dir)
        in_dir = os.path.join(run_dir, "in")
        os.makedirs(in_dir)
        gen = inputs.GENERATORS[args.workload](in_dir, args.seed)
        timeline = {"inputs": time.perf_counter() - t_begin}

        spark, *setup = start_session(conf)
        setups = [setup]
        spark.sparkContext.setLogLevel("ERROR")

        tracer = Tracer(spark, enabled=False)
        ctx = workloads.Context(
            spark=spark, tracer=tracer, seconds=args.seconds, seed=args.seed, in_dir=in_dir,
            out_dir=os.path.join(run_dir, "out"), deadline=t_begin + RUN_LIMIT_S[args.trace],
            limit=t_begin + HARD_LIMIT_S[args.trace], trace=bool(args.trace),
        )
        t_work = time.perf_counter()
        timeline["setup"] = t_work - t_begin - timeline["inputs"]
        result = workloads.WORKLOADS[args.workload](ctx)
        timeline["workload"] = time.perf_counter() - t_work
        if not result.e2e:
            print("perfbench: no successful run; " + "; ".join(result.problems), file=sys.stderr)
            return 1
        layers = {}
        if args.trace:
            layers = dict.fromkeys(workloads.per_layer_names(), 0)
            layers.update(result.layers)
            layers["host.control_s"] = workloads.host_control(spark)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.trace.json"))
        stop(spark)
        spark = None
        t_probe = time.perf_counter()
        timeline["stop"] = t_probe - t_begin - sum(timeline.values())
        if t_probe - t_begin < PROBE_BY_S[args.trace]:
            setups.append(probe_setup(conf))
        timeline["probe"] = time.perf_counter() - t_probe
        # set-up time with the hypervisor's steal taken out (README, "setup_s")
        adjusted = [(a * (1 - f), b * (1 - f)) for a, b, f in setups]
        e2e = {"setup_s": statistics.median(a + b for a, b in adjusted), **result.e2e}
        if args.trace:
            layers["session.start_s"] = statistics.median(a for a, _ in adjusted)
            layers["session.import_s"] = statistics.median(b for _, b in adjusted)
    finally:
        if spark is not None:
            stop(spark)
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(run_root) and not os.listdir(run_root):
            os.rmdir(run_root)

    timeline["cleanup"] = time.perf_counter() - t_begin - sum(timeline.values())
    failed_ops = result.failed / max(result.attempted, 1)
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"cores={os.environ['SPARK_GRAFT_CPUS']}")
    print("inputs: " + json.dumps(gen, sort_keys=True))
    print("timeline s: " + ", ".join(f"{k} {v:.1f}" for k, v in timeline.items()))
    print("set-ups (the run's own, then the probe's): "
          + ", ".join(f"{a:.2f} + {b:.2f} s (session start + imports), {f:.0%} stolen" for a, b, f in setups))
    for line in result.report:
        print(line)
    for problem in result.problems:
        print(f"CHECK FAILED: {problem}")
    print(f"failed_ops {failed_ops:.4f} ({result.failed} of {result.attempted})")
    for name, value in e2e.items():
        print(f"e2e {name} {value:.6g} {E2E_UNITS[name]}")
    for name, value in layers.items():
        print(f"layer {name} {value:.6g} {layer_unit(name)}")
    metrics = layers if args.trace else e2e
    units = layer_unit if args.trace else E2E_UNITS.__getitem__
    print(json.dumps({
        "correct": not result.problems,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": v, "unit": units(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
