"""The repository benchmark.

    python3 perfbench/run.py --workload ingest|refresh --seed N \\
        --seconds S --trace 0|1

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` the per-layer ones. See ``perfbench/README.md``.

The command supervises one child process (this file with ``--child``)
in its own process group, so the Spark JVM and its Python workers are
all stopped and waited for before it exits. Everything the run writes
lives under ``.perfbench_work/`` in the repository and is removed at the
end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from statistics import median

from tracing import Tracer, read_event_logs, vm_hwm_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "refresh")
#: A run that has not finished by then is killed and reported failed.
CHILD_TIMEOUT_S = 150


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--child", metavar="WORKDIR", help=argparse.SUPPRESS)
    return p.parse_args(argv)


# -- child: one workload in one Spark session ---------------------------------


def _layer_metrics(res, counters: dict, hwm_mb: float) -> dict[str, float]:
    """Event-log counters (grouped by job group) → per-layer metrics."""
    out = dict(res.layer)
    every = list(counters.values())
    out.update({
        "session.jvm_peak_rss_mb": hwm_mb,
        "session.gc_s": sum(g.gc_ms for g in every) / 1e3,
        "exec.jobs": float(sum(g.jobs for g in every)),
        "exec.stages": float(sum(g.stages for g in every)),
        "exec.tasks": float(sum(g.tasks for g in every)),
        "exec.cpu_s": sum(g.cpu_ns for g in every) / 1e9,
        "exec.run_s": sum(g.run_ms for g in every) / 1e3,
        "exec.shuffle_read_bytes": float(
            sum(g.shuffle_read_bytes for g in every)
        ),
        "exec.shuffle_write_bytes": float(
            sum(g.shuffle_write_bytes for g in every)
        ),
        "exec.bytes_written": float(sum(g.bytes_written for g in every)),
        "exec.peak_exec_mem_mb": max(
            (g.peak_exec_mem for g in every), default=0
        ) / 2**20,
        "feed.parse_cpu_s": sum(g.source_cpu_ns for g in every) / 1e9,
    })
    live = [counters[f"batch:{b}"] for b in res.live_batch_ids
            if f"batch:{b}" in counters]
    if live:
        out["ingest.jobs_per_batch"] = median([g.jobs for g in live])
        out["ingest.stages_per_batch"] = median([g.stages for g in live])
        out["ingest.tasks_per_batch"] = median([g.tasks for g in live])
        out["feed.read_passes_per_batch"] = median([
            g.source_tasks / n
            for g, n in zip(live, res.live_partitions) if n
        ])
    for name, g in counters.items():
        # refresh.<stage>.d0 is the initial load, .d1 the first merge day
        parts = name.split(".")
        if parts[0] == "refresh" and parts[-1] in ("d0", "d1"):
            kind = "initial" if parts[-1] == "d0" else "daily"
            out[f"refresh.{parts[1]}.jobs_{kind}"] = float(g.jobs)
            out[f"refresh.{parts[1]}.stages_{kind}"] = float(g.stages)
    return out


def child(args: argparse.Namespace) -> int:
    setup_started = time.perf_counter()
    import workloads

    from nextbus2pg_spark.session import get_spark

    work = args.child
    session_t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - session_t0
    tracer = Tracer()
    ctx = workloads.Ctx(
        spark=spark, seed=args.seed, seconds=args.seconds,
        work=os.path.join(work, "data"), trace=bool(args.trace),
        tracer=tracer, setup_started=setup_started,
    )
    os.makedirs(ctx.work)
    run = {"ingest": workloads.run_ingest_workload,
           "refresh": workloads.run_refresh_workload}[args.workload]
    res = run(ctx)
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    hwm_mb = vm_hwm_mb(int(jvm_pid))
    if args.trace:
        spark.stop()  # flushes and closes the event log

    for note in res.notes:
        print(f"perfbench: {note}", file=sys.stderr)
    spec = _spec()
    if args.trace:
        counters = read_event_logs(os.path.join(work, "eventlog"))
        layer = _layer_metrics(res, counters, hwm_mb)
        layer["session.start_s"] = session_start_s
        for k, v in res.e2e.items():
            layer[f"traced.{k}"] = v
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = {n: float(layer.get(n, 0.0)) for n, _u in names}
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = dict(res.e2e)
        values["ok_frac"] = (res.attempted - res.failed) / res.attempted
    metrics = {n: {"value": values[n], "unit": u} for n, u in names}
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }), flush=True)
    # The supervisor kills the JVM and its workers with the whole group;
    # a graceful shutdown would only add seconds to every run.
    os._exit(0)


# -- supervisor ---------------------------------------------------------------


def _child_env(work: str, trace: bool) -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    submit = [
        f"--driver-java-options=-Djava.io.tmpdir={tmp}",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [env.get("PYTHONPATH")] if p]
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
        "PYTHONHASHSEED": "0",
    })
    return env


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill every process left in the child's group (the Spark JVM and
    its Python workers) and wait until the group is empty, reaping the
    child itself, which would otherwise linger in it as a zombie."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    end = time.time() + 30
    while time.time() < end:
        proc.poll()
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)
    raise RuntimeError("perfbench: child processes did not exit")


def main(argv=None) -> int:
    args = _args(argv)
    if args.child:
        return child(args)
    if not os.path.isfile(os.path.join(ROOT, "nextbus2pg_spark",
                                       "__init__.py")):
        print("perfbench: nextbus2pg_spark package not found next to "
              "perfbench/ — run from a repository checkout",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    cmd = [sys.executable, os.path.abspath(__file__),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--child", work]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=_child_env(work, bool(args.trace)),
        stdout=subprocess.PIPE, start_new_session=True, text=True,
    )
    # A terminated run still stops its child group and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        out, _ = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
        out = ""
    finally:
        _stop_group(proc)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        print(f"perfbench: run failed (exit {proc.returncode})",
              file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
