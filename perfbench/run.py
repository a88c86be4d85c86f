"""Benchmark entry point.

    python3 perfbench/run.py --workload {migration,serve} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. It pins the run environment, starts a
``local[nproc]`` session through the engine's ``get_spark``, generates the
workload's inputs from ``--seed``, builds its fixtures, runs the closed
loop for ``--seconds``, checks every output against an independent
formulation, and prints one JSON object as the last line of standard
output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the loop
in pairs of operations, one untraced and one traced, then the workload's
batch job (migration: store catch-up and dry run; serve: the pretraining
corpus), and reports the per-layer metrics from the traced spans (job
groups, Spark's event log) plus the tracing overhead between the two
halves. Everything the run writes goes under ``.perfbench_work/``
(removed at exit) and ``.perfbench_out/`` (span dumps).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE = "cernbox_migration_database_spark"


def _meminfo_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def pin_env(root: str, work: str) -> dict:
    """Set the variables the session and its Python workers read, before
    anything imports pyspark. Returns what was set."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = min(3072, _meminfo_mb() // 4)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        # the cbxtable DataSource runs in Python workers that import the
        # engine package: without the root on their path they fail with
        # ModuleNotFoundError
        "PYTHONPATH": os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # engine scratch tables (tempfile.gettempdir) stay inside the checkout
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    return env


def _proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _proc_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def timed_loop(wl, seconds: float, traced: bool, cpu):
    """Closed loop, one client: run operations 1, 2, 3, ... back to back
    until ``seconds`` have passed and at least ``wl.min_ops`` ran. Returns
    the latencies of the traced and of the untraced operations, and the
    CPU seconds (``cpu()`` deltas) of the untraced ones.

    Traced, operations run in pairs, one untraced and one traced, the
    traced one first in every other pair, so the two halves see the same
    mix at the same JVM warmth; their pairwise ratio is the tracing
    overhead."""
    tr = wl.tracer
    lat = {True: [], False: []}
    cpu_s = []
    t_end = time.perf_counter() + seconds
    i = 1
    while time.perf_counter() < t_end or len(lat[traced]) < wl.min_ops:
        pair = (i + 1) // 2
        modes = ((True, False) if pair % 2 else (False, True)) if traced else (False,)
        for on in modes:
            tr.enabled = on
            tr.op = f"op{i}"
            with tr.span("op"):
                c0, t0 = cpu(), time.perf_counter()
                wl.op(i)
                lat[on].append(time.perf_counter() - t0)
                if not on:
                    cpu_s.append(cpu() - c0)
            tr.op = None
            i += 1
    tr.enabled = traced
    return lat[traced], lat[False], cpu_s


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["migration", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE, "plans", "migration.py")):
        print(f"perfbench: no {ENGINE} package under {root}; run from the repo root",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    try:
        return run(args, root, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, root: str, work: str, out_dir: str) -> int:
    load_start = os.getloadavg()
    env = pin_env(root, work)
    sys.path[:0] = [HERE, root]

    import metrics
    from spans import Tracer
    from workloads import WORKLOADS

    from cernbox_migration_database_spark.session import get_spark

    traced = bool(args.trace)
    extra = {
        # no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        extra.update({
            # keep every job and stage of the run for the status counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra)
    session_s = time.perf_counter() - t0
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    tracer = Tracer(spark, traced)
    wl = WORKLOADS[args.workload](spark, tracer, args.seed, work, traced)

    failed = attempted = 0
    errors: list[str] = []
    phases = {"session_s": session_s}

    def cpu() -> float:  # CPU seconds of the driver JVM and this process
        return _proc_cpu_s(jvm_pid) + sum(os.times()[:2])

    wall0 = time.perf_counter()
    cpu0 = cpu()
    try:
        wl.setup()
        # set-up generates the inputs several times: count the median once
        setup_s = (time.perf_counter() - T_PROCESS - sum(wl.gen_times)
                   + statistics.median(wl.gen_times))

        tracer.enabled = False  # the cold first operation is not a layer sample
        first_op_s = wl.first_op()

        tracer.phase = "loop"
        loop_t0 = time.perf_counter()
        lat, plain, op_cpu = timed_loop(wl, args.seconds, traced, cpu)
        loop_s = time.perf_counter() - loop_t0
        attempted = 1 + len(lat) + (len(plain) if traced else 0)

        phases.update(setup_s=setup_s, first_op_s=first_op_s, loop_s=loop_s)
        if traced:
            tracer.phase = "batch"
            t0 = time.perf_counter()
            wl.batch()
            phases["batch_s"] = time.perf_counter() - t0

        tracer.enabled = False
        t0 = time.perf_counter()
        errors = wl.check()
        phases["check_s"] = time.perf_counter() - t0
    except Exception as exc:  # a raising operation fails the run
        failed = 1
        attempted = max(attempted, 1)
        errors.append(f"{type(exc).__name__}: {exc}")
    cpu_s = cpu() - cpu0
    wall_s = time.perf_counter() - wall0
    peak_rss = _proc_hwm_mb(jvm_pid) + _proc_hwm_mb(os.getpid())
    if traced and not failed:
        tracer.status_counts()
    versions = {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }
    gateway = spark.sparkContext._gateway
    spark.stop()
    # the driver JVM exits when its stdin closes: wait until it has
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                                     "PYTHONPATH", "SPARK_LOCAL_DIRS")},
        "nproc": len(os.sched_getaffinity(0)), "os_cpu_count": os.cpu_count(),
        **versions,
        "load_start": load_start, "load_end": os.getloadavg(),
        "cpu_s": round(cpu_s, 3), "wall_s": round(wall_s, 3),
        "phases": {k: round(v, 3) for k, v in phases.items()},
        "check_parts_s": {k: round(v, 3) for k, v in getattr(wl, "check_times", {}).items()},
        "probe_s": getattr(wl, "probe_times", {}),
        "output_hash": getattr(wl, "output_hash", None),
        "peak_rss_mb": round(peak_rss, 1),
        "errors": errors,
    }
    correct = not errors
    if failed or not correct:
        print(json.dumps(record))
        for e in errors:
            print(f"perfbench: {e}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": failed, "metrics": {}}))
        return 1

    if not traced:
        values = {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(lat),
            "ops_per_s": len(lat) / loop_s,
        }
        units = {k: v[0] for k, v in metrics.END_TO_END.items()}
        record["samples"] = len(lat)
        record["op_s"] = [round(x, 3) for x in lat]
        record["op_cpu_s"] = [round(x, 3) for x in op_cpu]
    else:
        tracer.attach_event_log(os.path.join(work, "eventlog"))
        values = layer_values(wl, tracer, lat, plain, session_s, cpu_s / wall_s,
                              peak_rss, attempted, failed)
        values["op.first_s"] = first_op_s
        units = metrics.per_layer()
        tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        print(f"tracing overhead on {args.workload}: "
              f"{values['trace.overhead_frac']:+.1%} median paired op "
              f"({statistics.median(lat):.3f} s traced, {statistics.median(plain):.3f} s "
              f"untraced, {len(lat)} pairs); tracer bookkeeping "
              f"{values['trace.cost_per_op_s'] * 1000:.1f} ms per op")
    print(json.dumps(record))
    for k in units:
        print(f"{k} = {values[k]:.6g} {units[k]}")
    print(json.dumps({
        "correct": True, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0


def layer_values(wl, tracer, lat, plain, session_s, cpu_per_wall, peak_rss,
                 attempted, failed) -> dict:
    import metrics

    summ = tracer.summary()
    out = {k: 0.0 for k in metrics.per_layer()}
    for name, rec in summ.items():
        for stat, v in rec.items():
            key = f"{name}.{stat}"
            if key in out:
                out[key] = float(v)
    out["session.start.s"] = session_s
    for key, v in wl.layer_metrics(summ).items():
        if key in out:
            out[key] = float(v)
    out["op.samples"] = float(len(lat))
    out["spark.failed_tasks"] = float(sum(sp.stats.get("failed_tasks", 0) for sp in tracer.spans))
    out["failed_ratio"] = failed / attempted
    # the two halves ran in pairs of neighbouring operations: compare pairwise
    out["trace.overhead_frac"] = statistics.median(t / u for t, u in zip(lat, plain)) - 1.0
    out["trace.cost_per_op_s"] = tracer.cost_s / len(lat)
    out["env.cpu_per_wall"] = cpu_per_wall
    out["peak_rss_mb"] = peak_rss
    return out


if __name__ == "__main__":
    sys.exit(main())
