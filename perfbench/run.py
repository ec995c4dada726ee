"""Workload benchmark for the demo_pgvector_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload rag_query --seed 1 --seconds 12 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Workload figures and, for a traced run, the path of the
trace file are printed on the lines before it. See perfbench/NOTES.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

METRIC_UNITS = {"setup_s": "s", "op_cpu_ms": "ms"}
OUT_DIR = "perfbench-out"


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(root: str, run_dir: str, trace: bool) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run directory, make the package importable by Python workers, and
    write the run's own SPARK_CONF_DIR (quiet logs, no progress bars,
    and for a traced run an uncompressed, non-rolling event log)."""
    local, tmp, conf = (os.path.join(run_dir, d) for d in ("local", "tmp", "conf"))
    for d in (local, tmp, conf):
        os.makedirs(d, exist_ok=True)
    defaults = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        defaults.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + events,
            }
        )
    with open(os.path.join(conf, "spark-defaults.conf"), "w", encoding="utf-8") as fh:
        fh.writelines(f"{k} {v}\n" for k, v in defaults.items())
    with open(os.path.join(conf, "log4j2.properties"), "w", encoding="utf-8") as fh:
        fh.write(
            "rootLogger.level = error\nrootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\nappender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n%ex\n"
        )
    os.environ["SPARK_CONF_DIR"] = conf
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, root)
    import tempfile

    tempfile.tempdir = tmp


# --- processes --------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        tree.setdefault(ppid, []).append(int(name))
    return tree


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    tree, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(tree.get(p, []))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status", encoding="utf-8") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(jvm_pid: int) -> float:
    """CPU time (user + system) used so far by this process and by the
    JVM and every process below it; a process's reaped children count
    with it, so exited Python workers are included. Time stolen by the
    hypervisor is not CPU time, so this does not move with other
    tenants' load the way wall time does."""
    t = os.times()
    total = t.user + t.system
    for p in descendants(jvm_pid):
        try:
            with open(f"/proc/{p}/stat", encoding="utf-8") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15]) / _TICK  # utime stime cutime cstime
    return total


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it and every
    process below it (the Python worker daemon and workers) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    SparkContext._gateway = SparkContext._jvm = None


# --- run ----------------------------------------------------------------------


def execute(args, run_dir: str) -> dict:
    import tracing as tr
    from workloads import WORKLOADS, Context

    from demo_pgvector_spark.session import get_session

    inputs, setup, measure, traced_extra = WORKLOADS[args.workload]
    ctx = Context(os.path.join(run_dir, "work"), args.seed, args.seconds)
    inp = inputs(ctx)
    # setup_s is the CPU time of the engine's set-up: session start and
    # the workload's setup, not the generation of its inputs above
    t = os.times()
    cpu0, wall0 = t.user + t.system, time.perf_counter()
    cpus = len(os.sched_getaffinity(0))
    spark = get_session(app_name=f"perfbench-{args.workload}", cpus=cpus)
    try:
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        ctx.spark, ctx.cpu_clock = spark, lambda: cpu_seconds(jvm_pid)
        if not args.trace:
            st = setup(ctx, inp)
            setup_s = ctx.cpu_clock() - cpu0
            ctx.detail["setup_wall_s"] = time.perf_counter() - wall0
            m = measure(ctx, st)
        else:
            import layers

            ctx.tracer = tracer = tr.Tracer(spark.sparkContext)
            recorder = tr.progress_recorder_class()()
            spark.streams.addListener(recorder)
            with tracer.instrument(layers.targets()):
                st = setup(ctx, inp)
                setup_s = ctx.cpu_clock() - cpu0
                ctx.detail["setup_wall_s"] = time.perf_counter() - wall0
                with tracer.span("measure"):
                    m = measure(ctx, st)
                forced = layers.force_stages(ctx, tracer)
                if traced_extra is not None:
                    with tracer.span("extra"):
                        traced_extra(ctx, st)
        rss = peak_rss_mb(descendants(jvm_pid))
    finally:
        stop_spark(spark)

    wall_ms = [1e3 * w for w, _ in m["ops"]]
    cpu_ms = [1e3 * c for _, c in m["ops"]]
    e2e = {"setup_s": setup_s, "op_cpu_ms": stats.median(cpu_ms)}
    ctx.detail.update(
        op_wall_ms=stats.summary(wall_ms),
        op_cpu_ms=stats.summary(cpu_ms),
        items_per_s=m["items"] / (sum(wall_ms) / 1e3),
        items_per_cpu_s=m["items"] / (sum(cpu_ms) / 1e3),
        peak_rss_mb=rss,
    )
    out = {
        "workload": args.workload, "seed": args.seed, "e2e": e2e, "detail": ctx.detail,
        "ops": {"wall_ms": wall_ms, "cpu_ms": cpu_ms},
    }
    if args.trace:
        import glob

        (log,) = glob.glob(os.path.join(run_dir, "events", "*"))
        out["trace"] = layers.report(ctx, tracer, tr.fold_event_log(log), recorder.epochs, forced)
    out["failures"] = ctx.failures
    out["attempted"] = ctx.attempted
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "demo_pgvector_spark", "cli.py")):
        print("perfbench: run from the repository root; demo_pgvector_spark/ is missing",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_environment(root, run_dir, bool(args.trace))
    try:
        out = execute(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run is using it

    for f in out["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    os.makedirs(OUT_DIR, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    report = os.path.join(OUT_DIR, name)
    if args.trace:
        untraced = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced, encoding="utf-8") as fh:
                base = json.load(fh)["e2e"]
            out["trace"]["overhead"] = {
                k: out["e2e"][k] / base[k] for k in out["e2e"] if base.get(k)
            }
            print("perfbench: traced/untraced " + json.dumps(out["trace"]["overhead"]))
    with open(report, "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, default=float)
    print(f"perfbench: {args.workload} detail {json.dumps(out['detail'], default=float)}")
    print(f"perfbench: report written to {report}")

    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in out["trace"]["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": METRIC_UNITS[k]} for k, v in out["e2e"].items()}
    print(
        json.dumps(
            {
                "correct": not out["failures"],
                "attempted": out["attempted"],
                "failed": len(out["failures"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
