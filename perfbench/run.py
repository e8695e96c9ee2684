"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload ingest_monthly --seed 1 --seconds 45 --trace 0

Run from the root of a checkout of the repository. The run makes its
inputs from the seed, sets the program up (timed as ``setup_s``), runs
the measured region (``wall_s``), checks the outputs against
expectations built without the program, and prints a report whose last
line is one JSON object. ``--trace 1`` runs the same workload with
spans, Spark job groups and the Spark event log on, and reports the
per-layer metrics instead of the end-to-end ones. A failed output check
exits 1; a checkout without the program exits 2. Every process the run
starts, and every process those start, has ended before it exits.

Workloads (see perfbench/README.md): ingest_monthly, analytics_rag.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_monthly", "analytics_rag")
END_TO_END = (("setup_s", "s"), ("wall_s", "s"), ("latency_p50_s", "s"))
PR_SET_CHILD_SUBREAPER = 36


class Context:
    """State of one run, passed to the workload's phases."""

    def __init__(self, args, work: str) -> None:
        from harness import Tracer

        self.seed = args.seed
        self.traced = bool(args.trace)
        self.work = work
        self.spark = None
        self.tracer = Tracer(enabled=self.traced)
        self.nproc = len(os.sched_getaffinity(0))
        self.ops: list[tuple[str, float]] = []
        self.untimed_s = 0.0  # benchmark-side steps inside the measured region
        self.cleanup: list = []
        self.event_log = os.path.join(work, "eventlog")
        self.log = None  # the parsed event log, in a traced run
        self.trace_errors: list[str] = []  # failed checks of the traced run's own figures

    def op(self, name: str, seconds: float) -> None:
        """Record one user-visible operation's latency."""
        self.ops.append((name, seconds))


def _modules():
    import analytics_rag
    import ingest

    return {"ingest_monthly": ingest, "analytics_rag": analytics_rag}


def _spark_conf(ctx: Context) -> dict[str, str]:
    tmp = os.path.join(ctx.work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if ctx.traced:
        os.makedirs(ctx.event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": ctx.event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _history_path() -> str:
    return os.path.join(ROOT, ".bench_build", "history.jsonl")


def _untraced_walls(workload: str, source: str) -> list[float]:
    """wall_s of earlier untraced runs of this workload on these sources."""
    try:
        with open(_history_path()) as f:
            rows = [json.loads(line) for line in f if line.strip()]
    except OSError:
        return []
    return [r["wall_s"] for r in rows
            if r["workload"] == workload and r["source"] == source and not r["trace"]]


def run(args) -> int:
    from harness import EventLog, median, peak_rss_mb, source_hash

    mods = _modules()
    mod = mods[args.workload]
    source = source_hash()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    ctx = Context(args, work)
    nproc = ctx.nproc
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        mod.prepare(ctx)

        t0 = time.perf_counter()
        from insurance_helper_spark.session import get_spark

        t_gs = time.perf_counter()
        ctx.spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=_spark_conf(ctx))
        get_spark_s = time.perf_counter() - t_gs
        ctx.tracer.spark = ctx.spark
        ctx.spark.range(1).count()
        mod.setup(ctx)
        setup_s = time.perf_counter() - t0

        t1 = time.perf_counter()
        with ctx.tracer.span("workload"):
            res = mod.measure(ctx)
        wall_s = time.perf_counter() - t1 - ctx.untimed_s
        rss = peak_rss_mb(ctx.spark)

        errors = mod.check(ctx, res)
        attempted, failed = mod.counts(ctx, res)
        # further end-to-end figures, printed but not gated:
        # they cannot be measured non-zero and steady on every workload
        info = {"peak_rss_mb": (rss, "MB", 1),
                "stored_bytes_per_input_byte": (mod.stored_bytes_per_input_byte(ctx, res),
                                                "ratio", 1)}
        lat = [s for _, s in ctx.ops]
        if not ctx.traced:
            values = {"setup_s": (setup_s, 1), "wall_s": (wall_s, 1),
                      "latency_p50_s": (median(lat), len(lat))}
            metrics = {name: (values[name][0], unit, values[name][1]) for name, unit in END_TO_END}
        else:
            ctx.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60000)
            layer = {"session.get_spark_s": (get_spark_s, "s", 1),
                     "process.peak_rss_mb": (rss, "MB", 1)}
            ctx.log = EventLog(ctx.event_log, ctx.tracer.spans)
            layer.update(ctx.log.layer_metrics(ctx.tracer.spans))
            layer.update(mod.layer_metrics(ctx, res))
            errors += ctx.trace_errors
            metrics = _complete_layers(layer, mods, _untraced_walls(args.workload, source), wall_s)
            os.makedirs(os.path.join(ROOT, ".bench_build", "traces"), exist_ok=True)
            ctx.tracer.dump(os.path.join(
                ROOT, ".bench_build", "traces", f"{args.workload}-{args.seed}.json"
            ))
    finally:
        try:
            if ctx.spark is not None:
                _stop_spark(ctx.spark)
        finally:
            for fn in reversed(ctx.cleanup):
                fn()
            shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.dirname(_history_path()), exist_ok=True)
    with open(_history_path(), "a") as f:
        f.write(json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": ctx.traced,
            "source": source, "wall_s": wall_s,
        }) + "\n")

    import pyspark

    print(
        f"# workload={args.workload} seed={args.seed} trace={int(ctx.traced)} "
        f"nproc={nproc} pyspark={pyspark.__version__} source={source} "
        f"budget_s={args.seconds}"
    )
    for name, sec in ctx.ops:
        print(f"# op {name:<46} {sec:>14.6f} s")
    for name, (value, unit, n) in sorted(metrics.items()):
        print(f"{name:<52} {value:>14.6f} {unit:<6} n={n}")
    print(f"{'error_rate':<52} {failed / attempted:>14.6f} ratio  n={attempted} (not gated)")
    if ctx.traced:
        for line in _span_table(ctx):
            print(line)
    else:
        for name, (value, unit, n) in info.items():
            print(f"{name:<52} {value:>14.6f} {unit:<6} n={n} (not gated)")
    for e in errors:
        print(f"CHECK FAILED: {e}")
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))
    return 1 if errors else 0


def _stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM, which takes its Python workers
    with it, to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        proc.stdin.close()  # the JVM exits when the stdin its launcher holds closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _become_subreaper() -> None:
    """Have every process below this one that loses its parent (the Spark
    JVM's Python workers, once the JVM is gone) become a child of this
    process instead of init's, so that ``_stop_descendants`` finds it."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _descendants() -> list[int]:
    """Pids of every process below this one, zombies included."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                ppid = int(f.read().rsplit(b")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(name))
    found, todo = [], [os.getpid()]
    while todo:
        below = children.get(todo.pop(), [])
        found += below
        todo += below
    return found


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_descendants(grace_s: float = 5.0) -> None:
    """Wait until no process is left below this one, reaping the ones
    that end as this process's children. What is still there after
    ``grace_s`` is sent SIGTERM, and after another ``grace_s`` SIGKILL."""
    signals = [signal.SIGTERM, signal.SIGKILL]
    deadline = time.monotonic() + grace_s
    while True:
        _reap_children()
        left = _descendants()
        if not left:
            return
        if time.monotonic() >= deadline:
            if not signals:
                print(f"perfbench: processes {left} outlived SIGKILL", file=sys.stderr)
                return
            sig = signals.pop(0)
            print(f"perfbench: sending {sig.name} to leftover processes {left}",
                  file=sys.stderr)
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + grace_s
        time.sleep(0.05)


def _exit_on_sigterm(signum, frame) -> None:
    raise SystemExit(128 + signum)  # runs the clean-up of every open ``finally``


def _complete_layers(layer: dict, mods: dict, walls: list[float], wall_s: float) -> dict:
    """Every per-layer metric of every workload: a layer this workload
    does not exercise did no work here and reads 0."""
    from harness import median

    layer["trace.wall_s"] = (wall_s, "s", 1)
    layer["trace.overhead_s"] = (wall_s - median(walls) if walls else 0.0, "s", len(walls))
    return {name: layer.get(name, (0.0, unit, 0)) for name, unit in layer_metric_names(mods)}


def layer_metric_names(mods: dict) -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    names = [("session.get_spark_s", "s"), ("process.peak_rss_mb", "MB"),
             ("trace.wall_s", "s"), ("trace.overhead_s", "s"),
             ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
             ("spark.failed_tasks", "count"), ("spark.stage_s", "s"),
             ("spark.executor_cpu_s", "s"), ("spark.driver_gap_s", "s"),
             ("spark.shuffle_write_bytes", "bytes"), ("spark.python_worker_bytes", "bytes")]
    for m in mods.values():
        names += [n for n in m.LAYER_METRICS if n not in names]
    return names


def _span_table(ctx: Context) -> list[str]:
    st = ctx.tracer.self_times()
    agg: dict[str, list[float]] = {}
    for s in ctx.tracer.spans:
        a = agg.setdefault(s.name, [0, 0.0, 0.0])
        a[0] += 1
        a[1] += s.end - s.start
        a[2] += st[s.span_id]
    lines = [f"# span{'':<44} {'n':>4} {'total_s':>10} {'self_s':>10}"]
    for name, (n, tot, self_s) in sorted(agg.items(), key=lambda kv: -kv[1][1]):
        lines.append(f"# {name:<48} {n:>4} {tot:>10.3f} {self_s:>10.3f}")
    return lines


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=45,
                   help="the run's time budget; every workload does a fixed amount "
                        "of work sized to fit it on a 4-core host")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "insurance_helper_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle_harness.py")
    ):
        print("perfbench: run from a checkout that holds insurance_helper_spark/ and tests/",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    _become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    try:
        return run(args)
    finally:
        _stop_descendants()


if __name__ == "__main__":
    sys.exit(main())
