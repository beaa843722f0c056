"""Study-lifecycle benchmark of the trial_submission_studio_spark engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload study_small --seed 1 --seconds 20 --trace 0

One process, one client, one local Spark session on ``local[1]``. The
run starts Spark (``setup_s``), generates the workload's study from
``--seed`` (see ``gen.py``), then runs the workload's untimed warm-up ops
and timed ops back to back until ``--seconds`` have passed (at least one
timed op), checking every op's outputs (``check.py``). The last line of
stdout is the result JSON; the line before it describes the run (cores,
versions, commit, per-op times, sample counts, host steal share).

``--trace 1`` enables Spark's event log and alternates untraced ops with
ops whose engine calls are wrapped in spans (``tracing.py``), after at
least one untraced warm-up op; it prints the per-layer table and the
per-layer metrics. End-to-end metrics come from ``--trace 0`` runs only.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: workload -> untimed warm-up ops before the timed window. A study op
#: is timed cold, as the session's first lifecycle: a warm one would need
#: a whole lifecycle (~30 s) of warm-up in every run. The edit loop is
#: timed after six edits: with the C1-only JIT (``JVM_OPTS``) its op time
#: falls by about a fifth over the first few.
WORKLOADS = {"study_small": 0, "preview_edit": 6}
#: cores of the local Spark session (``local[k]``), capped by the host's.
#: One core keeps an op's executor work on one thread, so its time
#: depends little on how many of the shared host's CPUs are free.
MAX_CORES = 1
#: the quick-start JVM of a desktop application: C1-only JIT and the
#: serial GC. With the default tiered JIT, C2 compiles for minutes on
#: two or more threads, and how far it has got, which the host's other
#: load decides, spread op times by 0.3-0.5 of their median over ten runs.
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:CICompilerCount=1 -XX:+UseSerialGC"


def _cores() -> int:
    return min(MAX_CORES, len(os.sched_getaffinity(0)))


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_OPTS}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # the session factory's 8g heap lets the JVM grow to several GB of RSS
    # on a few thousand rows; 2g keeps runs small and their RSS steady
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


def _import_engine():
    """The engine from this checkout, or exit: a benchmark of some other
    copy would measure the wrong program."""
    sys.path.insert(0, ROOT)
    try:
        import trial_submission_studio_spark as engine
    except ImportError as exc:
        sys.exit(f"perfbench: engine not importable from {ROOT}: {exc}")
    if os.path.dirname(os.path.dirname(os.path.abspath(engine.__file__))) != ROOT:
        sys.exit(f"perfbench: engine imported from {engine.__file__}, not this checkout")
    return engine


def _proc_tree() -> tuple[dict[int, list[int]], dict[int, list[str]]]:
    """(parent pid -> child pids, pid -> /proc stat fields after the name)."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            stats[int(entry)] = fields
            children.setdefault(int(fields[1]), []).append(int(entry))
    return children, stats


def _tree_peak_rss_mb() -> float:
    """Peak RSS (VmHWM), in MB, of this process, the JVM it launched and
    the JVM's Python worker daemon. The daemon's forked workers share
    its pages copy-on-write, so adding their VmHWM would count those
    pages once per worker."""
    children, _ = _proc_tree()
    total_kb, todo = 0, [(os.getpid(), 0)]
    while todo:
        pid, depth = todo.pop()
        if depth < 2:
            todo.extend((c, depth + 1) for c in children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def _tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, the JVM and its Python workers included: live processes
    from /proc, exited ones through their parents' reaped-children times."""
    children, stats = _proc_tree()
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if pid in stats:
            ticks += sum(int(v) for v in stats[pid][11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _host_ticks() -> list[int]:
    """The host's CPU time counters (/proc/stat ``cpu`` line), in ticks."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def _steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of the host's CPU time between two ``_host_ticks`` readings
    that the hypervisor gave to other guests (steal): how busy the shared
    machine was while the ops ran."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(1, sum(d))


def _describe(spark, args, ops: int, timed: int) -> dict:
    def out(cmd):
        try:
            r = subprocess.run(cmd, capture_output=True, text=True, timeout=30, cwd=ROOT)
            if r.returncode:
                return None
            lines = (r.stdout + r.stderr).splitlines()
            return next(ln.strip() for ln in lines if not ln.startswith("Picked up"))
        except (OSError, subprocess.SubprocessError, StopIteration):
            return None

    import pyspark

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "nproc": os.cpu_count(), "k": _cores(),
        "master": spark.sparkContext.master,
        "commit": out(["git", "rev-parse", "HEAD"]) or "unknown",
        "pyspark": pyspark.__version__, "java": out([java, "-version"]),
        "python": sys.version.split()[0], "ops": ops, "ops_timed": timed,
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
    }


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    _import_engine()
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)  # only when no other run is using it


def _run(args, work: str) -> int:
    from trial_submission_studio_spark import get_spark

    conf = {}
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false"}
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.range(1).count()
    setup_s = time.perf_counter() - T_START
    try:
        result, info = _loop(spark, args, work, setup_s)
        info["peak_rss_mb"] = _tree_peak_rss_mb()
        if args.trace:
            info["span_cost_s"] = _span_cost(spark.sparkContext)
        info = _describe(spark, args, result["attempted"], info.pop("timed")) | info
    finally:
        _stop(spark)
    if args.trace:
        import tracing

        ops, tracer = info.pop("op_list"), info.pop("tracer")
        if ops:
            log = tracing.read_event_log(log_dir)
            result["metrics"] = _per_layer(tracing, log, tracer, ops, info["csv_bytes"],
                                           info["span_cost_s"])
            result["metrics"]["peak_rss_mb"] = {"value": info["peak_rss_mb"], "unit": "MB"}
    print(json.dumps({"perfbench": info}, sort_keys=True))
    print(json.dumps(result))
    return 0


def _span_cost(sc, n: int = 200) -> float:
    """Seconds one empty span costs: the tracer's own share of an op."""
    import tracing

    tracer = tracing.Tracer(sc)
    t0 = time.perf_counter()
    for _ in range(n):
        with tracer.span("calibrate"):
            pass
    return (time.perf_counter() - t0) / n


def _loop(spark, args, work: str, setup_s: float):
    import check
    import gen
    import lifecycle

    manifest = gen.generate(args.workload, args.seed, os.path.join(work, "data"))
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer(spark.sparkContext)
    if args.workload == "preview_edit":
        wl = lifecycle.PreviewEdit(spark, manifest)
        index = check.preview_index(manifest)

        def verify(r):
            return check.check_preview(index, r.outputs, lifecycle.PREVIEW_ROWS)
    else:
        wl = lifecycle.StudyLifecycle(spark, manifest, os.path.join(work, "out"))

        def verify(r):
            return check.check_study(manifest, r.outputs)

    sc = spark.sparkContext
    warmup = max(WORKLOADS[args.workload], args.trace)
    ops = []  # (op id, kind, OpResult or None, failed); kind: warmup / plain / traced
    failures: list[str] = []
    ticks0 = _host_ticks()
    while True:
        n = len(ops)
        if n == warmup:
            t_loop = time.perf_counter()
        kind, r, cpu0 = "plain", None, _tree_cpu_s()
        if n < warmup:
            kind = "warmup"
        elif args.trace:
            kind = "plain" if (n - warmup) % 2 == 0 else "traced"
        try:
            if kind == "traced":
                wl.tracer, tracer.op = tracer, n
                uninstall = tracing.install(tracer)
                try:
                    with tracer.span("op"):
                        r = wl.run(n)
                finally:
                    uninstall()
                    wl.tracer = lifecycle.NullTracer()
            elif args.trace and kind == "plain":
                sc.setJobGroup(f"pb-op-{n}", "untraced op")
                try:
                    r = wl.run(n)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                r = wl.run(n)
            fails = verify(r)
        except Exception as exc:  # noqa: BLE001 -- a raising op is a failed op
            fails = [f"op {n} raised {type(exc).__name__}: {exc}"]
        if r is not None:
            r.cpu_s = _tree_cpu_s() - cpu0
            r.outputs["xpt_bytes"] = sum(
                os.path.getsize(p) for k, p in r.outputs.get("written", {}).items() if k != "define")
            wl.cleanup(r)
        ops.append((n, kind, r, bool(fails)))
        failures += fails[:3]
        kinds = {k for _, k, _, _ in ops}
        if n >= warmup and time.perf_counter() - t_loop >= args.seconds and (
                not args.trace or {"plain", "traced"} <= kinds):
            break

    steal = _steal_share(ticks0, _host_ticks())
    for f in failures[:20]:
        print("perfbench: check failed:", f, file=sys.stderr)
    attempted, failed = len(ops), sum(bad for *_, bad in ops)
    # an op whose check failed still took its time: time every op that
    # returned; ``correct`` and ``failed`` carry the failure
    done = [(n, k, r) for n, k, r, _ in ops if r is not None]
    if not done:
        sys.exit("perfbench: every op raised")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": {}}
    info = {"manifest_rows": {c: d["rows"] for c, d in manifest["datasets"].items()},
            "csv_bytes": sum(d["bytes"] for d in manifest["datasets"].values()),
            "op_s": [[k, round(r.wall_s, 4), round(r.cpu_s, 2)] for _, k, r in done],
            "host_steal_share": round(steal, 4)}
    if args.trace:
        info["op_list"], info["tracer"] = done, tracer
        info["timed"] = sum(k == "traced" for _, k, _ in done)
        return result, info
    timed = [r for _, k, r in done if k != "warmup"]
    if not timed:
        sys.exit("perfbench: every timed op raised")
    result["metrics"] = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_p50_s": {"value": statistics.median(r.wall_s for r in timed), "unit": "s"},
        "rows_per_s": {"value": statistics.median(r.rows / r.wall_s for r in timed),
                       "unit": "rows/s"},
    }
    info["timed"] = len(timed)
    return result, info


#: per-layer metric -> unit; every traced run reports all of them (0 where
#: a workload never reaches the layer)
PER_LAYER_UNITS = {
    "sources.read_csv.s": "s", "sources.read_csv.jobs": "count",
    "sources.read_amplification": "ratio",
    "mapping.suggest.s": "s", "mapping.suggest.calls": "count",
    "standards.ct_lookup.s": "s",
    "normalize.infer_rules.s": "s", "normalize.compile.s": "s", "normalize.compile.jobs": "count",
    "validation.report.s": "s", "validation.report.jobs": "count",
    "validation.collect.s": "s", "validation.collect.jobs": "count",
    "validation.scans_per_domain": "ratio",
    "study.export_gate.s": "s", "study.export_gate.jobs": "count", "study.self_s": "s",
    "profiling.max_len.s": "s", "profiling.max_len.jobs": "count",
    "xpt.write.s": "s", "xpt.write.jobs": "count", "xpt.bytes_per_s": "B/s",
    "xpt.python_tasks": "count",
    "define_xml.write.s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.python_tasks": "count", "spark.failed_tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.scheduler_delay_s": "s",
    "spark.shuffle_write_bytes": "B", "spark.input_records": "count", "spark.driver_s": "s",
    "trace.bench_self_s": "s", "trace.span_cost_s": "s",
}
SELF_LAYERS = ("sources", "mapping", "standards", "normalize", "validation",
               "profiling", "xpt", "define_xml", "preview")
PHASES = ("create", "build", "validate", "export", "preview")


def _per_layer(tracing, log, tracer, ops, csv_bytes: int, span_cost: float) -> dict:
    """Medians over the traced ops; phase times, and the baseline the
    tracing overhead is taken against, from the untraced ops."""
    figs = []
    for n, kind, r in ops:
        if kind == "traced":
            spans = [s for s in tracer.spans if s.op == n]
            f = tracing.op_figures(spans, log, csv_bytes, r.outputs["xpt_bytes"])
            f["trace.span_cost_s"] = span_cost * len(spans)
            figs.append(f)
    plain = [(n, r) for n, kind, r in ops if kind == "plain"]
    if not figs or not plain:
        return {}
    med = tracing.medians(figs)
    out = {k: {"value": float(med[k]), "unit": u} for k, u in PER_LAYER_UNITS.items()}
    for layer in SELF_LAYERS:
        v = statistics.median(f["layers"].get(layer, 0.0) for f in figs)
        out[f"self.{layer}_s"] = {"value": v, "unit": "s"}
    for p in PHASES:
        v = statistics.median(r.phases.get(p, 0.0) for _, r in plain)
        out[f"phase.{p}_s"] = {"value": v, "unit": "s"}
    out["op_cpu_s"] = {"value": statistics.median(r.cpu_s for _, r in plain), "unit": "s"}
    traced_wall = statistics.median(r.wall_s for n, k, r in ops if k == "traced")
    plain_wall = statistics.median(r.wall_s for _, r in plain)
    plain_jobs = statistics.median(tracing.spark_totals(log, {f"pb-op-{n}"}).jobs for n, _ in plain)
    out["trace.overhead_s"] = {"value": traced_wall - plain_wall, "unit": "s"}
    out["trace.extra_jobs"] = {"value": float(med["spark.jobs"] - plain_jobs), "unit": "count"}
    print(tracing.layer_table(figs))
    return out


if __name__ == "__main__":
    sys.exit(main())
