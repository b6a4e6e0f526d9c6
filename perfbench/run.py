"""Repository benchmark: the S3/warehouse ETL workload and the index
lifecycle (dedup, then ANN) workload, checked against DuckDB oracles.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One driver process issues calls to the layers' public functions one after
another (a closed loop with one client) on ``local[N]``, N = min(2, cores).
The run stages its seeded inputs and oracle results, warms up with one
untimed pass over small inputs, then runs whole passes until their
measured wall time reaches ``--seconds`` (and at least the workload's
``min_passes``).

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics from a traced run (spans + Spark event log) and the
tracing overhead. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; earlier lines carry the
host stamp, diagnostics and, when tracing, the per-layer table.
``--manifest`` prints the BENCHMARK.json this file defines.
"""

from __future__ import annotations

import time

_T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)

# name, unit, better, bound (share of the parent's median). Timings get
# the widest bound allowed: on a 4-core virtual machine shared with other
# tenants, whole runs drift together by 10-25% within an hour, which no
# median inside one run removes. Peak RSS drifts by about 3%.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("rows_per_s", "1/s", "higher", 0.25),
    ("write_p50_s", "s", "lower", 0.25),
    ("read_p50_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.10),
)
RUN_SECONDS = 14
DRIVER_HEAP = "2g"
PERCENTILES = (50, 75, 90, 95, 99)


def per_layer_metrics() -> list[tuple[str, str]]:
    from perfbench.trace import LAYER_FIELDS, LAYERS

    out = [(f"{layer}.{f}", unit) for layer in LAYERS for f, unit in LAYER_FIELDS]
    out += [
        ("objectstore.bytes_written", "bytes"),
        ("objectstore.bytes_read", "bytes"),
        ("objectstore.files_written", "count"),
        ("warehouse.bytes_written", "bytes"),
        ("annindex.rows_scanned_per_result", "ratio"),
        ("dedup.pairs_out", "count"),
        ("spark.jobs", "count"),
        ("spark.driver_gap_s", "s"),
        ("spark.executor_run_s", "s"),
        ("spark.executor_cpu_s", "s"),
        ("spark.gc_s", "s"),
        ("trace.rows_per_s_untraced", "1/s"),
        ("trace.rows_per_s_traced", "1/s"),
        ("trace.overhead_frac", "ratio"),
        ("trace.unspanned_s", "s"),
    ]
    return out


def manifest() -> dict:
    from perfbench.workloads import WORKLOADS

    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w.name, "why": w.why} for w in WORKLOADS.values()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": "higher" if u == "1/s" else "lower"}
            for n, u in per_layer_metrics()
        ],
    }


class Recorder:
    """Times each call, runs its output check outside the timed region
    and counts failures. A call that raises or fails its check is
    recorded as failed; nothing is dropped from the sample."""

    def __init__(self, tracer, log=sys.stderr):
        self.tracer = tracer
        self.log = log
        self.calls: list[dict] = []
        self.counters: dict[str, float] = {}
        self.pass_no = -1
        self.check_s = 0.0

    @property
    def tracing(self) -> bool:
        return self.tracer.enabled

    def count(self, name: str, n: float) -> None:
        if self.tracing:
            self.counters[name] = self.counters.get(name, 0) + n

    def call(self, layer, name, kind, thunk, check=None):
        err = ""
        result = None
        with self.tracer.span(layer, name):
            t0 = time.perf_counter()
            try:
                result = thunk()
            except Exception:
                err = traceback.format_exc(limit=4)
            dt = time.perf_counter() - t0
        if not err and check is not None:
            c0 = time.perf_counter()
            try:
                err = check(result)
            except Exception:
                err = "check raised:\n" + traceback.format_exc(limit=4)
            self.check_s += time.perf_counter() - c0
        if err:
            print(f"[perfbench] FAILED {layer}.{name} (pass {self.pass_no}): {err}", file=self.log)
        self.calls.append(
            {"pass": self.pass_no, "layer": layer, "name": name, "kind": kind, "s": dt,
             "failed": bool(err), "traced": self.tracing}
        )
        return result


def host_stamp(spark, master: str) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return {
        "master": master,
        "cores": os.cpu_count(),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "driver_heap": DRIVER_HEAP,
        "spark": spark.version,
        "python": platform.python_version(),
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
    }


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident MB of the driver JVM and of this Python process."""
    import resource

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as fh:
        jvm_kb = int(next(line for line in fh if line.startswith("VmHWM")).split()[1])
    return jvm_kb / 1024.0, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def percentile_diag(samples: list[float]) -> dict:
    """Sample count and the highest listed percentile with at least ten
    samples beyond it (not gated: one run holds too few calls)."""
    n = len(samples)
    out = {"n": n}
    ok = [p for p in PERCENTILES if n * (100 - p) / 100 >= 10]
    if ok:
        p = ok[-1]
        out[f"p{p}"] = statistics.quantiles(samples, n=100, method="inclusive")[p - 1]
    return out


def call_medians(calls: list[dict]) -> dict:
    by: dict[str, list[float]] = {}
    for c in calls:
        by.setdefault(f"{c['layer']}.{c['name']}", []).append(c["s"])
    return {k: round(statistics.median(v), 3) for k, v in by.items()}


def start_spark(work: str, trace: bool):
    from pandas_aws_spark.session import get_spark

    cores = min(2, os.cpu_count() or 1)
    master = f"local[{cores}]"
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
        "spark.local.dir": f"{work}/spark-local",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms" + DRIVER_HEAP,
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                # the status tracker must still hold every traced job
                # when the run ends, for the job-count self-check
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
            }
        )
    return get_spark(app_name="perfbench", master=master, extra_conf=conf), master


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(args, work: str, live: list) -> dict:
    from perfbench.trace import (
        Tracer,
        job_count_mismatches,
        layer_metrics,
        parse_event_log,
        records_read,
    )
    from perfbench.workloads import SIZES, WORKLOADS

    wl = WORKLOADS[args.workload]
    size = SIZES[args.size]
    spark, master = start_spark(work, args.trace)
    live.append(spark)
    sc = spark.sparkContext
    stamp = host_stamp(spark, master)
    t_session = time.time()

    # per-seed set-up: inputs and oracle results, once, plus the small
    # inputs the warm-up pass runs every call on
    st = wl.stage(spark, f"{work}/stage", args.seed, size)
    warm_st = st if args.size == "smoke" else wl.stage(spark, f"{work}/warm", args.seed, SIZES["smoke"])
    t_staged = time.time()
    probe = getattr(wl, "known_defects", None)
    defects = probe(spark, f"{work}/stage") if probe else {}

    tracer = Tracer(sc)
    rec = Recorder(tracer)
    if args.trace:
        from pandas_aws_spark.operators import genstore

        tracer.wrap_module(genstore, "genstore")

    def one_pass(p: int, st) -> tuple[float, int]:
        rec.pass_no = p
        pdir = f"{work}/pass{p}"
        os.makedirs(pdir)
        check0 = rec.check_s
        t0 = time.perf_counter()
        rows = wl.run_pass(rec, spark, st, pdir, p)
        wall = time.perf_counter() - t0 - (rec.check_s - check0)
        wl.cleanup_pass(spark, pdir, p)
        return wall, rows

    one_pass(0, warm_st)  # warm-up: untimed, checked, excluded from every metric
    t_ready = time.time()

    passes = []  # (pass_no, wall, rows, traced)
    gc0 = gc_seconds(spark)
    gc_traced = 0.0
    p = 1
    # whole passes until their wall time (checks excluded) reaches
    # --seconds, and at least the workload's minimum; a traced run also
    # needs at least one traced pass
    while (
        sum(x[1] for x in passes) < args.seconds
        or len(passes) < wl.min_passes
        or (args.trace and not any(x[3] for x in passes))
    ):
        # traced runs alternate untraced and traced passes, so the
        # overhead is measured inside one session and one input set
        tracer.enabled = bool(args.trace) and p % 2 == 0
        g0 = gc_seconds(spark)
        wall, rows = one_pass(p, st)
        if tracer.enabled:
            gc_traced += gc_seconds(spark) - g0
        passes.append((p, wall, rows, tracer.enabled))
        tracer.enabled = False
        p += 1
    gc_total = gc_seconds(spark) - gc0
    rss_jvm, rss_py = peak_rss_mb(spark)
    timed = [c for c in rec.calls if c["pass"] >= 1]
    attempted = len(timed)
    failed = sum(c["failed"] for c in timed)
    warm_failed = sum(c["failed"] for c in rec.calls if c["pass"] == 0)

    def lat(kind):
        return [c["s"] for c in timed if c["kind"] == kind and not c["failed"] and not c["traced"]]

    rps = [rows / wall for _, wall, rows, traced in passes if not traced]
    diag = {
        "workload": wl.name,
        "seed": args.seed,
        "size": args.size,
        **stamp,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "session_start_s": round(t_session - _T_START, 3),
        "stage_s": round(t_staged - t_session, 3),
        "warmup_s": round(t_ready - t_staged, 3),
        "passes": len(passes),
        "pass_s": [round(w, 3) for _, w, _, _ in passes],
        "rows_per_pass": passes[0][2],
        "failed_frac": failed / attempted,
        "warmup_failed": warm_failed,
        "write_latency": percentile_diag(lat("write")),
        "read_latency": percentile_diag(lat("read")),
        "gc_s": round(gc_total, 3),
        "peak_rss_mb_jvm_py": [round(rss_jvm, 1), round(rss_py, 1)],
        "call_s": call_medians(timed),
        "known_defects": defects,
    }
    result = {
        "correct": failed == 0 and warm_failed == 0,
        "attempted": attempted,
        "failed": failed,
    }
    if not args.trace:
        values = {
            "setup_s": t_ready - _T_START,
            "rows_per_s": statistics.median(rps),
            "write_p50_s": statistics.median(lat("write")),
            "read_p50_s": statistics.median(lat("read")),
            "peak_rss_mb": rss_jvm + rss_py,
        }
        result["metrics"] = {n: {"value": values[n], "unit": u} for n, u, _, _ in END_TO_END}
        return {"diag": diag, "result": result}

    # ---- traced run: per-layer numbers --------------------------------
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    tracker_jobs = {sp.group: len(tracker.getJobIdsForGroup(sp.group)) for sp in tracer.spans}
    live.remove(spark)
    stop_spark(spark)
    (log_file,) = os.listdir(f"{work}/eventlog")
    log = parse_event_log(f"{work}/eventlog/{log_file}")
    mismatches = job_count_mismatches(tracer.spans, log, tracker_jobs)
    for m in mismatches:
        print(f"[perfbench] job-count self-check: {m}", file=sys.stderr)
    layers = layer_metrics(tracer.spans, log)
    traced_passes = [x for x in passes if x[3]]
    n_tr = len(traced_passes)
    for c in timed:
        if c["traced"] and c["failed"]:
            layers[c["layer"]]["failed"] += 1
    metrics: dict[str, float] = {}
    for layer, vals in layers.items():
        for key, v in vals.items():
            metrics[f"{layer}.{key}"] = v / n_tr
    tr_wall = sum(w for _, w, _, _ in traced_passes)
    top = [sp for sp in tracer.spans if sp.parent is None]
    scanned = records_read(tracer.spans, log, "ann_index_topk")
    results = rec.counters.get("annindex.results", 0)
    metrics.update(
        {
            "objectstore.bytes_written": layers["objectstore"]["output_bytes"] / n_tr,
            "objectstore.bytes_read": layers["objectstore"]["input_bytes"] / n_tr,
            "objectstore.files_written": rec.counters.get("objectstore.files_written", 0) / n_tr,
            "warehouse.bytes_written": layers["warehouse"]["output_bytes"] / n_tr,
            "annindex.rows_scanned_per_result": scanned / results if results else 0.0,
            "dedup.pairs_out": rec.counters.get("dedup.pairs_out", 0) / n_tr,
            "spark.jobs": sum(v["jobs"] for v in layers.values()) / n_tr,
            "spark.driver_gap_s": sum(v["driver_gap_s"] for v in layers.values()) / n_tr,
            "spark.executor_run_s": sum(v["executor_run_s"] for v in layers.values()) / n_tr,
            "spark.executor_cpu_s": sum(v["cpu_s"] for v in layers.values()) / n_tr,
            "spark.gc_s": gc_traced / n_tr,
            "trace.rows_per_s_untraced": statistics.median(rps),
            "trace.rows_per_s_traced": statistics.median([r / w for _, w, r, t in traced_passes]),
            "trace.unspanned_s": (tr_wall - sum(sp.t1 - sp.t0 for sp in top)) / n_tr,
        }
    )
    metrics["trace.overhead_frac"] = (
        metrics["trace.rows_per_s_untraced"] / metrics["trace.rows_per_s_traced"] - 1.0
    )
    result["metrics"] = {n: {"value": metrics[n], "unit": u} for n, u in per_layer_metrics()}
    result["correct"] = result["correct"] and not mismatches
    diag["traced_passes"] = n_tr
    diag["job_count_mismatches"] = len(mismatches)
    return {"diag": diag, "result": result, "table": layer_table(metrics, tr_wall / n_tr)}


def layer_table(m: dict, pass_wall: float) -> str:
    from perfbench.trace import LAYERS

    cols = ("calls", "self_s", "driver_gap_s", "executor_run_s", "jobs", "stages", "tasks",
            "shuffle_records", "failed")
    lines = [f"{'layer':12s}" + "".join(f"{c:>15s}" for c in cols)]
    for layer in LAYERS:
        lines.append(f"{layer:12s}" + "".join(f"{m[f'{layer}.{c}']:15.3f}" for c in cols))
    spanned = sum(m[f"{layer}.self_s"] for layer in LAYERS)
    lines.append(
        f"per traced pass: wall {pass_wall:.3f} s = layer self {spanned:.3f} s "
        f"+ unspanned {m['trace.unspanned_s']:.3f} s; tracing overhead "
        f"{100 * m['trace.overhead_frac']:+.1f}% rows_per_s (untraced "
        f"{m['trace.rows_per_s_untraced']:.1f}, traced {m['trace.rows_per_s_traced']:.1f})"
    )
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--manifest", action="store_true", help="print BENCHMARK.json and exit")
    args = ap.parse_args(argv)

    sys.path.insert(0, REPO_ROOT)
    if args.manifest:
        print(json.dumps(manifest(), indent=2))
        return 0
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    try:
        import pandas_aws_spark  # noqa: F401
    except ImportError as e:
        print(f"[perfbench] the program is not in this checkout: {e}", file=sys.stderr)
        return 2

    # Everything the run writes stays under the checkout and is removed
    # at exit: staged inputs, index artifacts, Spark scratch and logs.
    scratch = os.path.join(REPO_ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=scratch)
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    tempfile.tempdir = f"{work}/tmp"
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    live: list = []
    try:
        out = run(args, work, live)
    finally:
        for spark in live:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:  # another run is still using it
            pass
    print(json.dumps(out["diag"]))
    if "table" in out:
        print(out["table"])
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
