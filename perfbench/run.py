"""jpspark benchmark: one closed-loop client driving one workload.

    python3 perfbench/run.py --workload ingest_load --seed 1 --seconds 10 --trace 0

One driver process runs Spark at ``local[N]`` (N = min(4, cores) - 1)
and feeds it passes back to back. Set-up — session start, input
generation and the workload's discarded warm-up passes, the cold one
first — is charged to ``setup_s``; only the passes after it are timed,
back to back, until ``--seconds`` have passed and the workload's
``min_passes`` have run. Every timed pass's outputs are checked, and a
pass whose checks fail (or that raises) counts as a failed operation.

``--trace 0`` prints the end-to-end metrics of the untraced passes.
``--trace 1`` alternates untraced and traced passes, then runs the
workload's trace-only pass kinds (``workloads.TRACE_EXTRAS``), and
prints the per-layer metrics of the traced passes (see ``tracing.py``),
with the tracing overhead as traced minus untraced pass time.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (name -> value and unit). A
per-run report with every pass time and, when traced, every span is
written to ``.perfbench_out/`` in the checkout. Scratch data lives in
``.perfbench_work/`` and is deleted before the run exits.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.procstat import PeakRss, cpu_seconds, descendants  # noqa: E402
from perfbench.tracing import NullTracer, Tracer  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
# one core is left to the driver, the JIT and GC threads and the Python
# workers' Arrow hand-off, so a pass does not measure the scheduler
CORES = max(1, min(4, os.cpu_count() or 1) - 1)
DRIVER_MEM = "2g"
CANARY_ROWS = 20_000_000

# span name -> per-layer time metric (the span's self time)
SPAN_TIMES = [
    "ingest.extract", "ingest.scan", "mapping.map_union", "manifest.write", "catalog.upsert",
    "manifest.resume", "manifest.read", "spatial_join.pip", "knn.join", "tiles.assign_rollup",
    "dissolve.dissolve", "manifest.scan_bbox", "export.mvt", "dedup.signatures", "dedup.lsh",
    "dedup.verify", "dedup.cc", "dedup.keep", "manifest.append",
]
# per-layer counter -> (span name, span attribute, unit)
SPAN_COUNTS = {
    "ingest.members": ("ingest.extract", "members", "count"),
    "ingest.input_mb": ("ingest.extract", "input_mb", "MB"),
    "ingest.features": ("ingest.scan", "features", "count"),
    "manifest.bytes_written": ("manifest.write", "bytes_written", "bytes"),
    "manifest.files_written": ("manifest.write", "files_written", "count"),
    "manifest.resume_skip_ratio": ("manifest.resume", "skip_ratio", "ratio"),
    "manifest.files_read": ("manifest.scan_bbox", "files_read", "count"),
    "manifest.files_pruned_ratio": ("manifest.scan_bbox", "files_pruned_ratio", "ratio"),
    "manifest.append_bytes": ("manifest.append", "bytes_written", "bytes"),
    "tiles.tiles": ("tiles.assign_rollup", "tiles", "count"),
    "export.tiles": ("export.mvt", "tiles", "count"),
    "dedup.docs": ("dedup.signatures", "docs", "count"),
    "dedup.candidates": ("dedup.lsh", "candidates", "count"),
    "dedup.verified": ("dedup.verify", "verified", "count"),
    "dedup.cc_rounds": ("dedup.cc", "rounds", "count"),
    "dedup.clusters": ("dedup.cc", "clusters", "count"),
    "dedup.kept": ("dedup.keep", "kept", "count"),
}
LAYERS = [
    "ingest", "mapping", "manifest", "catalog", "spatial_join", "knn", "tiles", "dissolve",
    "export", "dedup",
]
JOB_COUNTERS = ["jobs", "stages", "tasks", "failed_tasks"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size as a share of the full workload (work-dominance check)")
    return p.parse_args(argv)


def prepare_environment() -> None:
    """Keep every file the run writes inside the checkout, and make the
    checkout's jpspark importable by the driver and the Python workers."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "passes"):
        os.makedirs(os.path.join(WORK, d))
    os.makedirs(OUT, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the launcher JVM that spark-submit starts ahead of the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the same string hashing in every run's Python workers
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["JPSPARK_DRIVER_MEM"] = DRIVER_MEM


def start_spark():
    from jpspark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    spark = get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # the whole heap committed and touched at start: a heap that
            # grows with GC's sizing choices made the tree's memory climb
            # for a run's first passes and differ from run to run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def canary(spark) -> float:
    """A pure-JVM sum with no engine code: a drifted host shows here."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(CANARY_ROWS).select(F.sum(F.col("id") % 7)).collect()
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def reap_children() -> None:
    deadline = time.monotonic() + 20
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


class Runner:
    """Runs passes; each pass gets a fresh directory that is deleted once
    the pass is checked."""

    def __init__(self, rss):
        self.n = 0
        self.rss = rss

    def one_pass(self, wl, tracer, warmup: bool = False) -> dict:
        """One pass of ``wl``; a warm-up pass is timed for the report but
        not checked."""
        self.n += 1
        out = os.path.join(WORK, "passes", f"pass-{self.n}")
        os.makedirs(out)
        tracer.pass_id = self.n
        rec = {"pass": self.n, "kind": wl.name, "failed_checks": []}
        self.rss.new_window()
        cpu0, t0 = cpu_seconds(os.getpid()), time.perf_counter()
        try:
            with tracer.span("pass"):
                verify = wl.run_pass(tracer, out)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = cpu_seconds(os.getpid()) - cpu0
            rec["peak_rss"] = self.rss.window
            if not warmup:
                res = verify()
                rec.update(rows=res.rows, stored_bytes=res.stored_bytes,
                           failed_checks=res.failed_checks)
        except Exception:  # a failing pass is a failed operation, not a crash
            traceback.print_exc(file=sys.stderr)
            rec.setdefault("wall_s", time.perf_counter() - t0)
            rec["failed_checks"] = ["raised"]
        finally:
            tracer.release()
            wl.spark.catalog.clearCache()
            shutil.rmtree(out, ignore_errors=True)
        print(f"perfbench: pass {self.n} {wl.name}{' (warm-up)' if warmup else ''} "
              f"{rec['wall_s']:.3f}s failed={rec['failed_checks']}", file=sys.stderr)
        return rec


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(tracer, traced: list[dict], untraced: list[dict]) -> dict:
    """Per-layer numbers of the traced passes: for each pass kind the
    median over its passes, summed over the kinds (a name belongs to one
    kind, except the manifest counters). A layer no pass runs reads 0."""
    kinds = sorted({r["kind"] for r in traced})
    ids = {k: [r["pass"] for r in traced if r["kind"] == k] for k in kinds}
    spans = {i: tracer.pass_spans(i) for k in kinds for i in ids[k]}
    self_t = {i: tracer.self_times(i) for k in kinds for i in ids[k]}

    def per_kind(value) -> float:
        return sum(median([value(i) for i in ids[k]]) for k in kinds)

    m: dict[str, tuple[float, str]] = {}
    for name in SPAN_TIMES:
        m[f"{name}_s"] = (per_kind(lambda i: self_t[i].get(name, 0.0)), "s")
    for metric, (span_name, key, unit) in SPAN_COUNTS.items():
        m[metric] = (
            per_kind(lambda i: sum(s.attrs.get(key, 0) for s in spans[i] if s.name == span_name)),
            unit,
        )
    for layer in LAYERS:
        for c in JOB_COUNTERS:
            m[f"{layer}.{c}"] = (
                per_kind(lambda i: sum(getattr(s, c) for s in spans[i] if s.layer == layer)),
                "count",
            )
    verified, candidates = m["dedup.verified"][0], m["dedup.candidates"][0]
    m["dedup.verified_per_candidate"] = (verified / candidates if candidates else 0.0, "ratio")
    m["trace.coverage"] = (min(median([tracer.coverage(i) for i in ids[k]]) for k in kinds), "ratio")
    # against the workload's own warm untraced passes; a trace-only kind's
    # untraced pass is its cold one, so it gives no baseline
    main = traced[0]["kind"]
    m["trace.overhead_s"] = (
        median([r["wall_s"] for r in traced if r["kind"] == main])
        - median([r["wall_s"] for r in untraced if r["kind"] == main]),
        "s",
    )
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "jpspark", "__init__.py")):
        print(f"perfbench: no jpspark package in {ROOT}", file=sys.stderr)
        return 2
    prepare_environment()
    import jpspark

    if os.path.dirname(os.path.dirname(os.path.abspath(jpspark.__file__))) != ROOT:
        print(f"perfbench: jpspark resolved outside the checkout: {jpspark.__file__}", file=sys.stderr)
        return 2
    from perfbench.workloads import TRACE_EXTRAS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    spark = None
    report: dict = {"workload": args.workload, "seed": args.seed, "scale": args.scale,
                    "trace": args.trace, "cores": CORES}
    try:
        with PeakRss(os.getpid()) as rss:
            t_setup = time.perf_counter()
            spark = start_spark()
            report["session_start_s"] = time.perf_counter() - t_setup
            # only the traced run reports the canary, so the others skip it
            report["canary_s"] = canary(spark) if args.trace else 0.0
            wl = WORKLOADS[args.workload](spark, WORK, args.seed, args.scale, CORES)
            t_in = time.perf_counter()
            wl.setup()
            report["inputs_s"] = time.perf_counter() - t_in
            runner = Runner(rss)
            null, tracer = NullTracer(), Tracer(spark)
            # the cold pass starts the Python workers and compiles the
            # JVM's hot paths (1.4-2.6x a warm pass on a 4-vCPU VM); the
            # next passes still get faster, so a workload may discard more
            report["warmup"] = [runner.one_pass(wl, null, warmup=True)
                                for _ in range(wl.warmup_passes)]
            setup_s = time.perf_counter() - t_setup - report["canary_s"]

            timed: list[dict] = []
            traced: list[dict] = []
            t_end = time.perf_counter() + args.seconds
            # a traced run reports no end-to-end metric: one pair will do
            min_passes = 1 if args.trace else wl.min_passes
            while len(timed) < min_passes or time.perf_counter() < t_end:
                timed.append(runner.one_pass(wl, null))
                if args.trace:
                    traced.append(runner.one_pass(wl, tracer))
            if args.trace:
                # trace-only pass kinds: set up, one untraced pass that is
                # checked and warms the kind's code up, one traced pass
                for extra_cls in TRACE_EXTRAS.get(args.workload, []):
                    extra = extra_cls(spark, WORK, args.seed, args.scale, CORES)
                    extra.setup()
                    timed.append(runner.one_pass(extra, null))
                    traced.append(runner.one_pass(extra, tracer))
            report["run_peak_rss"] = rss.peak
        report.update(setup_s=setup_s, passes=timed, traced_passes=traced,
                      input_bytes=wl.input_bytes)
        ops = report["warmup"] + timed + traced
        failed = sum(1 for r in ops if r["failed_checks"])
        if args.trace:
            metrics = layer_metrics(tracer, traced, timed)
            metrics["session.start_s"] = (report["session_start_s"], "s")
            metrics["host.canary_s"] = (report["canary_s"], "s")
            report["spans"] = [dataclasses.asdict(s) for s in tracer.spans]
        else:
            ok = [r for r in timed if not r["failed_checks"]] or timed
            metrics = {
                "rows_per_s": (median([r["rows"] / r["wall_s"] for r in ok if "rows" in r]), "1/s"),
                "cpu_s": (median([r["cpu_s"] for r in ok if "cpu_s" in r]), "s"),
                "peak_rss_mb": (median([r["peak_rss"] for r in ok if "peak_rss" in r]) / 1e6, "MB"),
                "setup_s": (setup_s, "s"),
                "stored_bytes_per_input_byte": (
                    median([r["stored_bytes"] for r in ok if "stored_bytes" in r]) / wl.input_bytes,
                    "ratio",
                ),
            }
    finally:
        if spark is not None:
            stop_spark(spark)
        reap_children()
        shutil.rmtree(WORK, ignore_errors=True)
    with open(os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, ensure_ascii=False, default=str)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
