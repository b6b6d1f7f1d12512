"""Stage read-out of one untraced ``ingest_load`` pass at the perfbench
shape: which Spark stages a load runs, and what each moves.

The pass is ``perfbench.workloads.IngestLoad.run_pass`` itself, over the
47 archives of ``perfbench.inputs.n03_archives`` (seed ``--seed``), on
``local[N]`` with the benchmark's N and driver heap. It runs untraced:
nothing is persisted or counted between layers. Each of the pass's
spans only tags its Spark jobs with ``setJobGroup``, so every stage is
listed under the step that ran it (``ingest.scan`` holds the schema
probe, ``manifest.write`` the load). For each stage it prints, from
``sc._jsc.sc().statusStore().lastStageAttempt(sid)``: the task count,
``executorRunTime`` and ``executorCpuTime`` summed over tasks (task-s),
the input bytes and the shuffle read and write bytes; then per-step and
whole-pass totals, and the pass's perfbench checks.

``--warmup N`` runs N discarded passes first (the cold pass pays the
JIT; task counts and bytes do not depend on it).

Usage: python BENCH/run_ingest_stages.py [--seed 1] [--warmup 0]
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys
import tempfile
import time
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.run import CORES, DRIVER_MEM  # noqa: E402
from perfbench.tracing import NullTracer, Span  # noqa: E402

MB = 1e6


class GroupTracer(NullTracer):
    """The untraced path, with each span's jobs tagged by the pass and
    the span name."""

    def __init__(self, sc, pass_no: int):
        self.sc = sc
        self.pass_no = pass_no
        self.spans: list[tuple[str, float]] = []  # (name, wall s), in run order

    def group(self, name: str) -> str:
        return f"pass-{self.pass_no}:{name}"

    @contextmanager
    def span(self, name: str):
        self.sc.setJobGroup(self.group(name), name)
        t0 = time.perf_counter()
        try:
            yield Span(name, t0, -1, None)
        finally:
            self.spans.append((name, time.perf_counter() - t0))
            self.sc.setLocalProperty("spark.jobGroup.id", None)


def settled_jobs(sc, groups: list[str]) -> dict[str, list[int]]:
    """Job ids per group once the (asynchronous) status store has seen
    every job end."""
    st = sc.statusTracker()
    for _ in range(100):
        jobs = {g: sorted(st.getJobIdsForGroup(g)) for g in groups}
        infos = [st.getJobInfo(j) for js in jobs.values() for j in js]
        if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
            break
        time.sleep(0.1)
    return jobs


def stage_rows(sc, jobs: list[int]) -> list[dict]:
    """One row per stage the jobs ran (a stage listed by several jobs, or
    skipped because its shuffle output was reused, is not counted again)."""
    st, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    rows, seen = [], set()
    for jid in jobs:
        for sid in sorted(st.getJobInfo(jid).stageIds):
            if sid in seen:
                continue
            seen.add(sid)
            s = store.lastStageAttempt(sid)
            if s.numCompleteTasks() + s.numFailedTasks() == 0:
                continue
            rows.append({
                "job": jid, "stage": sid, "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3, "cpu_s": s.executorCpuTime() / 1e9,
                "input_mb": s.inputBytes() / MB, "shuffle_read_mb": s.shuffleReadBytes() / MB,
                "shuffle_write_mb": s.shuffleWriteBytes() / MB,
                "name": re.sub(r"\S*/", "", s.name()),  # callsite file, not its path
            })
    return rows


COLS = ["tasks", "run_s", "cpu_s", "input_mb", "shuffle_read_mb", "shuffle_write_mb"]


def fmt(label: str, r: dict) -> str:
    return (f"{label:<40}{r['tasks']:>6}{r['run_s']:>9.2f}{r['cpu_s']:>9.2f}"
            f"{r['input_mb']:>10.1f}{r['shuffle_read_mb']:>12.1f}{r['shuffle_write_mb']:>12.1f}")


def total(rows: list[dict]) -> dict:
    return {c: sum(r[c] for r in rows) for c in COLS}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--warmup", type=int, default=0)
    args = p.parse_args(argv)

    work = tempfile.mkdtemp(prefix="ingest-stages-")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["JPSPARK_DRIVER_MEM"] = DRIVER_MEM
    from jpspark.session import get_spark
    from perfbench.workloads import IngestLoad

    spark = get_spark(
        "ingest-stages",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    try:
        wl = IngestLoad(spark, work, args.seed, 1.0, CORES)
        wl.setup()
        for i in range(args.warmup + 1):
            out = os.path.join(work, f"pass-{i}")
            tracer = GroupTracer(sc, i)
            t0 = time.perf_counter()
            verify = wl.run_pass(tracer, out)
            wall = time.perf_counter() - t0
            checks = verify().checks
            spark.catalog.clearCache()
            shutil.rmtree(out, ignore_errors=True)
        jobs = settled_jobs(sc, [tracer.group(n) for n, _ in tracer.spans])
        print(f"ingest_load pass, seed {args.seed}, local[{CORES}], "
              f"{args.warmup} warm-up pass(es) before it: {wall:.2f} s wall")
        print(f"{'step / job.stage':<40}{'tasks':>6}{'run_s':>9}{'cpu_s':>9}"
              f"{'input_MB':>10}{'shuf_rd_MB':>12}{'shuf_wr_MB':>12}")
        every = []
        for name, span_wall in tracer.spans:
            span_jobs = jobs[tracer.group(name)]
            rows = stage_rows(sc, span_jobs)
            every += rows
            for r in rows:
                print(fmt(f"  {r['job']}.{r['stage']} {r['name']}", r))
            print(fmt(f"{name} ({len(span_jobs)} jobs, {span_wall:.2f} s)", total(rows)))
        print(fmt(f"pass ({sum(map(len, jobs.values()))} jobs)", total(every)))
        print("checks:", "all passed" if all(checks.values()) else checks)
        return 0 if all(checks.values()) else 1
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
