#!/usr/bin/env python3
"""KG pipeline benchmark: one workload per invocation.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root.  Set-up (timed as ``setup_s``) starts the
Spark session on ``local[<nproc>]``, writes the seed's pages to parquet,
builds whatever the workload needs and checks triple precision/recall on
the golden corpus.  The loop then runs operations for ``--seconds``
(completing the operation in flight), checking every output after its
operation.

``--trace 0`` prints the end-to-end metrics, measured with tracing off.
``--trace 1`` alternates untraced and traced operations (at least two
of each) and prints the per-layer metrics of the traced ones plus the
tracing overhead (traced minus untraced median).  The last stdout line
is the result JSON; the line before it is a summary under the metric
names of README.md.
All scratch data lives in ``.perfbench/`` under the repository root;
the run's own directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "convei_abstract_relational_knowledge_explorer_spark"
STATE = ROOT / ".perfbench"

N_DOCS = 2_000  # base corpus
N_NEW = N_DOCS // 10  # new pages per crawl drop


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("kg_build", "kg_increment", "kg_reports"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def driver_memory() -> str:
    """A quarter of physical memory, 1-4 GiB: the run needs ~2 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kb // 4 // 2**20))}g"


def pin_environment(work: Path) -> None:
    """Settings the session and its Python workers read at launch."""
    (work / "tmp").mkdir(parents=True)
    # workers import the package: without this a run outside the repo
    # root fails with ModuleNotFoundError inside mapInPandas
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["SPARK_DRIVER_MEM"] = driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def start_spark(cores: int, work: Path):
    from convei_abstract_relational_knowledge_explorer_spark.session import (
        get_spark,
    )

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run for the traced summary
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def reap_children() -> None:
    import proctree

    deadline = time.monotonic() + 30
    while True:
        left = [p for p in proctree.tree() if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.2)


def tail(values: list[float]):
    """Highest nearest-rank percentile with >= 10 samples above it; None
    unless that percentile lies above the median (n >= 22)."""
    n = len(values)
    k = n - 11
    if k < n // 2:
        return None
    return {"value": sorted(values)[k], "pct": round(100 * (k + 1) / n, 1), "n": n}


def measure(wl, args, spark) -> dict:
    import checks
    import proctree
    import tracing

    tracer = tracing.Tracer(spark) if args.trace else None
    store = tracing.StatusStore(spark) if args.trace else None
    samples, windows = [], []
    deadline = time.monotonic() + args.seconds
    with proctree.PeakMemory() as mem:
        while True:
            # untraced, traced, traced, untraced, ...: a steady warm-up
            # trend cancels out of the traced-minus-untraced overhead
            traced = bool(args.trace) and len(samples) % 4 in (1, 2)
            wl.prepare()
            sample = {"traced": traced, "ok": False}
            if traced:
                window = [store.max_stage_id(), store.max_job_id()]
                tracer.install()
                wl.tracer = tracer
            cpu0, t0 = proctree.cpu_seconds(), time.monotonic()
            try:
                if traced:
                    with tracer.operation(wl.name):
                        result = wl.op()
                else:
                    result = wl.op()
                sample["wall"] = time.monotonic() - t0
                sample["cpu"] = proctree.cpu_seconds() - cpu0
            except Exception:  # a failed operation is counted, not fatal
                traceback.print_exc()
                result = None
            finally:
                if traced:
                    tracer.uninstall()
                    wl.tracer = None
                    windows.append(window + [store.max_stage_id(), store.max_job_id()])
            if result is not None:
                try:
                    sample["stats"] = wl.check(result)
                    sample["ok"] = True
                except checks.CheckFailed:
                    traceback.print_exc()
            samples.append(sample)
            if time.monotonic() >= deadline and len(samples) >= 1 + 3 * args.trace:
                break
    return {"samples": samples, "peak_pss_mb": mem.peak_mb, "tracer": tracer,
            "store": store, "windows": windows}


def per_layer(wl, m: dict, cores: int) -> dict[str, float]:
    import tracing
    import workloads

    ok = [s for s in m["samples"] if s["ok"]]
    traced = [s for s in ok if s["traced"]]
    plain = [s for s in ok if not s["traced"]]
    n = len(traced)

    def in_window(key: int, i: int) -> bool:
        return any(w[i] < key <= w[i + 2] for w in m["windows"])

    stages = [s for s in m["store"].stages() if in_window(s["stageId"], 0)]
    jobs = [j for j in m["store"].jobs() if in_window(j["jobId"], 1)]
    out = tracing.summarize(m["tracer"].spans, stages, jobs, cores, n)
    out["triples.per_doc"] = (
        out["triples.rows_out"] / wl.docs_in if wl.docs_in else 0.0
    )
    out["canonicalize.merge_frac"] = statistics.fmean(
        s["stats"]["merge_frac"] for s in traced
    )
    out["checkpointer.files_written"] = statistics.fmean(
        s["stats"]["files_written"] for s in traced
    )
    out["checkpointer.mb_written"] = sum(s["outputBytes"] for s in stages) / 1e6 / n
    calls = getattr(wl, "calls", [])
    for kind in workloads.REPORTS:
        walls = [s for k, s, t in calls if k == kind and t]
        out[f"reports.{kind}.s"] = statistics.median(walls) if walls else 0.0
    t_med = statistics.median(s["wall"] for s in traced)
    u_med = statistics.median(s["wall"] for s in plain)
    out["trace.overhead_s"] = t_med - u_med
    out["trace.overhead_frac"] = (t_med - u_med) / u_med
    return out


def end_to_end(m: dict, setup_s: float) -> dict[str, float]:
    plain = [s for s in m["samples"] if s["ok"] and not s["traced"]]
    return {
        "setup_s": setup_s,
        "op_s_p50": statistics.median(s["wall"] for s in plain),
        "graph_mb": statistics.median(s["stats"]["graph_mb"] for s in plain),
        "peak_pss_mb": m["peak_pss_mb"],
    }


def summary(wl, e2e: dict, m: dict, calib: list[float]) -> dict:
    """The README's metric names for this workload."""
    samples = m["samples"]
    plain = [s for s in samples if s["ok"] and not s["traced"]]
    out = {**e2e, "workload": wl.name, "operations": len(samples),
           "op_walls_s": [s["wall"] for s in plain],
           "op_cpu_s": statistics.median(s["cpu"] for s in plain),
           "error_rate": sum(not s["ok"] for s in samples) / len(samples),
           "golden_pr": wl.golden_pr, "calib_s": calib}
    kdocs = wl.corpus.n_docs / 1000
    if wl.name == "kg_build":
        out["build_docs_per_s"] = kdocs * 1000 / e2e["op_s_p50"]
        out["build_cpu_s_per_kdoc"] = out["op_cpu_s"] / kdocs
    else:  # the one build of set-up: informational, not a bounded metric
        out["build_docs_per_s"] = kdocs * 1000 / wl.base_build["s"]
        out["build_cpu_s_per_kdoc"] = wl.base_build["cpu_s"] / kdocs
    if wl.name == "kg_increment":
        out["increment_s_p50"] = e2e["op_s_p50"]
        out["increment_s_tail"] = tail(out["op_walls_s"])
    elif wl.name == "kg_reports":
        walls = [s for _k, s, traced in wl.calls if not traced]
        out["report_s_p50"] = statistics.median(walls)
        out["report_s_tail"] = tail(walls)
    return out


_UNITS = {
    "setup_s": "s", "op_s_p50": "s", "graph_mb": "MB",
    "peak_pss_mb": "MB", "s": "s", "self_s": "s", "task_s": "s", "cpu_s": "s",
    "gc_s": "s", "unattributed_task_s": "s", "overhead_s": "s",
    "shuffle_mb": "MB", "spill_mb": "MB", "mb_written": "MB",
    "core_busy_frac": "fraction", "merge_frac": "fraction",
    "overhead_frac": "fraction", "per_doc": "rows/doc", "rows_out": "rows",
}


def main(argv=None) -> int:
    args = parse_args(argv)
    cores = len(os.sched_getaffinity(0))
    work = STATE / f"work-{os.getpid()}"
    sys.path.insert(0, str(ROOT))
    spark = None
    try:
        pin_environment(work)
        from bench import _calibrate

        calib = [_calibrate()]
        setup_start = time.monotonic()

        import checks
        import inputs
        import workloads

        spark = start_spark(cores, work)
        phases = {"spark_start": time.monotonic() - setup_start}
        corpus = inputs.Corpus(args.seed, N_DOCS, N_NEW)
        ctx = workloads.Context(
            spark, work, corpus,
            checks.FingerprintStore(
                STATE / "fingerprints.json", checks.program_version(PACKAGE)
            ),
        )
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.monotonic() - setup_start
        phases["workload"] = setup_s - sum(phases.values())

        m = measure(wl, args, spark)
        calib.append(_calibrate())
        samples = m["samples"]
        for traced in {False, bool(args.trace)}:
            if not any(s["ok"] and s["traced"] == traced for s in samples):
                raise RuntimeError(f"no {'traced ' * traced}operation succeeded")
        e2e = end_to_end(m, setup_s)
        metrics = per_layer(wl, m, cores) if args.trace else e2e
        if args.trace:
            m["tracer"].dump(STATE / f"spans-{wl.name}-{args.seed}.json")
        failed = sum(not s["ok"] for s in samples)
        print(json.dumps({**summary(wl, e2e, m, calib), "setup_phases_s": phases}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(samples),
            "failed": failed,
            "metrics": {
                k: {"value": v,
                    "unit": _UNITS.get(k) or _UNITS.get(k.rsplit(".", 1)[-1], "count")}
                for k, v in metrics.items()
            },
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
            reap_children()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
