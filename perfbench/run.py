"""Repository benchmark: closed-loop workloads on local[nproc].

    python3 perfbench/run.py --workload extract_uniform --seed 1 --seconds 15 --trace 0

Workloads (see workloads.py): extract_uniform and operators_sf0.01. Run
from the root of a checkout; the inputs are made from --seed inside the
checkout (under .perfbench/). A run

1. sets up SETUPS times (Spark session start, input generation, parquet
   landing) and reports the median as setup_s;
2. runs one cold pass (cold_s), then warm passes for --seconds
   (job_s = the median pass, or for the operators the sum of per-query
   medians; peak_rss_mb = the process tree's peak during them);
3. checks every pass's outputs and counts mismatches as failures:
   extract_uniform rows against single-process extraction, the
   operators' cold rows against the DuckDB oracle and every later
   pass's rows against the cold ones.

With --trace 1 it then restarts Spark with the event log on, runs a
warm-up pass and one traced pass, and reports the per-layer numbers
instead (see BENCHMARK.json); spans and the per-stage table go to
.perfbench/traces/<workload>-seed<seed>.json.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Lines before it are a human-readable summary.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from common import ROOT, SETUPS, Run, median


def _environment(run: Run):
    """Keep every file the run writes inside its scratch directory and
    make the package importable by Spark's Python workers."""
    tmp = run.path("tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = run.path("spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(run.cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.chdir(ROOT)


def _passes(run: Run, wl, st) -> list[float]:
    """Warm passes until --seconds have been measured (at least two)."""
    times: list[float] = []
    with run.rss.window():
        while len(times) < 2 or sum(times) < run.seconds:
            times.append(wl.one_pass(run, st, cold=False))
    return times


# (event-log window key, unit) reported as spark.<key>
SPARK_METRICS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("jvm_gc_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"),
    ("shuffle_records", "count"),
    ("spill_mb", "MB"),
    ("python_sent_mb", "MB"),
    ("python_received_mb", "MB"),
    ("task_max_over_median", "ratio"),
)
NOTES = {
    "spark.*, plan.*": "one traced warm pass, after a warm-up pass in a session "
    "restarted with the event log on",
    "spark.executor_cpu_s": "JVM task threads only: Spark's task metrics do not "
    "include the Python workers' CPU",
    "trace.overhead_ratio": "the traced pass over the untraced job_s",
    "sources.*": "input generation and landing alone, without session start",
}


def measure(run: Run, wl):
    setups = []
    for _ in range(SETUPS):
        run.stop_spark()
        t0 = time.perf_counter()
        run.start_spark()
        st = wl.setup(run)
        setups.append(time.perf_counter() - t0)
    cold = wl.one_pass(run, st, cold=True)
    warm = _passes(run, wl, st)
    job_s = wl.job_s(st, warm)
    run.e2e["setup_s"] = (median(setups), "s")
    run.e2e["job_s"] = (job_s, "s")
    run.e2e["peak_rss_mb"] = (run.rss.peak_kb / 1024, "MB")
    run.detail["cold_s"] = (cold, "s")
    run.detail["jvm_peak_rss_mb"] = (run.rss.jvm_peak_kb / 1024, "MB")
    if st.get("docs"):
        run.detail["docs_per_s"] = (st["docs"] / job_s, "1/s")
    run.info.update(
        setups_s=setups,
        cold_s=cold,
        warm_s=warm,
        driver_memory=run.spark.sparkContext.getConf().get("spark.driver.memory"),
    )
    if run.trace:
        trace(run, wl, st, job_s)
    wl.verify(run, st)
    run.detail["error_rate"] = (run.failed / max(run.attempted, 1), "ratio")


def trace(run: Run, wl, st, job_s: float):
    import eventlog
    import inputs
    import pdfcore_pass

    layers = run.layers
    t0 = time.perf_counter()
    gen_st = wl.setup(run)
    layers["sources.corpus_gen_s"] = (time.perf_counter() - t0, "s")
    layers["sources.input_mb"] = (inputs.dir_mb(gen_st["path"]), "MB")
    layers["rss.jvm_peak_mb"] = run.detail["jvm_peak_rss_mb"]

    run.stop_spark()
    run.start_spark(eventlog=True)
    wl.one_pass(run, st, cold=False)  # the new Python workers warm up
    w0 = time.time()
    traced = wl.one_pass(run, st, cold=False)
    w1 = time.time()
    wl.traced_extra(run, st)
    run.stop_spark()  # closes the event log
    log = eventlog.EventLog(run.eventlog_dir)
    w = log.window(w0 * 1e3, w1 * 1e3)
    root = run.spans.add("pass:traced", wl.layer, wl.name, w0, w1)
    for jid, a, b in log.job_spans(w0 * 1e3, w1 * 1e3):
        run.spans.add("pass:traced", "spark", f"job {jid}", a, b, root)

    for key, unit in SPARK_METRICS:
        layers[f"spark.{key}"] = (w[key], unit)
    layers["spark.core_idle_share"] = (1 - w["executor_run_s"] / (traced * run.cores), "ratio")
    for key in ("plan.exchanges", "plan.python_nodes", "plan.broadcast_joins"):
        layers[key] = (w[key], "count")
    layers["trace.overhead_ratio"] = (traced / job_s, "ratio")
    run.detail.update(wl.layers(run, st, log))

    sample, ceiling_docs = wl.pdf_sample(run, st)
    layers["pdfcore.docs_per_s_1proc"] = (pdfcore_pass.one_process_rate(sample), "1/s")
    layers.update(pdfcore_pass.phase_pass(sample, run.spans, "pdfcore:"))
    ceiling = pdfcore_pass.mp_ceiling(ceiling_docs, run.cores)
    layers["pdfcore.mp_ceiling_docs_per_s"] = (ceiling, "1/s")
    if st.get("docs"):
        run.detail["spark.fraction_of_ceiling"] = (st["docs"] / job_s / ceiling, "ratio")
    run.info.update(traced_pass_s=traced, per_stage=w["per_stage"], python_stage=w["python_stage"])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import delphi_pdf_parser_spark  # noqa: F401
        import pyspark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]

    run = Run(wl.name, args.seed, args.seconds, bool(args.trace))
    _environment(run)
    try:
        measure(run, wl)
    finally:
        run.shutdown()
        shutil.rmtree(run.dir, ignore_errors=True)

    metrics = run.layers if run.trace else run.e2e
    for name, (value, unit) in sorted({**metrics, **run.detail}.items()):
        print(f"{wl.name} {name} = {value:.6g} {unit}")
    print(f"{wl.name} driver_memory = {run.info['driver_memory']}")
    for key in ("setups_s", "warm_s"):
        print(f"{wl.name} {key} = {' '.join(f'{t:.3f}' for t in run.info[key])}")
    for f in run.failures:
        print(f"{wl.name} FAILED {f}")
    if run.trace:
        out = run.write_trace(NOTES)
        print(f"{wl.name} trace written to {os.path.relpath(out, ROOT)}")
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
