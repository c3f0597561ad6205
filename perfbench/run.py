"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_etl|warehouse_sql|llm_pipeline \
        --seed N --seconds S --trace 0|1

Runs one workload from the root of a source checkout against the
package's public functions, on ``local[nproc]`` in this one process, and
checks every output. Prints a report line (the workload's named metrics,
sample counts, host fingerprint, failing ops) and, as the LAST line, the
result: ``{"correct", "attempted", "failed", "metrics"}`` whose metrics
are the end-to-end set (``--trace 0``) or the per-layer set (``--trace 1``,
which also measures an untraced phase to price the tracing). Every file
it reads or writes is under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ["stream_etl", "warehouse_sql", "llm_pipeline"]


def _configure_env(work: str, trace: bool) -> None:
    """Host-derived cores and driver memory, and every scratch path Spark,
    the JVM and Python would otherwise put under /tmp, inside ``work``."""
    from perfbench.metrics import host_cores
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = tmp
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = []
    if trace:  # keep every job and stage of the run in the UI status store
        args += ["--conf spark.ui.retainedJobs=100000",
                 "--conf spark.ui.retainedStages=100000"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def setup_sessions(repeats: int, tracer=None):
    """``repeats`` session set-ups (get_spark + first action), stopping the
    previous session each time. The first is the cold start: it launches
    the JVM, and its wall time is also returned net of CPU steal."""
    from perfbench.metrics import cpu_clock
    from perfbench.workloads import net_of_steal
    from sparkstreamingproject_spark.session import get_spark
    spark, setup, get = None, [], []
    c0 = cpu_clock()
    for _ in range(repeats):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        if tracer is None:
            spark = get_spark("perfbench")
        else:
            with tracer.span("session.get_spark", "setup"):
                spark = get_spark("perfbench")
        t1 = time.perf_counter()
        spark.range(1000).selectExpr("sum(id)").collect()
        setup.append(time.perf_counter() - t0)
        get.append(t1 - t0)
        if len(setup) == 1:
            c1 = cpu_clock()
            cold = net_of_steal(setup[0], c1[0] - c0[0], c1[1] - c0[1])
    return spark, setup, get, cold


def _jvm_rss_peak_mb(spark) -> float:
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _shutdown() -> None:
    """Stop the active session, then the JVM: it exits when its stdin closes."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def run(workload: str, seed: int, seconds: float, trace: bool, work: str, cache: str,
        sizes=None, setup_repeats: int = 6):
    """Run one workload; returns (report, result) dicts. The session is
    left running (tests reuse its JVM)."""
    from perfbench import workloads as W
    from perfbench.metrics import END_TO_END, PER_LAYER, REPORT, fingerprint, median
    from perfbench.tracing import Tracer

    tracer = Tracer() if trace else None
    spark, setups, gets, cold = setup_sessions(setup_repeats, tracer)
    warm_setups = setups[1:] or setups  # the re-creates, in a JVM already running
    r = W.Run(spark, work, cache, seed, seconds, sizes or W.Sizes())
    phases = ["untraced", "traced"] if trace else ["untraced"]
    if workload == "stream_etl":
        res = W.stream_etl(r, tracer, phases)
        summ = {p: W.stream_summary(rec) for p, rec in res["phases"].items()}
    else:
        names = W.mix_names(workload)
        table_dir, expected = W.prepare_mix(r, names)
        res = W.query_mix(r, tracer, phases, names, table_dir, expected)
        summ = {p: W.mix_summary(s, names) for p, s in res["phases"].items()}
    e2e = dict(summ["untraced"], setup_s=median(warm_setups), cold_setup_s=cold)
    report = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "fingerprint": fingerprint(spark),
        "metrics": {k: {"value": e2e.get(k) if k != "failed_ops_ratio"
                        else r.failed / max(1, r.attempted), "unit": u}
                    for k, u in REPORT[workload].items()},
        "pass_wall_raw_s": e2e["pass_wall_raw_s"],
        "samples": e2e["samples"],
        "setup_s_samples": setups,
        "warmup_s": r.warmup_s,
        "failures": r.failures[:20],
    }
    if trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update({
            "session.get_spark_s": median(gets[1:] or gets),
            "session.cold_get_spark_s": gets[0],
            "session.warmup_pass_s": r.warmup_s,
            "session.jvm_rss_peak_mb": _jvm_rss_peak_mb(spark),
            "session.persisted_rdds_end": spark.sparkContext._jsc.getPersistentRDDs().size(),
        })
        if workload == "stream_etl":
            layers.update(W.stream_layers(r, tracer, res))
        else:
            layers.update(W.mix_layers(r, res["phases"]["traced"], res["names"]))
        traced = summ["traced"]
        layers["trace.pass_wall_ratio"] = traced["pass_wall_s"] / e2e["pass_wall_s"]
        layers["trace.pass_cpu_ratio"] = traced["pass_cpu_s"] / e2e["pass_cpu_s"]
        layers["trace.spans"] = len(tracer.spans)
        layers["trace.bookkeeping_s"] = tracer.bookkeeping_s
        report["traced_e2e"] = {k: traced[k] for k in ("pass_wall_s", "pass_cpu_s", "pass_wall_raw_s")}
        report["tracer"] = tracer
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    for m in metrics.values():  # nothing measured (every op failed) reads 0, not NaN
        if not math.isfinite(m["value"]):
            m["value"] = 0.0
    result = {"correct": r.failed == 0 and r.attempted > 0, "attempted": r.attempted,
              "failed": r.failed, "metrics": metrics}
    return report, result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    results = os.path.join(base, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    _configure_env(work, bool(args.trace))
    try:
        report, result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                             work, os.path.join(base, "cache"))
        stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}"
                                     f"-{time.strftime('%Y%m%dT%H%M%S')}")
        tracer = report.pop("tracer", None)
        if tracer is not None:
            tracer.write_jsonl(f"{stem}-spans.jsonl")
            report["spans_jsonl"] = os.path.relpath(f"{stem}-spans.jsonl", ROOT)
        with open(f"{stem}.json", "w") as f:
            json.dump({"report": report, "result": result}, f, indent=1)
        print(json.dumps({"report": report}), flush=True)
        print(json.dumps(result), flush=True)
    finally:
        if "pyspark" in sys.modules:
            _shutdown()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.path[0] = ROOT  # import the checkout's package, and perfbench as a package
    sys.exit(main())
