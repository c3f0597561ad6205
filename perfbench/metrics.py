"""Metric names and units, statistics helpers and the host fingerprint.

``END_TO_END`` and ``PER_LAYER`` are the exact metric sets the result line
carries (untraced and traced runs respectively); BENCHMARK.json declares
the same names. ``REPORT`` holds the per-workload user-facing figures
printed on the report line before the result.
"""

from __future__ import annotations

import math
import os
import platform
import statistics

END_TO_END = {
    "setup_s": "s",
    "pass_wall_s": "s",
}

REPORT = {
    "stream_etl": {
        "setup_s": "s", "cold_setup_s": "s", "failed_ops_ratio": "ratio", "pass_cpu_s": "s",
        "log_events_per_s": "1/s", "cdc_events_per_s": "1/s",
        "log_batch_ms_p50": "ms", "log_batch_ms_tail": "ms",
        "cdc_batch_ms_p50": "ms", "cdc_batch_ms_tail": "ms",
    },
    "warehouse_sql": {
        "setup_s": "s", "cold_setup_s": "s", "failed_ops_ratio": "ratio", "pass_cpu_s": "s",
        "mix_wall_s": "s", "query_s_p50": "s", "query_s_tail": "s",
    },
}
REPORT["llm_pipeline"] = REPORT["warehouse_sql"]

# query groups, keyed by registry tag (see ``group_of``)
GROUPS = ["operators.join", "operators.agg", "operators.window", "operators.sketch",
          "operators.routing", "llm.dedup", "llm.similarity", "llm.text",
          "functions.pandas"]
GROUP_METRICS = {"build_s": "s", "exec_s": "s", "build_jobs": "count", "tasks": "count",
                 "task_s": "s", "parallelism": "ratio", "shuffle_mb": "MB", "gc_s": "s"}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.cold_get_spark_s": "s",
    "session.warmup_pass_s": "s",
    "session.jvm_rss_peak_mb": "MB",
    "session.persisted_rdds_end": "count",
    "sources.latest_offset_ms_p50": "ms",
    "sources.get_batch_ms_p50": "ms",
    "streaming.split.add_batch_ms_p50": "ms",
    "streaming.split.planning_ms_p50": "ms",
    "streaming.split.jobs_per_batch": "count",
    "streaming.split.files_per_batch": "count",
    "streaming.cdc_router.add_batch_ms_p50": "ms",
    "streaming.cdc_router.jobs_per_batch": "count",
    "streaming.cdc_router.read_cdc_dim_ms_p50": "ms",
    "streaming.cdc_router.merge_dim_version_ms_p50": "ms",
    "streaming.cdc_router.dim_state_rows_end": "count",
    "streaming.cdc_router.bytes_written_per_input_byte": "ratio",
    "streaming.cdc_router.late_vs_early_batch_ratio": "ratio",
    "streaming.manifest_commit.cdc_commit_ms_p50": "ms",
    "streaming.checkpoint.wal_commit_ms_p50": "ms",
    "streaming.checkpoint.commit_offsets_ms_p50": "ms",
    **{f"{g}.{m}": u for g in GROUPS for m, u in GROUP_METRICS.items()},
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "trace.pass_wall_ratio": "ratio",
    "trace.pass_cpu_ratio": "ratio",
    "trace.spans": "count",
    "trace.bookkeeping_s": "s",
}


def group_of(tags: tuple) -> str:
    """The layer a query's work lands in, from its registry tags (the
    most specific tag wins)."""
    for tag, group in (("pandas", "functions.pandas"), ("dedup", "llm.dedup"),
                       ("similarity", "llm.similarity"), ("text", "llm.text"),
                       ("sketch", "operators.sketch"), ("routing", "operators.routing"),
                       ("parse", "operators.routing"), ("upsert", "operators.routing"),
                       ("join", "operators.join"), ("window", "operators.window"),
                       ("time", "operators.window"), ("agg", "operators.agg")):
        if tag in tags:
            return group
    raise ValueError(f"no layer for tags {tags}")


def pct(values, p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100]."""
    v = sorted(values)
    if not v:
        return math.nan
    k = (len(v) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def tail(values) -> tuple[float | None, int | None]:
    """The highest of p99/p95/p90/p75/p50 with at least ten samples
    beyond it, as (value, percentile); (None, None) when there are fewer
    than 20 samples."""
    n = len(values)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100.0 >= 10:
            return pct(values, p), p
    return None, None


def median(values) -> float:
    return statistics.median(values) if values else math.nan


_TICK = os.sysconf("SC_CLK_TCK")


def _tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and all its live descendants,
    including their reaped children (the JVM and the Python workers run
    as descendants of the benchmark process)."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while scanning
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    return total / _TICK


def cpu_clock() -> tuple[float, float]:
    """(busy, steal) CPU seconds so far: busy is this process tree's own
    CPU time; steal is the machine-wide time the hypervisor kept the
    vCPUs from running (from /proc/stat), which inflates wall time only."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / _TICK
    return _tree_cpu_s(os.getpid()), steal


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 1024 / 1024, 1)
    return 0.0


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def fingerprint(spark) -> dict:
    """Where a result was measured; results with different fingerprints
    are never compared (see compare.py)."""
    import pyspark
    return {
        "nproc": host_cores(),
        "ram_gb": _mem_total_gb(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "java": spark._jvm.System.getProperty("java.version"),
        "cores_used": int(os.environ["SPARK_GRAFT_CPUS"]),
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }
