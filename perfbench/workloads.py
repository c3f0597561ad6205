"""The three workloads. Each is a closed loop run by one client in one
process on ``local[nproc]``:

- ``stream_etl``: the log splitter, then the CDC router, each draining a
  pre-landed backlog one file per micro-batch (availableNow).
- ``warehouse_sql`` / ``llm_pipeline``: the headline query mixes, one
  query at a time in a seed-shuffled order.

A workload function takes a ``Run`` (session, scratch dirs, seed, op
counters) and returns its raw phase records; the ``*_summary`` and
``*_layers`` functions turn those into end-to-end and per-layer figures.
An op is one micro-batch or one query execution; it fails when it raises
or its output disagrees with the ground truth / oracle.
"""

from __future__ import annotations

import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from bench import HEADLINE  # the repository's frozen 31-query headline list

from . import datagen, oracle
from .metrics import GROUPS, cpu_clock, group_of, median, tail
from .tracing import Tracer, progress_start_s, spark_jobs

@dataclass
class Sizes:
    sf: float = 0.01           # warehouse / LLM table scale factor
    log_rows: int = 5000       # events per full landed log file
    cdc_rows: int = 5000       # Maxwell rows per full landed CDC file
    files_per_s: float = 0.3   # full landed files per app per second of --seconds
    min_files: int = 3
    warm_files: int = 1        # full micro-batches per app before timing


@dataclass
class Run:
    spark: object
    work: str   # scratch for this run's inputs and outputs
    cache: str  # oracle hashes kept across runs
    seed: int
    seconds: float
    sizes: Sizes
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    warmup_s: float = 0.0
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def op(self, op_id: str, ok: bool, why: str = "") -> None:
        with self._lock:  # warm-up ops report from several threads
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append({"op": op_id, "why": why[:300]})


# Warm-up is untimed and runs its ops on a few concurrent clients to warm
# the JIT in less wall time; one pass does not reach steady state (see
# README.md). Every timed phase is a single closed-loop client.
WARMUP_CLIENTS = 3


# --- stream_etl ----------------------------------------------------------------

def _drain(query) -> tuple[list[dict], str | None]:
    from pyspark.errors import StreamingQueryException
    try:
        query.awaitTermination()
        err = None
    except StreamingQueryException as e:
        err = str(e)
    # one record per executed micro-batch (availableNow emits no idle ones)
    return [p for p in query.recentProgress if "addBatch" in p["durationMs"]], err


def _drain_log(spark, lz: datagen.LandingZone, root: str, out: str, tracer: Tracer | None):
    from sparkstreamingproject_spark.schemas import LOG_ENVELOPE_SCHEMA
    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming import split

    t0, c0 = time.perf_counter(), cpu_clock()
    stream = file_stream(spark, os.path.join(root, "log"), LOG_ENVELOPE_SCHEMA,
                         max_files_per_trigger=1)
    if tracer is None:
        q = split.split_log_stream_to_sinks(stream, f"{out}/log", f"{out}/ck-log", None)
        progress, err = _drain(q)
    else:
        with tracer.patch(split, "write_split_batch", "streaming.split.write_split_batch",
                          op_arg=1, op_prefix="log:"):
            with tracer.span("streaming.split.split_log_stream_to_sinks", "log:start"):
                q = split.split_log_stream_to_sinks(stream, f"{out}/log", f"{out}/ck-log", None)
            progress, err = _drain(q)
    return progress, err, _elapsed(t0, c0)


def _drain_cdc(spark, lz: datagen.LandingZone, root: str, out: str, tracer: Tracer | None):
    from sparkstreamingproject_spark.schemas import CDC_ENVELOPE_SCHEMA
    from sparkstreamingproject_spark.sources.streams import file_stream
    from sparkstreamingproject_spark.streaming import cdc_router

    t0, c0 = time.perf_counter(), cpu_clock()
    stream = file_stream(spark, os.path.join(root, "cdc"), CDC_ENVELOPE_SCHEMA,
                         max_files_per_trigger=1)
    args = (stream, f"{out}/cdc", f"{out}/ck-cdc", lz.routing_config, None)
    if tracer is None:
        progress, err = _drain(cdc_router.route_cdc_stream(*args))
    else:
        with tracer.patch(cdc_router, "route_cdc_batch", "streaming.cdc_router.route_cdc_batch",
                          op_arg=1, op_prefix="cdc:"), \
                tracer.patch(cdc_router, "read_cdc_dim", "streaming.cdc_router.read_cdc_dim"), \
                tracer.patch(cdc_router, "merge_dim_version",
                             "streaming.cdc_router.merge_dim_version"), \
                tracer.patch(cdc_router, "cdc_commit", "streaming.manifest_commit.cdc_commit"):
            with tracer.span("streaming.cdc_router.route_cdc_stream", "cdc:start"):
                q = cdc_router.route_cdc_stream(*args)
            progress, err = _drain(q)
    return progress, err, _elapsed(t0, c0)


def _elapsed(t0: float, c0: tuple[float, float]) -> dict:
    c1 = cpu_clock()
    return {"wall": time.perf_counter() - t0, "cpu": c1[0] - c0[0], "steal": c1[1] - c0[1]}


def net_of_steal(wall: float, cpu: float, steal: float) -> float:
    """Wall time scaled by the share of runnable CPU time the hypervisor
    actually granted: on a shared host, stolen time stretches a run's wall
    clock without being work the program did."""
    return wall * cpu / (cpu + steal) if cpu + steal > 0 else wall


def _committed(progress: list[dict], rows: list[int]) -> list[str | None]:
    """Per file: None when its micro-batch committed all of its rows."""
    seen = {p["batchId"]: p["numInputRows"] for p in progress}
    return [None if seen.get(k) == n else f"batch {k} not committed with {n} rows"
            for k, n in enumerate(rows)]


def _file_of(ts: np.ndarray, starts: list[int]) -> np.ndarray:
    return np.searchsorted(np.asarray(starts, np.int64), ts, side="right") - 1


def verify_log(spark, lz: datagen.LandingZone, out: str, progress: list[dict]) -> list[str | None]:
    """Per landed log file, None or why its batch's sink rows are wrong:
    every topic's row count and ts checksum must match the generator's."""
    bad = _committed(progress, lz.log_rows)
    n = len(lz.log_files)
    for topic in datagen.LOG_TOPICS:
        path = f"{out}/log/{topic}"
        ts = (pq.read_table(path, columns=["ts"])["ts"].to_numpy().astype(np.int64)
              if os.path.isdir(path) else np.zeros(0, np.int64))
        idx = _file_of(ts, lz.log_ts_start)
        off = ts - np.asarray(lz.log_ts_start, np.int64)[idx]
        counts = np.bincount(idx, minlength=n)
        sums = np.bincount(idx, weights=off, minlength=n)
        for k in range(n):
            want = lz.log_truth[k][topic]
            if (counts[k], int(sums[k])) != (want[0], want[1]) and bad[k] is None:
                bad[k] = f"{topic}: {counts[k]} rows (ts sum {int(sums[k])}), want {want}"
    return bad


def verify_cdc(spark, lz: datagen.LandingZone, out: str, progress: list[dict]) -> list[str | None]:
    """Per landed CDC file, None or why its batch is wrong: fact counts per
    topic (by batch id, file k is batch k), and every dim row whose
    last write came from the file (read back through the manifest)."""
    from sparkstreamingproject_spark.streaming.manifest_commit import read_cdc_dim, read_cdc_facts

    bad = _committed(progress, lz.cdc_rows)
    got: dict[int, dict] = {}
    for r in read_cdc_facts(spark, f"{out}/cdc").groupBy("batch_id", "topic").count().collect():
        got.setdefault(r["batch_id"], {})[r["topic"]] = r["count"]
    for k, want in enumerate(lz.fact_truth):
        if got.get(k, {}) != want and bad[k] is None:
            bad[k] = f"facts {got.get(k, {})}, want {want}"
    dims = {}
    for table in datagen.DIM_TABLES:
        df = read_cdc_dim(spark, f"{out}/cdc", table)
        if df is not None:
            dims.update({f"{table}/{r['id']}": r["ts"] for r in df.select("id", "ts").collect()})
    for key in set(dims) | set(lz.dim_truth):
        want, have = lz.dim_truth.get(key), dims.get(key)
        if want != have:
            k = int(_file_of(np.array([want if want is not None else have]), lz.cdc_ts_start)[0])
            if bad[k] is None:
                bad[k] = f"dim {key}: ts {have}, want {want}"
    return bad


def stream_etl(run: Run, tracer: Tracer | None, phases: list[str]) -> dict:
    s = run.sizes
    files = max(s.min_files, round(run.seconds * s.files_per_s))
    lz = datagen.write_landing_zone(f"{run.work}/landing", run.seed, files, s.log_rows, s.cdc_rows)
    warm = datagen.write_landing_zone(f"{run.work}/landing-warm", run.seed + 7919,
                                      s.warm_files, s.log_rows, s.cdc_rows)
    t0 = time.perf_counter()

    def warm_drain(drain):
        _, err, _ = drain(run.spark, warm, f"{run.work}/landing-warm", f"{run.work}/out-warm", None)
        run.op(f"warmup:{drain.__name__}", err is None, err or "")

    with ThreadPoolExecutor(2) as pool:
        list(pool.map(warm_drain, (_drain_log, _drain_cdc)))
    run.warmup_s = time.perf_counter() - t0
    recs = {}
    for phase in phases:
        out = f"{run.work}/out-{phase}"
        t = tracer if phase == "traced" else None
        log_p, log_err, log_wall = _drain_log(run.spark, lz, f"{run.work}/landing", out, t)
        cdc_p, cdc_err, cdc_wall = _drain_cdc(run.spark, lz, f"{run.work}/landing", out, t)
        for app, bad, err in (("log", verify_log(run.spark, lz, out, log_p), log_err),
                              ("cdc", verify_cdc(run.spark, lz, out, cdc_p), cdc_err)):
            for k, why in enumerate(bad):
                run.op(f"{phase}:{app}:{k}", why is None, why or "")
            if err:
                run.failures.append({"op": f"{phase}:{app}", "why": err[:300]})
        recs[phase] = {"log": log_p, "cdc": cdc_p, "out": out,
                       **{k: log_wall[k] + cdc_wall[k] for k in log_wall}}
    return {"kind": "stream", "lz": lz, "phases": recs}


def _trig(progress: list[dict]) -> list[float]:
    return [float(p["durationMs"]["triggerExecution"]) for p in progress]


def _dur(progress: list[dict], key: str) -> list[float]:
    return [float(p["durationMs"].get(key, 0)) for p in progress]


def stream_summary(rec: dict) -> dict:
    """End-to-end figures of one stream phase: the pass (both drains) and
    both apps' per-batch latency and throughput."""
    log, cdc = _trig(rec["log"]), _trig(rec["cdc"])
    log_rows = sum(p["numInputRows"] for p in rec["log"])
    cdc_rows = sum(p["numInputRows"] for p in rec["cdc"])
    lt, lp = tail(log)
    ct, cp = tail(cdc)
    return {
        "pass_wall_s": net_of_steal(rec["wall"], rec["cpu"], rec["steal"]),
        "pass_cpu_s": rec["cpu"],
        "pass_wall_raw_s": rec["wall"],
        "log_events_per_s": log_rows / (sum(log) / 1000.0) if log else 0.0,
        "cdc_events_per_s": cdc_rows / (sum(cdc) / 1000.0) if cdc else 0.0,
        "log_batch_ms_p50": median(log), "log_batch_ms_tail": lt,
        "cdc_batch_ms_p50": median(cdc), "cdc_batch_ms_tail": ct,
        "samples": {"log_batch_ms": log, "cdc_batch_ms": cdc,
                    "steal_share": rec["steal"] / max(1e-9, rec["steal"] + rec["cpu"]),
                    "log_tail_pct": lp, "cdc_tail_pct": cp},
    }


def stream_layers(run: Run, tracer: Tracer, result: dict) -> dict:
    """Per-layer metrics of the traced stream phase."""
    from sparkstreamingproject_spark.streaming.manifest_commit import read_cdc_dim

    rec = result["phases"]["traced"]
    lz = result["lz"]
    both = rec["log"] + rec["cdc"]
    jobs = spark_jobs(run.spark)

    def batch_jobs(progress):
        per = []
        for p in progress:
            lo = progress_start_s(p)
            hi = lo + p["durationMs"]["triggerExecution"] / 1000.0 + 0.005
            per.append([j for j in jobs if lo - 0.005 <= j["submitted"] <= hi])
        return per

    log_jobs, cdc_jobs = batch_jobs(rec["log"]), batch_jobs(rec["cdc"])
    # late vs early over the full CDC files only (not the bootstrap
    # snapshot or the trickle file), so both quarters are like for like
    full = [float(p["durationMs"]["triggerExecution"]) for p in rec["cdc"]
            if p["batchId"] > 0 and lz.cdc_rows[p["batchId"]] == run.sizes.cdc_rows]
    q = max(1, len(full) // 4)
    dim_rows = 0
    for table in datagen.DIM_TABLES:
        df = read_cdc_dim(run.spark, f"{rec['out']}/cdc", table)
        dim_rows += df.count() if df is not None else 0
    in_bytes = sum(os.path.getsize(f) for f in lz.cdc_files)
    out_bytes = sum(j["output_bytes"] for b in cdc_jobs for j in b)
    files = _files_per_batch(f"{rec['out']}/ck-log")
    return {
        "sources.latest_offset_ms_p50": median(_dur(both, "latestOffset")),
        "sources.get_batch_ms_p50": median(_dur(both, "getBatch")),
        "streaming.split.add_batch_ms_p50": median(_dur(rec["log"], "addBatch")),
        "streaming.split.planning_ms_p50": median(_dur(rec["log"], "queryPlanning")),
        "streaming.split.jobs_per_batch": median([len(b) for b in log_jobs]),
        "streaming.split.files_per_batch": median(files) if files else 0.0,
        "streaming.cdc_router.add_batch_ms_p50": median(_dur(rec["cdc"], "addBatch")),
        "streaming.cdc_router.jobs_per_batch": median([len(b) for b in cdc_jobs]),
        "streaming.cdc_router.read_cdc_dim_ms_p50":
            median(tracer.durations_ms("streaming.cdc_router.read_cdc_dim")),
        "streaming.cdc_router.merge_dim_version_ms_p50":
            median(tracer.durations_ms("streaming.cdc_router.merge_dim_version")),
        "streaming.cdc_router.dim_state_rows_end": dim_rows,
        "streaming.cdc_router.bytes_written_per_input_byte": out_bytes / max(1, in_bytes),
        "streaming.cdc_router.late_vs_early_batch_ratio":
            median(full[-q:]) / median(full[:q]) if full else 0.0,
        "streaming.manifest_commit.cdc_commit_ms_p50":
            median(tracer.durations_ms("streaming.manifest_commit.cdc_commit")),
        "streaming.checkpoint.wal_commit_ms_p50": median(_dur(both, "walCommit")),
        "streaming.checkpoint.commit_offsets_ms_p50": median(_dur(both, "commitOffsets")),
    }


def _files_per_batch(checkpoint: str) -> list[int]:
    """Files each micro-batch took, from the file source's metadata log
    in the checkpoint (one JSON line per file after a version header)."""
    d = os.path.join(checkpoint, "sources", "0")
    out = []
    for name in sorted(os.listdir(d), key=lambda s: int(s) if s.isdigit() else -1):
        if name.isdigit():
            with open(os.path.join(d, name)) as f:
                out.append(sum(1 for line in f.read().splitlines()[1:] if line.strip()))
    return out


# --- query mixes -----------------------------------------------------------------

def mix_names(workload: str) -> list[str]:
    """The headline list split by registry tag: "llm"-tagged queries form
    the LLM mix, the rest the warehouse mix."""
    from sparkstreamingproject_spark.queries import REGISTRY
    llm = [n for n in HEADLINE if "llm" in REGISTRY[n].tags]
    return llm if workload == "llm_pipeline" else [n for n in HEADLINE if n not in llm]


def prepare_mix(run: Run, names: list[str]) -> tuple[str, dict]:
    """Seeded tables plus the DuckDB oracle hash of every query in the mix
    (computed or read from cache, outside all timing)."""
    from sparkstreamingproject_spark.queries import REGISTRY
    table_dir = f"{run.work}/tables"
    datagen.write_tables(table_dir, run.sizes.sf, run.seed)
    expected = oracle.oracle_hashes(table_dir, {n: REGISTRY[n].oracle for n in names},
                                    run.cache)
    return table_dir, expected


def _query_op(run: Run, name: str, table_dir: str, expected: dict, op_id: str,
              tracer: Tracer | None) -> dict:
    from sparkstreamingproject_spark.queries import REGISTRY
    spec = REGISTRY[name]
    sc = run.spark.sparkContext
    rec = {"name": name, "op": op_id, "group": group_of(spec.tags)}
    t0, c0 = time.perf_counter(), cpu_clock()
    try:
        if tracer is None:
            df = spec.fn(run.spark, table_dir)
            t1 = time.perf_counter()
            rows = df.collect()
        else:
            with tracer.span("queries.op", op_id):
                sc.setJobGroup(f"pb:{op_id}:build", name)
                with tracer.span(f"{rec['group']}.build"):
                    df = spec.fn(run.spark, table_dir)
                t1 = time.perf_counter()
                sc.setJobGroup(f"pb:{op_id}:exec", name)
                with tracer.span(f"{rec['group']}.exec"):
                    rows = df.collect()
        t2 = time.perf_counter()
        got = oracle.result_hash(rows, df.columns)
        ok = got == expected[name]
        why = "" if ok else f"{name}: {got} != oracle {expected[name]}"
    except Exception as e:  # an op that raises is a failed op; the mix goes on
        t1 = t2 = time.perf_counter()
        ok, why = False, f"{name}: {type(e).__name__}: {e}"
    run.op(op_id, ok, why)
    c1 = cpu_clock()
    rec.update(build_s=t1 - t0, exec_s=t2 - t1, total_s=t2 - t0,
               cpu_s=c1[0] - c0[0], steal_s=c1[1] - c0[1])
    rec["net_s"] = net_of_steal(rec["total_s"], rec["cpu_s"], rec["steal_s"])
    return rec


def query_mix(run: Run, tracer: Tracer | None, phases: list[str], names: list[str],
              table_dir: str, expected: dict) -> dict:
    """One warm-up pass, then per phase passes over the seed-shuffled mix
    until ``seconds`` have elapsed; the first pass always completes, so
    every query has a sample."""
    from sparkstreamingproject_spark.session import drain_cleaner

    rng = random.Random(run.seed)
    t0 = time.perf_counter()
    order = names[:]
    rng.shuffle(order)
    with ThreadPoolExecutor(WARMUP_CLIENTS) as pool:
        list(pool.map(lambda i: _query_op(run, order[i], table_dir, expected, f"warmup:{i}", None),
                      range(len(order))))
    drain_cleaner(run.spark, wait_s=1.0)  # release warm-up blocks before timing
    run.warmup_s = time.perf_counter() - t0
    recs = {}
    for phase in phases:
        t = tracer if phase == "traced" else None
        samples, start, k = [], time.perf_counter(), 0
        while True:
            rng.shuffle(order)
            for name in order:
                if samples and len(samples) >= len(order) and \
                        time.perf_counter() - start >= run.seconds:
                    break
                samples.append(_query_op(run, name, table_dir, expected, f"{phase}:{k}", t))
                k += 1
            else:
                continue
            break
        recs[phase] = samples
    return {"kind": "mix", "names": names, "phases": recs}


def mix_summary(samples: list[dict], names: list[str]) -> dict:
    """End-to-end figures of one mix phase; a pass is the sum over the mix
    of each query's median sample."""
    def per_query(key):
        return sum(median([s[key] for s in samples if s["name"] == n]) for n in names)

    lat = [s["total_s"] for s in samples]
    qt, qp = tail(lat)
    wall = per_query("total_s")
    cpu = sum(s["cpu_s"] for s in samples)
    steal = sum(s["steal_s"] for s in samples)
    return {
        "pass_wall_s": per_query("net_s"),
        "pass_cpu_s": per_query("cpu_s"),
        "pass_wall_raw_s": wall,
        "mix_wall_s": wall,
        "query_s_p50": median(lat),
        "query_s_tail": qt,
        "samples": {"queries": [[s["name"], s["total_s"], s["cpu_s"]] for s in samples],
                    "tail_pct": qp,
                    "steal_share": steal / max(1e-9, steal + cpu)},
    }


def mix_layers(run: Run, samples: list[dict], names: list[str]) -> dict:
    """Per-group metrics of the traced phase, as totals for one pass over
    the mix: each query's figures are the mean over its own samples (the
    timed loop may stop mid-pass, so queries have one or two samples),
    summed over the group's queries."""
    jobs = spark_jobs(run.spark)
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        if j["group"] and j["group"].startswith("pb:"):
            by_group.setdefault(j["group"], []).append(j)
    per_query = {n: sum(s["name"] == n for s in samples) for n in names}
    cores = run.spark.sparkContext.defaultParallelism
    out = {}
    tot_build, tot_build_jobs = 0.0, 0
    for g in GROUPS:
        acc = dict(build_s=0.0, exec_s=0.0, build_jobs=0, tasks=0, task_s=0.0,
                   shuffle_mb=0.0, gc_s=0.0)
        for s in (s for s in samples if s["group"] == g):
            w = 1.0 / per_query[s["name"]]
            b = by_group.get(f"pb:{s['op']}:build", [])
            e = by_group.get(f"pb:{s['op']}:exec", [])
            acc["build_s"] += w * s["build_s"]
            acc["exec_s"] += w * s["exec_s"]
            acc["build_jobs"] += w * len(b)
            for j in b + e:
                acc["tasks"] += w * j["tasks"]
                acc["task_s"] += w * j["task_s"]
                acc["shuffle_mb"] += w * j["shuffle_bytes"] / 1e6
                acc["gc_s"] += w * j["gc_s"]
        acc["parallelism"] = acc["task_s"] / (acc["exec_s"] * cores) if acc["exec_s"] else 0.0
        out.update({f"{g}.{k}": v for k, v in acc.items()})
        tot_build += acc["build_s"]
        tot_build_jobs += acc["build_jobs"]
    out["queries.build_s"] = tot_build
    out["queries.build_jobs"] = tot_build_jobs
    return out
