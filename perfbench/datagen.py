"""Seeded inputs for the benchmark, written with pyarrow (no Spark).

Two kinds of input:

- ``write_tables``: the warehouse / LLM-pipeline tables the query
  registry reads (``region`` .. ``embeddings``, one parquet file and one
  row group each, the same schemas and value domains as the
  repository's TPC-H-ish test data in TESTDATA.md) at a given scale factor.
- ``write_landing_zone``: a landing zone of behavioural-log envelopes and
  Maxwell CDC rows, one parquet file per micro-batch, plus the ground
  truth each sink must hold afterwards.

Every value comes from ``numpy.random.default_rng(seed)`` streams; the
same seed always writes byte-identical files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "fr", "zh", "de", "es"]
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start_us, span_days, n):
    us = start_us + rng.integers(0, span_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def table_rows(sf: float) -> dict[str, int]:
    """Row counts per table: linear in ``sf`` like TPC-H, except the
    embedding table, which the reference test data grows sub-linearly."""
    return {
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(20, round(200_000 * sf)),
        "orders": max(50, round(1_500_000 * sf)),
        "lineitem": max(200, round(6_000_000 * sf)),
        "events": max(200, round(1_000_000 * sf)),
        "documents": max(40, round(50_000 * sf)),
        "embeddings": max(40, round(500 * (sf / 0.01) ** 0.6)),
        "users": max(10, round(15_000 * sf)),
    }


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document (dedup workloads)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(_WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(_WORDS[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _choice(rng, _LANGS, n, _LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim), pa.int32()),
                                   pa.array(v.ravel(), pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every registry table at scale factor ``sf``, derived from ``seed``."""
    n = table_rows(sf)
    rngs = {t: np.random.default_rng([seed, i]) for i, t in enumerate(TABLES)}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(_REGIONS, pa.string())})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r, k = rngs["customer"], n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": _choice(r, _SEGMENTS, k)})
    r, k = rngs["supplier"], n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
        "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, k)})
    r, k = rngs["part"], n["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k), pa.int64()),
        "p_name": _choice(r, names, k),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, k)]),
        "p_type": _choice(r, _PART_TYPES, k),
        "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 1)})
    r, k = rngs["orders"], n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": _choice(r, ["F", "O", "P"], k),
        "o_totalprice": _money(r, 1000.0, 500_000.0, k),
        "o_orderdate": _days(r, _EPOCH_1995, 2404, k),
        "o_orderpriority": _choice(r, _PRIORITIES, k)})
    r, k = rngs["lineitem"], n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, 900.68, 104_999.91, k),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": _choice(r, ["A", "N", "R"], k),
        "l_linestatus": _choice(r, ["F", "O"], k),
        "l_shipdate": _days(r, _EPOCH_1995 + _DAY_US, 2499, k)})
    r, k = rngs["events"], n["events"]
    ts = np.sort(_EPOCH_2024 + r.integers(0, 30 * _DAY_US, k))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n["users"], k), pa.int64()),
        "event_type": _choice(r, _EVENT_TYPES, k),
        "value": np.round(r.exponential(50.0, k), 2),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)])})
    t["documents"] = _documents(rngs["documents"], n["documents"])
    t["embeddings"] = _embeddings(rngs["embeddings"], n["embeddings"])
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- streaming landing zone --------------------------------------------------

# Where the stream's shape comes from. Log envelopes and the CDC table and
# op mixes follow the repository's reference-shape fixtures
# (tests/fixtures.py, FIXTURES.md §1/§3): ~5% err, ~70% page, 0-3
# displays, 0-2 actions; the four routed gmall tables, uniformly; ops drawn
# uniformly from insert, insert, update, bootstrap-insert, delete, ddl.
# Two values are assumptions with no source: the Zipf exponent of the ids
# updates and deletes hit (ZIPF_A) and the bootstrap snapshot's length
# (BOOTSTRAP_BATCHES), chosen so that the dim state starts several batches
# large and updates mostly hit recent keys.
LOG_TOPICS = ["DWD_ERROR_LOG", "DWD_PAGE_LOG", "DWD_PAGE_DISPLAY",
              "DWD_PAGE_ACTION", "DWD_START_LOG"]
FACT_TABLES = ["order_info", "order_detail"]
DIM_TABLES = ["user_info", "base_province"]
_CDC_TABLES = FACT_TABLES + DIM_TABLES
_CDC_OPS = ["insert", "insert", "update", "bootstrap-insert", "delete", "ddl"]
ZIPF_A = 1.3
BASE_TS = 1_700_000_000_000  # epoch ms
BOOTSTRAP_BATCHES = 3  # the CDC backlog opens with a snapshot this many files long


@dataclass
class LandingZone:
    """File paths in drain order, each file's first ``ts`` (files hold
    disjoint, increasing ts ranges, so any sink row maps back to the file
    and hence the micro-batch it came from), and the ground truth."""
    log_files: list[str] = field(default_factory=list)
    cdc_files: list[str] = field(default_factory=list)
    log_ts_start: list[int] = field(default_factory=list)
    cdc_ts_start: list[int] = field(default_factory=list)
    log_rows: list[int] = field(default_factory=list)
    cdc_rows: list[int] = field(default_factory=list)
    # per file: {topic: [rows, sum(ts - first ts of the file)]}
    log_truth: list[dict] = field(default_factory=list)
    # per file: {fact topic: rows}
    fact_truth: list[dict] = field(default_factory=list)
    # last-write-wins dim state: "table/id" -> ts of the winning row
    dim_truth: dict = field(default_factory=dict)
    routing_config: str = ""


def _log_file(rng, n: int, ts0: int) -> tuple[list[dict], dict]:
    rows, truth = [], {t: [0, 0] for t in LOG_TOPICS}
    for i in range(n):
        ts = ts0 + i
        has_err = rng.random() < 0.05
        has_page = rng.random() < 0.7
        has_start = not has_page or rng.random() < 0.1
        common = {"ar": str(rng.integers(1, 35)), "ba": ["Xiaomi", "Huawei", "iPhone"][rng.integers(3)],
                  "ch": ["appstore", "web", "oppo"][rng.integers(3)], "is_new": str(rng.integers(2)),
                  "md": f"model-{rng.integers(1, 10)}", "mid": f"mid_{rng.integers(0, 5000)}",
                  "os": ["Android 11", "iOS 13"][rng.integers(2)], "uid": str(rng.integers(1, 2000)),
                  "vc": "v2.1.134"}
        page = displays = actions = start = None
        if has_page:
            page = {"during_time": int(rng.integers(1000, 20000)), "item": str(rng.integers(1, 30)),
                    "item_type": "sku_id", "last_page_id": [None, "home", "cart"][rng.integers(3)],
                    "page_id": ["home", "good_detail", "cart", "trade"][rng.integers(4)],
                    "source_type": ["promotion", "query", None][rng.integers(3)]}
            displays = [{"display_type": ["promotion", "query"][rng.integers(2)],
                         "item": str(rng.integers(1, 30)), "item_type": "sku_id",
                         "order": str(k + 1), "pos_id": str(rng.integers(1, 6))}
                        for k in range(rng.integers(0, 4))] or None
            actions = [{"action_id": ["favor_add", "cart_add"][rng.integers(2)],
                        "item": str(rng.integers(1, 30)), "item_type": "sku_id", "ts": ts + 500}
                       for _ in range(rng.integers(0, 3))] or None
        if has_start:
            start = {"entry": ["icon", "notice"][rng.integers(2)],
                     "loading_time": int(rng.integers(500, 5000)),
                     "open_ad_id": str(rng.integers(1, 20)),
                     "open_ad_ms": int(rng.integers(100, 9000)),
                     "open_ad_skip_ms": int(rng.integers(0, 500))}
        rows.append({"common": common, "page": page, "displays": displays, "actions": actions,
                     "start": start, "err": '{"code":1001}' if has_err else None, "ts": ts})
        # expected routing (operators.flatten semantics): err rows go to
        # the error topic only; the rest fan out by page / start presence
        if has_err:
            hits = {"DWD_ERROR_LOG": 1}
        else:
            hits = {}
            if has_page:
                hits["DWD_PAGE_LOG"] = 1
                hits["DWD_PAGE_DISPLAY"] = len(displays or [])
                hits["DWD_PAGE_ACTION"] = len(actions or [])
            if has_start:
                hits["DWD_START_LOG"] = 1
        for topic, k in hits.items():
            truth[topic][0] += k
            truth[topic][1] += k * i  # ts offset within the file
    return rows, truth


def _cdc_file(rng, n: int, ts0: int, next_id: dict, dim_truth: dict,
              bootstrap: bool = False) -> tuple[list[dict], dict]:
    """Maxwell rows. Inserts take fresh ids (the key space grows with the
    stream); updates and deletes hit recent ids with Zipf skew. A
    bootstrap file is Maxwell's initial snapshot of the dim tables: all
    bootstrap-insert rows, so the dim state starts several batches large."""
    rows, facts = [], {}
    if bootstrap:
        tables = len(FACT_TABLES) + rng.choice(len(DIM_TABLES), n)
        ops = np.full(n, _CDC_OPS.index("bootstrap-insert"))
    else:
        tables = rng.choice(len(_CDC_TABLES), n)
        ops = rng.choice(len(_CDC_OPS), n)
    for i in range(n):
        table, op, ts = _CDC_TABLES[tables[i]], _CDC_OPS[ops[i]], ts0 + i
        if op in ("insert", "bootstrap-insert") or next_id[table] == 0:
            rid = next_id[table]
            next_id[table] += 1
        else:
            rid = int(next_id[table] - min(rng.zipf(ZIPF_A), next_id[table]))
        rows.append({"database": "gmall", "table": table, "type": op, "ts": ts,
                     "data": [("id", str(rid)), ("name", f"n{ts % 9973}"),
                              ("amount", str(int(rng.integers(1, 500))))]})
        if op in ("insert", "bootstrap-insert", "update"):
            if table in FACT_TABLES:
                topic = f"{table.upper()}_{'U' if op == 'update' else 'I'}"
                facts[topic] = facts.get(topic, 0) + 1
            elif table in DIM_TABLES:
                dim_truth[f"{table}/{rid}"] = ts
    return rows, facts


def _file_sizes(rng, files: int, rows: int) -> list[int]:
    """``files`` full files of ``rows`` rows plus, at a seeded position,
    one trickle file of 1-8 rows: such a file can route nothing at all,
    a degenerate micro-batch the apps must still commit."""
    sizes = [rows] * files
    sizes.insert(int(rng.integers(0, files + 1)), int(rng.integers(1, 9)))
    return sizes


def write_landing_zone(root: str, seed: int, files: int, log_rows: int,
                       cdc_rows: int) -> LandingZone:
    """``files`` full files and one trickle file per app under ``root/log``
    and ``root/cdc``, the CDC backlog opening with a bootstrap snapshot;
    modification times are spaced one second apart in drain order (the
    file source picks the oldest file first)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from sparkstreamingproject_spark.schemas import CDC_ENVELOPE_SCHEMA, LOG_ENVELOPE_SCHEMA

    log_schema = to_arrow_schema(LOG_ENVELOPE_SCHEMA)
    cdc_schema = to_arrow_schema(CDC_ENVELOPE_SCHEMA)
    rng = np.random.default_rng([seed, 101])
    lz = LandingZone()
    for sub in ("log", "cdc"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    mtime0 = 1_600_000_000
    ts = BASE_TS
    for k, n in enumerate(_file_sizes(rng, files, log_rows)):
        rows, truth = _log_file(rng, n, ts)
        path = os.path.join(root, "log", f"part-{k:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=log_schema), path)
        os.utime(path, (mtime0 + k, mtime0 + k))
        lz.log_files.append(path)
        lz.log_ts_start.append(ts)
        lz.log_rows.append(n)
        lz.log_truth.append(truth)
        ts += n
    next_id = {t: 0 for t in _CDC_TABLES}
    ts = BASE_TS
    sizes = _file_sizes(rng, files, cdc_rows)
    for k, n in enumerate([BOOTSTRAP_BATCHES * cdc_rows] + sizes):
        rows, facts = _cdc_file(rng, n, ts, next_id, lz.dim_truth, bootstrap=k == 0)
        path = os.path.join(root, "cdc", f"part-{k:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=cdc_schema), path)
        os.utime(path, (mtime0 + k, mtime0 + k))
        lz.cdc_files.append(path)
        lz.cdc_ts_start.append(ts)
        lz.cdc_rows.append(n)
        lz.fact_truth.append(facts)
        ts += n
    lz.routing_config = os.path.join(root, "routing.json")
    with open(lz.routing_config, "w") as f:
        json.dump({"fact_tables": FACT_TABLES, "dim_tables": DIM_TABLES}, f)
    return lz
