"""Seeded inputs for the graft benchmark.

Two kinds of input come from here:

* The tables: a fixed synthetic sf0.1 dataset (TPC-H-shaped star schema plus
  `events`, `documents` and `embeddings`) with the same schemas and value
  domains as graft's gate data. It is drawn from DATA_SEED, never from the
  run's --seed, so every run and every commit reads the same bytes.
* The workload: what the client sends. `plan(workload, seed, facts)` turns a
  run's --seed into the exact RQL strings, gate query order and JSON-line
  micro-batches the JVM harness executes, with the oracle SQL each result is
  checked against. The seed only picks literals and orders; the counts,
  classes, tables and selectivities are fixed, so two seeds measure the same
  mix (selftest.py checks this).
"""
import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the tables change: the data cache is keyed on it.
DATA_VERSION = "v3"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# ---------------------------------------------------------------- tables

_EPOCH = dt.datetime(1970, 1, 1)


def _days(d):
    return (d - _EPOCH).days


def _ts_us(days):
    """Midnight timestamps (microseconds) from day numbers."""
    return pa.array(np.asarray(days, dtype=np.int64) * 86_400_000_000,
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(out_dir):
    """Write the ten sf0.1 tables as one parquet file each into out_dir."""
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    t = {}
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())})
    nc = 15_000
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    ns = 1_000
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = 20_000
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    retail = np.round(900 + (np.arange(npart) % 1000) / 10, 1)
    t["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": retail})
    no = 150_000
    d0, d1 = _days(dt.datetime(1995, 1, 1)), _days(dt.datetime(2001, 8, 1))
    odays = rng.integers(d0, d1 + 1, no)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500_000, no),
        "o_orderdate": _ts_us(odays),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = 600_000
    # columns drawn independently, as in graft's gate data
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts_us(rng.integers(d0 + 1, _days(dt.datetime(2001, 11, 4)) + 1, nl))})
    ne = 100_000
    # As in graft's gate data: event_id follows ts, and user_id (0-1499),
    # event_type, value and the `k` in props (0-99) are drawn independently
    # of time and of each other.
    start_us = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 1_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ne)) + start_us
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.exponential(50, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = 5_000
    vocab = ("a the data spark query filter sort hash key group agg value row "
             "column table join window stream batch merge scan order line "
             "part customer vector fast slow big small").split()
    texts = [" ".join(rng.choice(vocab, rng.integers(8, 90)))
             for _ in range(nd)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(["de", "en", "en", "en", "es", "fr", "zh"], nd),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    nv = 2_000
    vecs = rng.normal(0, 0.125, (nv, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    for name in TABLES:
        pq.write_table(t[name], os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


def write_facts(data_dir):
    """Caches, beside the tables, what the generators read from them."""
    with open(os.path.join(data_dir, "facts.json"), "w") as f:
        json.dump({"facts": data_facts(data_dir), "rt_rows": rt_source_rows(data_dir)}, f)


def load_facts(data_dir):
    """(facts, rt_rows) as written by write_facts."""
    with open(os.path.join(data_dir, "facts.json")) as f:
        c = json.load(f)
    return c["facts"], [tuple(r) for r in c["rt_rows"]]


def data_facts(data_dir):
    """The key and time spans the olap and ingest generators draw from."""
    li = pq.read_table(os.path.join(data_dir, "lineitem.parquet"),
                       columns=["l_orderkey"])["l_orderkey"].to_numpy()
    ev = pq.read_table(os.path.join(data_dir, "events.parquet"),
                       columns=["ts", "user_id"])
    ts = ev["ts"].cast(pa.int64()).to_numpy() * 1000  # epoch nanos
    return {"orderkeys": sorted(set(int(k) for k in li)),
            "ts_lo": int(ts.min()), "ts_hi": int(ts.max()),
            "users": sorted(set(int(u) for u in ev["user_id"].to_numpy()))}


# --------------------------------------------------------------- workloads


def shuffled(rng, items):
    out = list(items)
    rng.shuffle(out)
    return out


OLAP_CLASSES = ["key_range", "point_lookup", "substring_like", "metadata",
                "groupby_topn"]
SELECTIVITIES = [0.001, 0.01, 0.1, 1.0]
# The events segment table keeps `ts` as graft's epoch-nano long (the
# convention Tables.events applies), so time ranges are integer ranges.
EVENTS_SEG = ("(SELECT event_id, epoch_ns(ts) AS ts, user_id, event_type, "
              "value, props FROM events)")
DEC = "CAST(value AS DECIMAL(30,6))"

# Block slots: five classes, two per class, each a (class, table, variant).
# Key ranges pair a narrow and a wide selectivity in every block, so blocks
# weigh the same; the pair rotates through all four selectivities.
OLAP_BLOCK = [("key_range", "lineitem", 0), ("key_range", "events", 2),
              ("point_lookup", "lineitem", 0), ("point_lookup", "events", 0),
              ("substring_like", "events", 0), ("substring_like", "events", 1),
              ("metadata", "lineitem", 0), ("metadata", "events", 0),
              ("groupby_topn", "lineitem", 0), ("groupby_topn", "events", 0)]


def _olap_query(rng, block_no, cls, table, variant, facts):
    """(rql, oracle_sql, selectivity) for one slot."""
    if cls == "key_range":
        sel = SELECTIVITIES[(block_no + variant) % 4]
        if table == "lineitem":
            keys = facts["orderkeys"]
            lo_k, hi_k = keys[0], keys[-1]
            width = max(1, int((hi_k - lo_k) * sel))
            lo = rng.randint(lo_k, hi_k - width) if sel < 1 else lo_k
            hi = lo + width if sel < 1 else hi_k
            body = ("l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS q "
                    f"FROM lineitem WHERE l_orderkey BETWEEN {lo} AND {hi} "
                    "GROUP BY l_returnflag, l_linestatus "
                    "ORDER BY l_returnflag, l_linestatus")
            return f"SELECT {body}", f"SELECT {body}", sel
        lo_t, hi_t = facts["ts_lo"], facts["ts_hi"]
        width = int((hi_t - lo_t) * sel)
        lo = rng.randint(lo_t, hi_t - width) if sel < 1 else lo_t
        hi = lo + width if sel < 1 else hi_t
        tail = (f"FROM {{t}} WHERE ts >= {lo} AND ts <= {hi} "
                "GROUP BY event_type ORDER BY event_type")
        cols = f"event_type, COUNT(*) AS n, SUM({DEC}) AS v, MIN(event_id) AS e "
        return (f"SELECT {cols}" + tail.replace('{t}', "events"),
                f"SELECT {cols}" + tail.replace('{t}', EVENTS_SEG), sel)
    if cls == "point_lookup":
        if table == "lineitem":
            k = rng.choice(facts["orderkeys"])
            body = ("l_orderkey, l_linenumber, l_partkey, l_quantity, l_shipdate "
                    f"FROM lineitem WHERE l_orderkey = {k} "
                    "ORDER BY l_linenumber, l_partkey, l_quantity")
            return f"SELECT {body}", f"SELECT {body}", None
        u = rng.choice(facts["users"])
        cols = "event_id, event_type, value"
        tail = f"FROM {{t}} WHERE user_id = {u} ORDER BY event_id"
        return (f"SELECT TOP 20 {cols} " + tail.replace('{t}', "events"),
                f"SELECT {cols} " + tail.replace('{t}', EVENTS_SEG) + " LIMIT 20", None)
    if cls == "substring_like":
        k = rng.randint(0, 99)
        # variant 0 names one k value; variant 1 a decade prefix ("k": 4
        # matches 4 and 40-49), which matches more rows
        needle = f'"k": {k}}}' if variant == 0 else f'"k": {k // 10}'
        tail = (f"FROM {{t}} WHERE props LIKE '%{needle}%' "
                "GROUP BY event_type ORDER BY event_type")
        cols = "event_type, COUNT(*) AS n, MIN(event_id) AS e "
        return (f"SELECT {cols}" + tail.replace('{t}', "events"),
                f"SELECT {cols}" + tail.replace('{t}', EVENTS_SEG), None)
    if cls == "metadata":
        c = rng.choice(["l_orderkey", "l_partkey", "l_quantity"]
                       if table == "lineitem" else ["event_id", "ts", "user_id"])
        sql = f"SELECT COUNT(*) AS n, MIN({c}) AS lo, MAX({c}) AS hi FROM {{t}}"
        return (sql.replace('{t}', table),
                sql.replace('{t}', table if table == "lineitem" else EVENTS_SEG), None)
    if cls == "groupby_topn":
        n = rng.randint(5, 20)
        if table == "lineitem":
            key = rng.choice(["l_suppkey", "l_partkey"])
            body = (f"{key}, COUNT(*) AS n, SUM(l_quantity) AS q FROM lineitem "
                    f"GROUP BY {key} ORDER BY n DESC, q DESC, {key}")
            return f"SELECT TOP {n} {body}", f"SELECT {body} LIMIT {n}", None
        off = rng.randint(0, 20)
        body = (f"user_id, COUNT(*) AS n, SUM({DEC}) AS v FROM {{t}} "
                "GROUP BY user_id ORDER BY v DESC, user_id")
        return (f"SELECT {body.replace('{t}', 'events')} LIMIT {off}, {n}",
                f"SELECT {body.replace('{t}', EVENTS_SEG)} LIMIT {n} OFFSET {off}", None)
    raise ValueError(cls)


def olap_ops(rng, blocks, facts, first_block=0):
    ops = []
    for b in range(first_block, first_block + blocks):
        for cls, table, variant in shuffled(rng, OLAP_BLOCK):
            rql, oracle, sel = _olap_query(rng, b, cls, table, variant, facts)
            ops.append({"class": cls, "table": table, "sel": sel,
                        "rql": rql, "oracle": oracle})
    return ops


# The gate_mix list: oracled gate queries over plain parquet, none of them a
# memoized chain (Bench.coldNames) or a lazy-checkpoint query (q139, q162),
# each under about 0.5 s warm on 4 cores with its answer fetched, spread
# over the operator files and over 1 to 10 stages (comments: file, stages).
# An odd count puts the median of a round on one query's wall, not in the
# gap between two.
GATE_QUERIES = [
    "q04_sort_limit_offset",            # Relational, 1
    "q07_in_between_like",              # Relational, 3
    "q14_join_broadcast_star",          # Extended, 6
    "q106_skyline",                     # Extended, 7
    "q199_peak_hours",                  # Events, 5
    "q26_window_tumbling",              # Events, 4
    "q201_tpch6_forecast_revenue",      # Reporting, 2
    "q205_tpch13_order_distribution",   # Reporting, 6
    "q74_range_join",                   # Ranges, 6
    "q79_sample_per_group",             # Curation, 4
    "q78_quantile_filter",              # Curation, 10
    "q55_vocab_topk",                   # Text, 2
    "q216_group_centroids",             # Similarity, 4
]

# Realtime table config (the reference's realtime JSON shape, parsed by
# Realtime.ingestFromJson): events arrive under alias names, only four of
# the five event types are accepted, and a record with no metric is dropped.
RT_ALIASES = {"user_id": "uid", "event_type": "type", "value": "amount"}
RT_ACCEPT = ["click", "purchase", "signup", "view"]
RT_CONFIG = {"dims": ["user_id", "event_type"],
             "metrics": [{"name": "value", "agg": "sum"}],
             "name.alias": RT_ALIASES,
             "tag.setting": {"tag.field": "event_type", "accept.tags": RT_ACCEPT},
             "ignoreStrategy": "IGNORE_EMPTY"}
RT_TABLE_SPEC = {"name": "rt_events",
                 "columns": [{"name": "user_id", "dataType": "bigint"},
                             {"name": "event_type", "dataType": "varchar"},
                             {"name": "value", "dataType": "double"},
                             {"name": "ts", "dataType": "varchar"}],
                 "dims": ["user_id", "event_type"],
                 "metrics": [{"name": "value", "agg": "sum"}]}
# Per micro-batch: lines, of which this many are malformed and this many
# empty (no metric field).
RT_LINES, RT_MALFORMED, RT_EMPTY = 400, 8, 8
# Compaction every RT_COMPACT_EVERY batches.
RT_COMPACT_EVERY = 5
RT_READS = ["by_type", "user_range", "top_users", "point"]


def _rt_lines(rng, rows, batch):
    """One micro-batch of JSON lines: RT_LINES records in a seeded order, of
    which RT_MALFORMED are cut short and RT_EMPTY are `{}`. Returns (lines,
    accepted): the records that pass decode's tag filter."""
    kinds = (["good"] * (RT_LINES - RT_MALFORMED - RT_EMPTY) +
             ["malformed"] * RT_MALFORMED + ["empty"] * RT_EMPTY)
    rng.shuffle(kinds)
    lines, accepted = [], []
    for kind in kinds:
        uid, etype, val, ts = rows[rng.randrange(len(rows))]
        line = json.dumps({"uid": uid, "type": etype, "amount": val, "ts": ts},
                          separators=(",", ":"))
        if kind == "empty":
            line = "{}"
        elif kind == "malformed":
            line = line[: len(line) // 2]
        elif etype in RT_ACCEPT:
            accepted.append({"batch": batch, "user_id": uid,
                             "event_type": etype, "value": val})
        lines.append(line)
    return lines, accepted


def _rt_read(rng, kind, facts):
    """(rql, oracle_sql) over the realtime table view `rt_events`; the
    oracle reads `rt_src`, the accepted records of the batches so far."""
    users = facts["users"]
    if kind == "by_type":
        body = (f"event_type, SUM({DEC}) AS v, COUNT(DISTINCT user_id) AS u "
                "FROM {t} GROUP BY event_type ORDER BY event_type")
        return f"SELECT {body.replace('{t}', 'rt_events')}", f"SELECT {body.replace('{t}', 'rt_src')}"
    if kind == "user_range":
        lo = rng.randint(users[0], users[-1] - 150)
        body = (f"event_type, SUM({DEC}) AS v, MIN(user_id) AS lo "
                f"FROM {{t}} WHERE user_id BETWEEN {lo} AND {lo + 150} "
                "GROUP BY event_type ORDER BY event_type")
        return f"SELECT {body.replace('{t}', 'rt_events')}", f"SELECT {body.replace('{t}', 'rt_src')}"
    if kind == "top_users":
        n = rng.randint(5, 15)
        body = (f"user_id, SUM({DEC}) AS v FROM {{t}} GROUP BY user_id "
                "ORDER BY v DESC, user_id")
        return (f"SELECT TOP {n} {body.replace('{t}', 'rt_events')}",
                f"SELECT {body.replace('{t}', 'rt_src')} LIMIT {n}")
    u = rng.choice(users)
    body = (f"event_type, SUM({DEC}) AS v FROM {{t}} WHERE user_id = {u} "
            "GROUP BY event_type ORDER BY event_type")
    return f"SELECT {body.replace('{t}', 'rt_events')}", f"SELECT {body.replace('{t}', 'rt_src')}"


def rt_source_rows(data_dir):
    ev = pq.read_table(os.path.join(data_dir, "events.parquet"),
                       columns=["user_id", "event_type", "value", "ts"])
    ts = [t.strftime("%Y-%m-%dT%H:%M:%S.%f") for t in ev["ts"].to_pylist()]
    return list(zip(ev["user_id"].to_pylist(), ev["event_type"].to_pylist(),
                    ev["value"].to_pylist(), ts))


# The order of the timed reads: whole rotations of RT_READS, the same for
# every seed, so every run reads each kind at the same points of the stream
# (after the same batches, with the same parts not yet compacted). A seed
# that picked the order moved the median read between kinds.
_order_rng = random.Random("ingest_rollup:read_order")
RT_READ_ORDER = [k for _ in range(4) for k in shuffled(_order_rng, RT_READS)]


def rt_stream(rng, rows, batches, reads, first=0, warm=False):
    """`batches` micro-batches numbered from `first`. A warm-up batch is
    followed by one read of every kind, a timed batch by one read, its kind
    fixed by its place in the stream (RT_READ_ORDER). Only the first read
    after a batch finds new parts: later ones ran 30-40% faster, so two
    timed reads a batch put the median between two levels.
    `reads` maps each kind to its (rql, oracle_sql)."""
    out = []
    for b in range(first, first + batches):
        lines, good = _rt_lines(rng, rows, b)
        kinds = RT_READS if warm else [RT_READ_ORDER[(b - first) % len(RT_READ_ORDER)]]
        out.append({"lines": lines, "accepted": good,
                    "reads": [{"kind": kind, "rql": reads[kind][0], "oracle": reads[kind][1]}
                              for kind in kinds]})
    return out


# Fixed amounts of timed work per run, scaled by --seconds and never by
# engine speed, so a run's mix never depends on where a deadline falls:
# olap_pruned runs whole blocks in multiples of 4 (the key-range rotation,
# so every selectivity of both tables runs equally often), gate_mix whole
# rounds (every query equally often), ingest_rollup a stream whose every
# commit compacts the same parts.
OLAP_WARMUP_BLOCKS, OLAP_SECONDS_PER_4_BLOCKS = 2, 4.0
GATE_WARMUP_ROUNDS, GATE_SECONDS_PER_ROUND = 2, 2.0
RT_WARMUP_BATCHES, RT_BATCHES_PER_S = 5, 2.5
# A traced run runs at least this many timed units, so its traced and
# untraced halves (see Main.scala) cover the same mix.
TRACED_MIN_UNITS = {"olap_pruned": 8, "gate_mix": 4, "ingest_rollup": 0}


def olap_timed_blocks(seconds):
    return 4 * max(1, int(round(seconds / OLAP_SECONDS_PER_4_BLOCKS)))


def gate_timed_rounds(seconds):
    return max(1, int(round(seconds / GATE_SECONDS_PER_ROUND)))


def rt_timed_batches(seconds):
    return max(RT_COMPACT_EVERY, int(round(seconds * RT_BATCHES_PER_S)))


def plan(workload, seed, facts, rt_rows=None, seconds=10):
    """Everything the client sends in one run, from its seed."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "olap_pruned":
        timed = olap_timed_blocks(seconds)
        return {"workload": workload, "timed_blocks": timed,
                "warmup": olap_ops(rng, OLAP_WARMUP_BLOCKS, facts),
                "timed": olap_ops(rng, max(timed, TRACED_MIN_UNITS[workload]), facts,
                                  first_block=OLAP_WARMUP_BLOCKS)}
    if workload == "gate_mix":
        timed = gate_timed_rounds(seconds)
        rounds = [shuffled(rng, GATE_QUERIES) for _ in range(
            GATE_WARMUP_ROUNDS + max(timed, TRACED_MIN_UNITS["gate_mix"]))]
        return {"workload": workload, "timed_rounds": timed,
                "warmup": rounds[:GATE_WARMUP_ROUNDS],
                "timed": rounds[GATE_WARMUP_ROUNDS:]}
    if workload == "ingest_rollup":
        # a dashboard: the same four reads, literals drawn once per run,
        # after every batch as the table grows
        reads = {kind: _rt_read(rng, kind, facts) for kind in RT_READS}
        return {"workload": workload,
                "rt_config": RT_CONFIG, "rt_table_spec": RT_TABLE_SPEC,
                "compact_every": RT_COMPACT_EVERY,
                "warmup": rt_stream(rng, rt_rows, RT_WARMUP_BATCHES, reads, warm=True),
                "timed": rt_stream(rng, rt_rows, rt_timed_batches(seconds), reads,
                                   first=RT_WARMUP_BATCHES)}
    raise ValueError(f"unknown workload {workload}")
