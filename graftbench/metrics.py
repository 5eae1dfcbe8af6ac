"""Metrics of one run, from the harness's out.json.

End-to-end metrics come from untraced runs, per-layer metrics from traced
runs (README.md has the table of which layer each one measures). Every
workload reports every metric; a layer a workload does not use reads 0.
"""
import os
import statistics

import pyarrow.parquet as pq

import gen

# name -> unit; BENCHMARK.json lists the same names (selftest.py checks)
END_TO_END = {
    "setup_s": "s", "query_p50_ms": "ms", "query_p90_ms": "ms",
    "queries_per_s": "1/s", "success_frac": "frac",
    "stored_bytes_ratio": "ratio", "ingest_rows_per_s": "1/s",
    "batch_p50_ms": "ms", "batch_p90_ms": "ms"}

_CLASSES = gen.OLAP_CLASSES
PER_LAYER = {
    "sql.translate_us": "us",
    "plans.analyze_ms": "ms", "plans.optimize_ms": "ms", "plans.plan_ms": "ms",
    **{f"plans.{m}.{c}": u for c in _CLASSES
       for m, u in [("files_listed", "count"), ("files_kept", "count"),
                    ("kept_frac", "frac")]},
    **{f"plans.kept_frac.key_range.sel_{s}": "frac" for s in gen.SELECTIVITIES},
    "plans.metadata_answered_frac": "frac",
    "storage.write_s.lineitem": "s", "storage.write_s.events": "s",
    "storage.bytes_read_per_query": "bytes",
    "storage.rows_scanned_per_row_returned": "ratio",
    "operators.build_ms": "ms", "operators.run_ms": "ms",
    "exec.jobs_per_query": "count", "exec.stages_per_query": "count",
    "exec.tasks_per_query": "count", "exec.shuffle_bytes_per_query": "bytes",
    "exec.spill_bytes": "bytes", "exec.task_busy_frac": "frac",
    "exec.codegen_compiles_per_query": "count",
    "exec.codegen_compile_ms_per_query": "ms",
    "streaming.decode_kept_frac": "frac", "streaming.rollup_ratio": "ratio",
    "streaming.compact_ms": "ms", "streaming.compact_parts_read": "count",
    "streaming.compact_bytes_written": "bytes",
    "jvm.peak_rss_mb": "MB", "jvm.gc_ms": "ms", "jvm.jit_ms": "ms",
    "trace.overhead_pct": "pct",
}


def pct(xs, p):
    """Linear-interpolated percentile, p in [0, 1]."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def _ratio(a, b):
    return a / b if b else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _source_rows(data_dir, table):
    return pq.ParquetFile(os.path.join(data_dir, f"{table}.parquet")).metadata.num_rows


def setup_s(out):
    return out["session_s"] + sum(out["load_s"]) + out["warmup_s"]


def end_to_end(workload, out, data_dir):
    timed = [o for o in out["ops"] if o["timed"]]
    queries = [o for o in timed if o["kind"] == "query"]
    walls = [o["wall_ms"] for o in queries]
    m = {"setup_s": setup_s(out),
         "query_p50_ms": pct(walls, 0.5), "query_p90_ms": pct(walls, 0.9),
         "queries_per_s": len(queries) / out["window_s"],
         "success_frac": sum(1 for o in timed if o["ok"]) / len(timed)}
    if workload == "ingest_rollup":
        batches = [o for o in timed if o["kind"] == "batch"]
        compacts = [o for o in timed if o["kind"] == "compact"]
        ingest_ms = sum(o["wall_ms"] for o in batches + compacts)
        last = [o for o in out["ops"] if o["kind"] == "compact" and "bytes_written" in o][-1]
        m.update(stored_bytes_ratio=last["bytes_written"] / last["input_bytes"],
                 ingest_rows_per_s=sum(o["lines"] for o in batches) / ingest_ms * 1000,
                 batch_p50_ms=pct([o["wall_ms"] for o in batches], 0.5),
                 batch_p90_ms=pct([o["wall_ms"] for o in batches], 0.9))
    else:
        # the set-up's load is this workload's ingest, and each load of all
        # its tables one "batch"
        loads = out["loads"]
        rows = sum(_source_rows(data_dir, r["table"]) for r in loads)
        load_ms = [s * 1000 for s in out["load_s"]]
        m.update(stored_bytes_ratio=sum(r["bytes"] for r in loads) /
                 sum(r["source_bytes"] for r in loads),
                 ingest_rows_per_s=rows / statistics.median(out["load_s"]),
                 batch_p50_ms=pct(load_ms, 0.5), batch_p90_ms=pct(load_ms, 0.9))
    return {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}


def overhead_pct(timed):
    """Traced against untraced ops of the same run: per query class (or
    gate query), the ratio of the medians of traced and untraced walls;
    the median of those ratios, as a percentage."""
    by = {}
    for o in timed:
        if o["kind"] == "query" and o["ok"]:
            by.setdefault(o["class"], {True: [], False: []})[o["traced"]].append(o["wall_ms"])
    ratios = [statistics.median(v[True]) / statistics.median(v[False])
              for v in by.values() if v[True] and v[False]]
    return (statistics.median(ratios) - 1) * 100 if ratios else 0.0


def per_layer(workload, out):
    timed = [o for o in out["ops"] if o["timed"]]
    tq = [o for o in timed if o["kind"] == "query" and o["traced"] and "layers" in o]

    def lay(o, k):
        return o["layers"].get(k, 0.0)

    def mean_of(k):
        return _mean([lay(o, k) for o in tq])

    m = dict.fromkeys(PER_LAYER, 0.0)
    tr = [o["translate_us"] for o in tq if "translate_us" in o]
    m["sql.translate_us"] = statistics.median(tr) if tr else 0.0
    m["plans.analyze_ms"] = mean_of("analysis_ms")
    m["plans.optimize_ms"] = mean_of("optimization_ms")
    m["plans.plan_ms"] = mean_of("planning_ms")
    if workload == "olap_pruned":
        listed = out["files_listed"]
        for c in _CLASSES:
            ops = [o for o in tq if o["class"] == c]
            lst = [listed[o["table"]] for o in ops]
            kept = [lay(o, "files_read") for o in ops]
            m[f"plans.files_listed.{c}"] = _mean(lst)
            m[f"plans.files_kept.{c}"] = _mean(kept)
            m[f"plans.kept_frac.{c}"] = _ratio(sum(kept), sum(lst))
        for s in gen.SELECTIVITIES:
            ops = [o for o in tq if o["class"] == "key_range" and o["sel"] == s]
            m[f"plans.kept_frac.key_range.sel_{s}"] = _ratio(
                sum(lay(o, "files_read") for o in ops), sum(listed[o["table"]] for o in ops))
        meta = [o for o in tq if o["class"] == "metadata"]
        m["plans.metadata_answered_frac"] = _ratio(
            sum(1 for o in meta if lay(o, "file_scans") == 0), len(meta))
        for t in ("lineitem", "events"):
            m[f"storage.write_s.{t}"] = next(
                r["wall_ms"] / 1000 for r in out["loads"] if r["table"] == t)
    m["storage.bytes_read_per_query"] = mean_of("bytes_read")
    m["storage.rows_scanned_per_row_returned"] = _ratio(
        sum(lay(o, "rows_scanned") for o in tq), sum(o.get("rows", 0) for o in tq))
    if workload == "gate_mix":
        m["operators.build_ms"] = _mean([o["build_ms"] for o in tq])
        m["operators.run_ms"] = _mean([o["run_ms"] for o in tq])
    m["exec.jobs_per_query"] = mean_of("jobs")
    m["exec.stages_per_query"] = mean_of("stages")
    m["exec.tasks_per_query"] = mean_of("tasks")
    m["exec.shuffle_bytes_per_query"] = mean_of("shuffle_bytes")
    m["exec.spill_bytes"] = sum(lay(o, "spill_bytes") for o in tq)
    m["exec.task_busy_frac"] = _ratio(sum(lay(o, "task_ms") for o in tq),
                                      sum(o["wall_ms"] for o in tq) * out["env"]["spark_cores"])
    m["exec.codegen_compiles_per_query"] = mean_of("codegen_compiles")
    m["exec.codegen_compile_ms_per_query"] = mean_of("codegen_compile_ms")
    if workload == "ingest_rollup":
        tb = [o for o in timed if o["kind"] == "batch" and "consumed" in o]
        m["streaming.decode_kept_frac"] = _ratio(sum(o["produced"] for o in tb),
                                                 sum(o["consumed"] for o in tb))
        m["streaming.rollup_ratio"] = _ratio(sum(o["rolled_rows"] for o in tb),
                                             sum(o["produced"] for o in tb))
        comp = [o for o in timed if o["kind"] == "compact" and o["ok"]]
        if comp:
            m["streaming.compact_ms"] = statistics.median(o["wall_ms"] for o in comp)
            m["streaming.compact_parts_read"] = _mean([o["parts_read"] for o in comp])
            m["streaming.compact_bytes_written"] = _mean([o["bytes_written"] for o in comp])
    m["jvm.peak_rss_mb"] = out["jvm"]["peak_rss_mb"]
    m["jvm.gc_ms"] = out["jvm"]["gc_ms"]
    m["jvm.jit_ms"] = out["jvm"]["jit_ms"]
    m["trace.overhead_pct"] = overhead_pct(timed)
    return {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}
