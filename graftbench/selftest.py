#!/usr/bin/env python3
"""The benchmark's self-tests. Run from the root of a graft checkout.

    python3 graftbench/selftest.py            # seeds, checker, BENCHMARK.json (seconds)
    python3 graftbench/selftest.py --checker  # also one altered run per workload (minutes)

* Seed invariance: one seed gives byte-identical inputs; two seeds give
  gate_mix the same query list (none of them a memoized chain from
  Bench.coldNames), olap_pruned the same mix of classes, tables and
  selectivities, and ingest_rollup the same counts of lines, malformed and
  empty records and the same read kinds in the same order.
* Checker: equal answers pass and altered ones fail in check.same_result;
  with --checker, each workload runs once with one captured answer altered,
  and its success_frac must drop below 1.0.
* BENCHMARK.json names exactly the metrics run.py reports.
"""
import argparse
import collections
import decimal
import json
import os
import re
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402


def fake_facts():
    return {"orderkeys": list(range(0, 150_000, 3)), "ts_lo": 1_704_067_200_000_000_000,
            "ts_hi": 1_706_659_200_000_000_000, "users": list(range(1500))}


def fake_rows():
    return [(u % 1500, ["click", "error", "purchase", "signup", "view"][u % 5],
             round(u * 0.37 % 500, 2), f"2024-01-01T00:00:{u % 60:02d}.000000")
            for u in range(5000)]


def cold_names():
    src = open(os.path.join("src", "main", "scala", "graft", "Bench.scala")).read()
    body = re.search(r"val coldNames: Seq\[String\] = Seq\((.*?)\)", src, re.S).group(1)
    return set(re.findall(r'"([^"]+)"', body))


def line_kinds(lines):
    c = collections.Counter()
    for ln in lines:
        if ln == "{}":
            c["empty"] += 1
        else:
            try:
                json.loads(ln)
                c["good"] += 1
            except ValueError:
                c["malformed"] += 1
    return c


def test_seed_invariance():
    facts, rows = fake_facts(), fake_rows()
    for w in ["olap_pruned", "gate_mix", "ingest_rollup"]:
        a = json.dumps(gen.plan(w, 7, facts, rows), sort_keys=True)
        b = json.dumps(gen.plan(w, 7, facts, rows), sort_keys=True)
        assert a == b, f"{w}: seed 7 gave different inputs twice"
        assert a != json.dumps(gen.plan(w, 8, facts, rows), sort_keys=True), \
            f"{w}: seeds 7 and 8 gave identical inputs"

    p1, p2 = gen.plan("gate_mix", 1, facts), gen.plan("gate_mix", 2, facts)
    for p in (p1, p2):
        for rnd in p["warmup"] + p["timed"]:
            assert sorted(rnd) == sorted(gen.GATE_QUERIES), "a round is not the fixed list"
    assert p1["timed"] != p2["timed"], "gate_mix seeds should order rounds differently"
    bad = set(gen.GATE_QUERIES) & (cold_names() | {"q139_recall_at_k", "q162_mrr"})
    assert not bad, f"gate_mix runs memoized or lazy-checkpoint queries: {sorted(bad)}"

    def mix(p):
        return collections.Counter((o["class"], o["table"], o["sel"])
                                   for o in p["warmup"] + p["timed"])
    o1, o2 = gen.plan("olap_pruned", 1, facts), gen.plan("olap_pruned", 2, facts)
    assert mix(o1) == mix(o2), "olap_pruned mixes differ between seeds"
    for k in range(0, len(o1["timed"]), len(gen.OLAP_BLOCK)):
        block = collections.Counter(o["class"] for o in o1["timed"][k:k + len(gen.OLAP_BLOCK)])
        assert set(block.values()) == {2}, "a block does not hold every class twice"

    i1, i2 = gen.plan("ingest_rollup", 1, facts, rows), gen.plan("ingest_rollup", 2, facts, rows)
    k1 = [line_kinds(s["lines"]) for s in i1["warmup"] + i1["timed"]]
    k2 = [line_kinds(s["lines"]) for s in i2["warmup"] + i2["timed"]]
    assert k1 == k2, "ingest_rollup line counts differ between seeds"
    r1 = [[r["kind"] for r in s["reads"]] for s in i1["warmup"] + i1["timed"]]
    r2 = [[r["kind"] for r in s["reads"]] for s in i2["warmup"] + i2["timed"]]
    assert r1 == r2, "ingest_rollup read kinds or their order differ between seeds"
    assert all(sorted(r) == sorted(gen.RT_READS) for r in r1[:gen.RT_WARMUP_BATCHES])
    assert all(k == {"good": gen.RT_LINES - gen.RT_MALFORMED - gen.RT_EMPTY,
                     "malformed": gen.RT_MALFORMED, "empty": gen.RT_EMPTY} for k in k1)
    print("seed invariance: ok")


def test_checker_unit():
    cols = ["a", "b"]
    rows = [[1, "#d:2.500000"], [None, "#f:NaN"]]
    duck = [(1, decimal.Decimal("2.5")), (None, float("nan"))]
    assert check.same_result(cols, rows, ["b", "a"], [(r[1], r[0]) for r in duck]) is None
    assert check.same_result(cols, list(reversed(rows)), cols, duck) is None
    for altered in ([[2, "#d:2.500000"], [None, "#f:NaN"]],
                    [[1, "#d:2.500001"], [None, "#f:NaN"]],
                    [[1, "#d:2.500000"]]):
        assert check.same_result(cols, altered, cols, duck) is not None, altered
    ts = [["#t:1704067200000000", "#D:19723"]]
    import datetime as dt
    assert check.same_result(["t", "d"], ts, ["t", "d"],
                             [(dt.datetime(2024, 1, 1), dt.date(2024, 1, 1))]) is None
    cap = {"cols": cols, "rows": [list(r) for r in rows]}
    check.alter(cap)
    assert check.same_result(cols, cap["rows"], cols, duck) is not None
    print("checker (unit): ok")


def test_benchmark_json():
    with open("BENCHMARK.json") as f:
        b = json.load(f)
    e2e = {m["name"]: m["unit"] for m in b["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in b["per_layer"]}
    assert e2e == metrics.END_TO_END, "BENCHMARK.json end_to_end differs from metrics.py"
    assert layers == metrics.PER_LAYER, "BENCHMARK.json per_layer differs from metrics.py"
    assert [w["name"] for w in b["workloads"]] == ["olap_pruned", "gate_mix", "ingest_rollup"]
    print("BENCHMARK.json: ok")


def test_checker_runs():
    """One short run per workload with one captured answer altered."""
    for w in ["olap_pruned", "gate_mix", "ingest_rollup"]:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", "1", "--seconds", "2", "--trace", "0",
                            "--alter-result"], capture_output=True, text=True)
        assert p.returncode == 0, f"{w}: run failed\n{p.stderr[-2000:]}"
        r = json.loads(p.stdout.strip().splitlines()[-1])
        frac = r["metrics"]["success_frac"]["value"]
        assert r["correct"] is False and frac < 1.0, f"{w}: altered answer not caught: {r}"
        print(f"checker ({w}, one answer altered): success_frac {frac:.3f} < 1: ok")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--checker", action="store_true",
                    help="also run each workload once with an altered answer")
    a = ap.parse_args()
    test_seed_invariance()
    test_checker_unit()
    test_benchmark_json()
    if a.checker:
        test_checker_runs()
    print("all self-tests passed")


if __name__ == "__main__":
    main()
