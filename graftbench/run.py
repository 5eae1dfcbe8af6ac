#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 graftbench/run.py --workload olap_pruned --seed 1 --seconds 10 --trace 0

Run it from the root of a graft checkout. The first run builds graft and the
harness with sbt (graftbench/harness) and writes the synthetic tables; both
are cached under .bench_build/graftbench and rebuilt when their sources
change. Each run then starts one Spark JVM, sets up, warms up, runs the
timed window as a closed-loop client, checks every captured answer against
DuckDB, and prints one JSON line: end-to-end metrics with --trace 0, the
per-layer metrics of graftbench/README.md with --trace 1.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import pyarrow as pa  # noqa: E402

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["olap_pruned", "gate_mix", "ingest_rollup"]
STATE = os.path.join(".bench_build", "graftbench")
HEAP = "3g"
# Spark task threads. Two leave the JIT and GC threads, busy through the
# window, cores of their own on a 4-core host; the gate queries are not
# core-bound (local[2] and local[4] give similar walls).
SPARK_CORES = 2
# Spark's cache of compiled generated classes, sized to hold every
# workload's classes. At Spark's default (100) the gate_mix list evicts its
# own classes, so every execution compiles and loads fresh ones, which the
# JIT then warms from scratch: that took a third of a gate query's wall, and
# a run's median query moved 16-21% from run to run.
CODEGEN_CACHE = 1000
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


class Locked:
    """An exclusive file lock, so concurrent first runs build only once."""

    def __init__(self, path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self.f = open(path, "w")

    def __enter__(self):
        fcntl.flock(self.f, fcntl.LOCK_EX)

    def __exit__(self, *a):
        fcntl.flock(self.f, fcntl.LOCK_UN)
        self.f.close()


def source_stamp():
    """Digest of every file the build reads: graft's build and main sources
    and the harness's."""
    h = hashlib.sha1()
    files = ["build.sbt"] + sorted(glob.glob("project/*.sbt")) + \
        sorted(glob.glob("project/*.properties"))
    for top in ["src/main", os.path.join(HERE, "harness")]:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    files += sorted(glob.glob(os.path.join(HERE, "harness", "project", "*.properties")))
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha1(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles graft and the harness once per source state; returns the
    runtime classpath."""
    out = os.path.join(STATE, "build")
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "stamp")
    stamp = source_stamp()
    with Locked(os.path.join(STATE, "build.lock")):
        if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
        log("building graft and the harness with sbt (first run only)")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, "build.log"), "w") as lf:
            p = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
                           "export Runtime/fullClasspath"],
                          cwd=os.path.join(HERE, "harness"), stdout=lf,
                          timeout=BUILD_TIMEOUT_S, env=offline_env())
        lines = open(os.path.join(out, "build.log")).read().splitlines()
        if p != 0 or not lines:
            die(f"build failed (see {out}/build.log)")
        cp = lines[-1].strip()
        if "graftbench" not in cp or ":" not in cp:
            die(f"no classpath in the build output (see {out}/build.log)")
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


def offline_env():
    """The build resolves from local caches only, as graft's own test build
    does: the settings below apply unless the environment sets its own."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx4g")
    return env


def ensure_data():
    d = os.path.join(STATE, "data", gen.DATA_VERSION)
    with Locked(os.path.join(STATE, "data.lock")):
        if not os.path.exists(os.path.join(d, "DONE")):
            log("writing the sf0.1 tables (first run only)")
            tmp = d + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            gen.make_tables(tmp)
            gen.write_facts(tmp)
            open(os.path.join(tmp, "DONE"), "w").close()
            shutil.rmtree(d, ignore_errors=True)
            os.rename(tmp, d)
    return os.path.abspath(d)


_children = []


def run_child(cmd, timeout, **kw):
    """Runs a child process to its end. A timeout, or a SIGTERM to this
    process, kills its whole process group and waits for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} exceeded {timeout}s; stopping it")
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        _children.remove(p)


def _on_term(signum, frame):
    for p in list(_children):
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


class CpuSampler(threading.Thread):
    """Samples /proc/stat and the load average during the JVM run, for the
    environment record (CPU steal share over the timed window)."""

    def __init__(self):
        super().__init__(daemon=True)
        self.samples, self.stop_evt = [], threading.Event()

    @staticmethod
    def read():
        try:
            with open("/proc/stat") as f:
                v = [int(x) for x in f.readline().split()[1:]]
            return v
        except OSError:
            return None

    def run(self):
        while not self.stop_evt.is_set():
            self.samples.append((time.time(), self.read()))
            self.stop_evt.wait(0.25)

    def stop(self):
        self.stop_evt.set()
        self.join()
        self.samples.append((time.time(), self.read()))

    def steal_share(self, t0, t1):
        """Share of CPU time stolen by the hypervisor between t0 and t1."""
        inside = [v for t, v in self.samples if v and t0 <= t <= t1]
        if len(inside) < 2:
            return None
        a, b = inside[0], inside[-1]
        total = sum(b[:8]) - sum(a[:8])
        return (b[7] - a[7]) / total if total > 0 and len(a) > 7 else None


def commit_id():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    signal.signal(signal.SIGTERM, _on_term)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--alter-result", action="store_true",
                    help="alter one captured answer before the check "
                         "(the checker self-test: success_frac must drop)")
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (work tables, logs)")
    a = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")
            and os.path.isfile(os.path.join(HERE, "harness", "build.sbt"))):
        die("graft sources not found: run from the root of a graft checkout")
    cp = build()
    data_dir = ensure_data()
    t_start = time.time()
    run_dir = os.path.abspath(os.path.join(
        STATE, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result, env = one_run(a, cp, data_dir, run_dir, t_start)
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)
    env_path = os.path.join(STATE, "env", f"{a.workload}-s{a.seed}-t{a.trace}.json")
    os.makedirs(os.path.dirname(env_path), exist_ok=True)
    with open(env_path, "w") as f:
        json.dump({"result": result, "env": env}, f, indent=1)
    print(json.dumps(result))


def one_run(a, cp, data_dir, run_dir, t_start):
    facts, rows = gen.load_facts(data_dir)
    p = gen.plan(a.workload, a.seed, facts, rows, seconds=a.seconds)
    cores = min(os.cpu_count() or 1, SPARK_CORES)
    if a.workload == "ingest_rollup":
        # batches land as files; the plan keeps only what the JVM needs
        os.makedirs(os.path.join(run_dir, "batches"))
        for b, s in enumerate(p["warmup"] + p["timed"]):
            with open(os.path.join(run_dir, "batches", f"b{b:05d}.jsonl"), "w") as f:
                f.write("\n".join(s["lines"]) + "\n")
        def reads(stream):
            return [{"reads": [{"kind": r["kind"], "rql": r["rql"]} for r in s["reads"]]}
                    for s in stream]
        jplan = dict(p, warmup=reads(p["warmup"]), timed=reads(p["timed"]),
                     rt_config=json.dumps(p["rt_config"]),
                     rt_table_spec=json.dumps(p["rt_table_spec"]))
    else:
        jplan = dict(p)
    jplan.update(trace=bool(a.trace), data_dir=data_dir,
                 work_dir=os.path.join(run_dir, "work"), cores=cores,
                 block_size=len(gen.OLAP_BLOCK))
    with open(os.path.join(run_dir, "plan.json"), "w") as f:
        json.dump(jplan, f)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData"] + \
        [x for o in JDK17_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")] + \
        ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
         f"-Dspark.sql.codegen.cache.maxEntries={CODEGEN_CACHE}",
         f"-Djava.io.tmpdir={run_dir}/tmp",
         f"-Dspark.local.dir={run_dir}/spark-local",
         f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
         f"-Dderby.system.home={run_dir}",
         f"-Dhadoop.tmp.dir={run_dir}/tmp",
         "-cp", cp, "graftbench.Main", run_dir]
    os.makedirs(os.path.join(run_dir, "tmp"))
    sampler = CpuSampler()
    load0 = os.getloadavg()
    sampler.start()
    with open(os.path.join(run_dir, "jvm.log"), "w") as lf:
        rc = run_child(cmd, timeout=JVM_TIMEOUT_S, stdout=lf, stderr=subprocess.STDOUT)
    sampler.stop()
    out_path = os.path.join(run_dir, "out.json")
    if rc != 0 or not os.path.exists(out_path):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        die(f"benchmark JVM failed with code {rc}:\n{tail}", code=3)
    with open(out_path) as f:
        out = json.load(f)

    oracle = check.Oracle(data_dir, gen.TABLES,
                          cache_dir=os.path.join(STATE, "oracle"),
                          data_version=gen.DATA_VERSION)
    expected = expectations(a.workload, p, out, oracle)
    captures = check.read_captures(os.path.join(run_dir, "results.jsonl"))
    if a.alter_result:
        first = next(op for op in out["ops"] if op["timed"] and op["kind"] == "query")
        check.alter(captures[first["capture"]])
    failures = check.judge(out["ops"], captures, expected)
    for op, why in failures[:5]:
        log(f"FAILED op {op['i']} ({op.get('class', op['kind'])}): {why}")

    w0, w1 = out["window_start_ms"] / 1000, out["window_end_ms"] / 1000
    env = {"nproc": os.cpu_count(), "spark_cores": cores, "heap": HEAP,
           "jvm": out["env"], "commit": commit_id(), "source_stamp": source_stamp(),
           "loadavg_start": load0, "loadavg_end": os.getloadavg(),
           "cpu_steal_share": sampler.steal_share(w0, w1),
           "seed": a.seed, "trace": a.trace, "wall_s": time.time() - t_start}
    timed = [op for op in out["ops"] if op.get("timed")]
    result = {"correct": not failures,
              "attempted": len(timed),
              "failed": sum(1 for op in timed if not op["ok"]),
              "metrics": (metrics.per_layer(a.workload, out) if a.trace
                          else metrics.end_to_end(a.workload, out, data_dir))}
    return result, env


def expectations(workload, p, out, oracle):
    if workload == "olap_pruned":
        sqls = {i: o["oracle"] for i, o in enumerate(p["warmup"] + p["timed"])}
        return lambda op: oracle.answer(sqls[op["plan_index"]])
    if workload == "gate_mix":
        return lambda op: oracle.answer(out["oracles"][op["class"]], cache=True)
    # ingest_rollup: the accepted records of every batch up to the read's
    stream = p["warmup"] + p["timed"]
    con = oracle.con
    recs = [r for s in stream for r in s["accepted"]]
    con.register("rt_arrow", pa.table({
        "batch": pa.array([r["batch"] for r in recs], pa.int32()),
        "user_id": pa.array([r["user_id"] for r in recs], pa.int64()),
        "event_type": pa.array([r["event_type"] for r in recs], pa.string()),
        "value": pa.array([r["value"] for r in recs], pa.float64())}))
    con.execute("CREATE TABLE rt_all AS SELECT * FROM rt_arrow")

    def answer(op):
        b = op["batch"]
        con.execute(f"CREATE OR REPLACE VIEW rt_src AS SELECT * FROM rt_all WHERE batch <= {b}")
        return oracle.answer(stream[b]["reads"][op["read"]]["oracle"])
    return answer


if __name__ == "__main__":
    main()
