#!/usr/bin/env python3
"""graft benchmark: one workload in one long-lived Spark driver.

    python3 perfbench/run.py --workload refresh_cycle --seed 1 --seconds 40 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark program from source (sbt, offline) into perfbench/target and
caches the classpath under .bench_build/; later runs reuse it until a
source file changes. Inputs are generated from --seed (perfbench/gen.py).
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("refresh_cycle", "query_mix")

# end-to-end metrics: name -> unit (every one is printed on every workload)
END_TO_END = {
    "setup_s": "s",
    "build_cold_s": "s",
    "build_s": "s",
    "cycle_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "live_heap_mb": "MB",
}

OPS = ("SnapshotDiff", "Cdc", "Pipeline", "DbExport", "MasterUpsert",
       "AnnIndex", "InvertedIndex", "Dedup")
PER_LAYER = dict(
    [("queries.construct_ms", "ms"), ("queries.plan_ms", "ms"),
     ("queries.exec_ms", "ms"), ("queries.jobs", "count"),
     ("queries.stages", "count"), ("queries.sched_delay_ms", "ms"),
     ("queries.driver_gap_ms", "ms"), ("queries.task_cpu_ms", "ms"),
     ("queries.task_run_ms", "ms"), ("queries.shuffle_mb", "MB"),
     ("queries.samples", "count"), ("queries.tail_pct", "%"),
     ("text.pages_per_s", "1/s"),
     ("enrich.embed_calls", "count"), ("enrich.texts_per_embed_call", "count"),
     ("enrich.embed_ms", "ms"), ("enrich.summary_calls", "count")]
    + [(f"ops.{op}.{m}", u) for op in OPS for m, u in
       (("wall_ms", "ms"), ("jobs", "count"), ("task_cpu_ms", "ms"),
        ("shuffle_mb", "MB"), ("spill_mb", "MB"))]
    + [("ops.DbExport.rows_rewritten_per_changed", "count"),
       ("ops.AnnIndex.files_written", "count"),
       ("ops.Dedup.components_jobs", "count"),
       ("ops.Checkpoints.storage_mb", "MB"),
       ("ops.Checkpoints.cached_rdds", "count"),
       ("Tables.scan_ms", "ms"), ("Tables.input_mb", "MB"),
       ("sources.bytes_written", "bytes"), ("sources.write_amp", "ratio"),
       ("spark.driver_gap_ms", "ms"),
       ("jvm.gc_ms", "ms"), ("jvm.jit_ms", "ms"),
       ("trace.overhead_pct", "%")])

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
JVM_HEAP = "2g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tail(samples, beyond=10):
    """The highest percentile of TAIL_LADDER with at least `beyond`
    samples above its nearest-rank value: (percentile, value, n), or
    None when there are too few samples for any of them."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_LADDER:
        k = max(1, math.ceil(p / 100.0 * n))
        if n - k >= beyond:
            return p, xs[k - 1], n
    return None


# ---- build ----------------------------------------------------------------

def source_stamp(root):
    """Hash of every input of the build: engine and benchmark sources and
    the benchmark's build definition."""
    h = hashlib.sha256()
    paths = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, fs in os.walk(top):
            dirs.sort()
            paths += [os.path.join(d, f) for f in sorted(fs)]
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, state):
    """Compile engine + benchmark; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) "
                         "not found; run from the repository root")
    stamp = source_stamp(root)
    cp_file = os.path.join(state, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    log("building engine and benchmark program (sbt, offline)")
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    # keep the build JVM's temporary files inside the checkout
    env["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp} "
                                "-XX:-UsePerfData")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = p.stdout.splitlines()
    cps = [ln for ln in lines if "scala-2.13" in ln and ln.count(":") > 2
           and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1].strip())
    return cps[-1].strip()


# ---- one JVM run ------------------------------------------------------------

def run_jvm(cp, workload, data, work, trace, seed, deadline):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", workload, data, work, str(trace),
            str(seed), result]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("benchmark JVM ran past the time limit")
    if proc.returncode != 0 or not os.path.exists(result):
        raise RuntimeError(f"benchmark JVM exited with {proc.returncode}; "
                           f"see {work}/jvm.log")
    with open(result) as f:
        return json.load(f)


# Oracles too slow to replay over every document, checked on a seeded
# sample instead: query -> (document key column in its output, modulus).
# q_pipe_chunks' oracle replays the chunker in a recursive CTE at ~25 ms
# per document; its rows depend on their own document only.
SAMPLED_ORACLES = {"q_pipe_chunks": ("chapter_number", 8)}


def oracle_checks(data, work, seed, out):
    """query_mix: each first-pass result against the engine's DuckDB
    oracle SQL over the same generated tables (column-name sort, exact
    value compare, as the engine's verification gate does)."""
    import duckdb
    con = duckdb.connect()
    tables = data
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables}/{t}.parquet')")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)

    def canon(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return v.hex() if isinstance(v, bytes) else str(v)

    def rows(rel):
        cols = list(rel.columns)
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return ([cols[i] for i in order],
                sorted(tuple(canon(r[i]) for i in order) for r in rel.fetchall()))

    results = os.path.join(work, "results")
    for name in sorted(os.listdir(results)):
        out["attempted"] += 1
        try:
            spark_sql = f"SELECT * FROM read_parquet('{results}/{name}/*.parquet')"
            oracle_sql = oracle.get(name)
            if name in SAMPLED_ORACLES:
                key, mod = SAMPLED_ORACLES[name]
                spark_sql += f" WHERE {key} % {mod} = {seed % mod}"
                con.execute("CREATE OR REPLACE TEMP VIEW documents AS SELECT * "
                            f"FROM read_parquet('{tables}/documents.parquet') "
                            f"WHERE doc_id % {mod} = {seed % mod}")
            s_cols, s_rows = rows(con.sql(spark_sql))
            if oracle_sql:
                o_cols, o_rows = rows(con.sql(oracle_sql))
                ok = s_cols == o_cols and s_rows == o_rows and len(s_rows) > 0
            else:
                ok = len(s_rows) > 0
        except Exception as e:  # a failed compare is a failed check
            ok = False
            name = f"{name}: {e}"
        finally:
            con.execute("DROP VIEW IF EXISTS temp.documents")
        if not ok:
            out["failures"].append(f"oracle mismatch: {name}")


def measure(cp, workload, seed, trace, state, deadline):
    data = os.path.join(state, "data", workload)
    work = os.path.join(state, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = {"attempted": 0, "failures": []}
    # set-up: input generation three times (median time), each copy
    # checked byte-identical to the first
    gen_s, digests = [], []
    for i in range(3):
        dest = data if i == 0 else os.path.join(state, "data", "regen")
        t0 = time.time()
        sizes = gen.generate(workload, seed, dest)
        gen_s.append(time.time() - t0)
        digests.append(gen.digest(dest))
    shutil.rmtree(os.path.join(state, "data", "regen"), ignore_errors=True)
    out["attempted"] += 1
    if len(set(digests)) != 1:
        out["failures"].append("generator is not deterministic")
    print(f"inputs: {json.dumps(sizes)}", flush=True)

    r = run_jvm(cp, workload, data, work, trace, seed, deadline)
    out["attempted"] += r["attempted"]
    out["failures"] += r["failures"]
    if workload == "query_mix":
        oracle_checks(data, work, seed, out)
    s = r["samples"]
    med = {k: statistics.median(v) if v and min(v) >= 0 else None
           for k, v in s.items()}
    q = s.get("query_s", [])
    t = tail(q)
    metrics = {
        "setup_s": statistics.median(gen_s) + med["setup_jvm_s"]
        if med.get("setup_jvm_s") is not None else None,
        "build_cold_s": med.get("build_cold_s"),
        "build_s": med.get("build_s"),
        "cycle_s": med.get("cycle_s"),
        "query_p50_s": statistics.median(q) if q else None,
        "query_tail_s": t[1] if t else None,
        "live_heap_mb": med.get("live_heap_mb"),
    }
    for k, v in metrics.items():
        if v is None:
            out["attempted"] += 1
            out["failures"].append(f"no valid sample for {k}")
    layers = dict(r["layers"])
    layers["queries.samples"] = len(q)
    layers["queries.tail_pct"] = t[0] if t else 0.0
    return metrics, layers, out, r["table"], t


def render(report, attempted, failures):
    """Output lines: every metric by name, value and unit, each failed
    check, then the one-line JSON result (always last)."""
    lines = [f"{k:44s} {v if v is not None else float('nan'):14.6f} {u}"
             for k, (v, u) in report.items()]
    lines += [f"FAILED: {f}" for f in failures]
    lines.append(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v if v is not None else -1.0, "unit": u}
                    for k, (v, u) in report.items()}}))
    return lines


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # part of the benchmark interface; a run does a fixed amount of work
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    state = os.path.join(root, ".bench_build")
    os.makedirs(state, exist_ok=True)
    cp = build(root, state)
    # the run limit starts after a build, which only the first run pays
    deadline = time.time() + RUN_LIMIT_S

    try:
        metrics, layers, out, table, t = measure(
            cp, a.workload, a.seed, a.trace, state, deadline)
    except (RuntimeError, OSError, ValueError, KeyError) as e:
        metrics, layers, table, t = dict.fromkeys(END_TO_END), {}, [], None
        out = {"attempted": 1, "failures": [f"run aborted: {e}"]}
    last = os.path.join(state, f"untraced-{a.workload}.json")
    if a.trace == 0:
        if not out["failures"]:
            with open(last, "w") as f:
                json.dump(metrics, f)
        report = {k: (metrics[k], u) for k, u in END_TO_END.items()}
    else:
        # tracing overhead: this traced run's end-to-end times against the
        # last untraced run of the workload in this checkout
        overhead = 0.0
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            keys = [k for k in END_TO_END if k.endswith("_s") and k != "setup_s"
                    and base.get(k) and metrics.get(k)]
            b = sum(base[k] for k in keys)
            overhead = 100.0 * (sum(metrics[k] for k in keys) - b) / b if b else 0.0
            for k in keys:
                print(f"overhead {k:16s} untraced {base[k]:9.4f} s  traced "
                      f"{metrics[k]:9.4f} s")
        else:
            print("overhead: no untraced run of this workload yet")
        layers["trace.overhead_pct"] = overhead
        print(f"{'span':28s} {'count':>6s} {'total_ms':>11s} {'self_ms':>11s}")
        for row in table:
            print(f"{row['name']:28s} {row['count']:6d} {row['total_ms']:11.0f} "
                  f"{row['self_ms']:11.0f}")
        report = {k: (layers.get(k, 0.0), u) for k, u in PER_LAYER.items()}
    if t:
        print(f"query_tail_s is p{t[0]:g} of {t[2]} per-query samples")
    for line in render(report, out["attempted"], out["failures"]):
        print(line)


if __name__ == "__main__":
    main()
