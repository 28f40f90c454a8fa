#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and the
harness from source (sbt, in graftbench/); later runs reuse the build while
the sources are unchanged. Inputs are generated from --seed (gen.py) and
cached per seed under graftbench/.work/. One JVM then runs the workload
(graftbench/src/main/scala/graftbench/Harness.scala): set-up, timed passes,
and a dump of every query's output, which this script checks against the
query's DuckDB twin (SparkEntry.oracleSql) with the digest rules of
tools/selfcheck.py.

The last line of stdout is one JSON object: correct, attempted, failed and
the metrics -- the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1. The line before it is the full record (configuration, load,
input sizes, per-query medians). Spans of a traced run are written to
graftbench/.work/spans-<workload>-<seed>.jsonl.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time


sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import spec  # noqa: E402

WORK = os.path.join(HERE, ".work")
SETUPS = 3
JVM_TIMEOUT_S = 150


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def die(msg):
    log(f"graftbench: {msg}")
    sys.exit(2)


# ------------------------------------------------------------------ build

def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def build():
    """Compile the library and the harness; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die(f"no graft sources under {ROOT}/src/main/scala; run from a full checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(WORK, "classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            got_stamp, cp = fh.read().split("\n", 1)
        if got_stamp == stamp:
            return cp.strip()
    log("graftbench: building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        log(p.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    log(f"graftbench: built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp)
    return cp


# ------------------------------------------------------------------ inputs

def inputs(kind, seed):
    """Generate (or reuse) the input of a workload; returns (dir, rows, gen_s)."""
    shape = spec.INPUTS[kind]
    sizes, replicas = shape["sizes"], shape["replicas"]
    d = os.path.join(WORK, "data", f"{kind}-{'x'.join(map(str, sizes))}-r{replicas}-s{seed}")
    done = os.path.join(d, "rows.json")
    if os.path.exists(done):
        with open(done) as fh:
            return d, json.load(fh), 0.0
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.time()
    rows = gen.twin(d, seed, replicas, sizes)
    gen_s = time.time() - t0
    expect = {t: n * replicas for t, n in zip(("documents", "embeddings"), sizes)}
    if rows != expect:
        die(f"generated row counts {rows} != {expect}")
    with open(done, "w") as fh:
        json.dump(rows, fh)
    return d, rows, gen_s


# ------------------------------------------------------------------ run

def dumped_queries(wl, trace):
    """The workload's queries, plus in a traced run the ANN queries whose
    recall it measures."""
    queries = spec.WORKLOADS[wl]["queries"]
    extra = [q for q in spec.RECALL if q not in queries] \
        if trace and spec.WORKLOADS[wl]["index"] else []
    return list(queries) + extra


def run_jvm(cp, wl, data, warm, seconds, trace, run_dir, seed):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    queries = spec.WORKLOADS[wl]["queries"]
    dumped = dumped_queries(wl, trace)
    cmd = [java, "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-cp", cp]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["graftbench.Harness", "--workload", wl, "--data", data, "--warm", warm,
            "--queries", ",".join(queries), "--dump", ",".join(dumped),
            "--seconds", str(seconds), "--trace", str(trace), "--setups", str(SETUPS),
            "--index", "1" if spec.WORKLOADS[wl]["index"] else "0", "--work", run_dir,
            "--out", os.path.join(run_dir, "result.json"),
            "--spans", os.path.join(WORK, f"spans-{wl}-{seed}.jsonl"),
            "--check", os.path.join(run_dir, "check")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    env.pop("SPARK_LOCAL_DIRS", None)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"harness timed out after {JVM_TIMEOUT_S} s (log {log_path})")
    if p.returncode != 0:
        with open(log_path) as fh:
            log(fh.read()[-4000:])
        die(f"harness exited with {p.returncode}")
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------------ check

def check(run_dir, data, dumped, res):
    """Compare every dumped output with its DuckDB twin; returns
    ({query: reason} for mismatches, {query: arrow table})."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pyarrow.parquet as pq
    from selfcheck import table_digest
    out_dir = os.path.join(run_dir, "check")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet', '*.parquet')}')")
    cache_dir = os.path.join(WORK, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    bad, tables = {}, {}
    for q in dumped:
        if q in res["check_errors"]:
            bad[q] = res["check_errors"][q]
            continue
        tbl = pq.read_table(os.path.join(out_dir, q))
        tables[q] = tbl
        if q not in oracle:
            if tbl.num_rows == 0:
                bad[q] = "0 rows (rows-only check)"
            continue
        key = hashlib.sha256((data + "\n" + oracle[q]).encode()).hexdigest()
        cached = os.path.join(cache_dir, key + ".json")
        if os.path.exists(cached):
            with open(cached) as fh:
                want = json.load(fh)
        else:
            o = con.execute(oracle[q]).fetch_arrow_table()
            want = {"rows": o.num_rows, "cols": sorted(o.column_names), "digest": table_digest(o)}
            with open(cached, "w") as fh:
                json.dump(want, fh)
        got = {"rows": tbl.num_rows, "cols": sorted(tbl.column_names)}
        if got["rows"] != want["rows"] or got["cols"] != want["cols"]:
            bad[q] = f"rows/cols {got} vs oracle {want['rows']} {want['cols']}"
        elif table_digest(tbl) != want["digest"]:
            bad[q] = "value digest differs from the oracle"
    if "ann_ivf" in tables and "ann_ivf_index" in tables and \
            table_digest(tables["ann_ivf"]) != table_digest(tables["ann_ivf_index"]):
        bad["ann_ivf_index"] = "differs from ann_ivf"
    return bad, tables


def recall_at_10(data, tables):
    """Mean recall of the ANN outputs against exact cosine top-10."""
    import numpy as np
    import pyarrow.parquet as pq
    emb = pq.read_table(os.path.join(data, "embeddings.parquet"))
    ids = emb.column("vec_id").to_numpy()
    x = np.asarray(emb.column("embedding").combine_chunks().flatten(), dtype=np.float64)
    x = x.reshape(len(ids), -1)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
    pos = {int(v): i for i, v in enumerate(ids)}
    recalls = []
    for q in spec.RECALL:
        if q not in tables:
            continue
        got = {}
        for qid, nid in zip(tables[q].column("query_id").to_pylist(),
                            tables[q].column("neighbor_id").to_pylist()):
            got.setdefault(qid, set()).add(nid)
        hits = []
        for qid, nids in got.items():
            cos = x @ x[pos[qid]]
            cos[pos[qid]] = -np.inf
            top = np.lexsort((ids, -cos))[:10]
            hits.append(len(nids & {int(ids[i]) for i in top}) / 10)
        recalls.append(sum(hits) / len(hits))
    return sum(recalls) / len(recalls) if recalls else None


# ------------------------------------------------------------------ metrics

def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res):
    passes = res["passes"]
    return {
        "setup_s": med([s["setup_s"] for s in res["setups"]]),
        "pass_s": med([p["pass_s"] for p in passes]),
        "cpu_s": med([p["cpu_s"] for p in passes]),
        "retained_heap_mb": med([p["retained_heap_mb"] for p in passes]),
    }


def per_layer(res, modules, out_rows, recall):
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    cores = res["default_parallelism"]
    exec_keys = ["jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "gc_s", "input_mb",
                 "shuffle_read_mb", "shuffle_write_mb", "shuffle_fetch_wait_s", "spill_mb",
                 "shuffle_records"]

    def layers(p):
        qs = [q for q in p["queries"] if "error" not in q]
        ex = {k: sum(q[s][k] for q in qs for s in ("build_exec", "action_exec"))
              for k in exec_keys}
        m = {
            "tables.resolve_s": sum(q["resolve_s"] for q in qs),
            "operators.build_s": sum(q["build_s"] for q in qs),
            "operators.build_jobs": sum(q["build_exec"]["jobs"] for q in qs),
            "catalyst.analyze_s": sum(q["analyze_s"] for q in qs),
            "catalyst.optimize_s": sum(q["optimize_s"] for q in qs),
            "catalyst.plan_s": sum(q["plan_s"] for q in qs),
            "exec.core_util": ex["task_run_s"] / (p["pass_s"] * cores),
            "exec.peak_exec_mem_mb": max([q[s]["peak_exec_mem_mb"] for q in qs
                                          for s in ("build_exec", "action_exec")] + [0]),
            "exec.task_skew": max([q[s]["task_skew"] for q in qs
                                   for s in ("build_exec", "action_exec")] + [0]),
            "exec.shuffle_records_per_out_row": ex["shuffle_records"] / max(out_rows, 1),
            "storage.rdds_live": p["rdds_live"],
            "storage.mem_mb": p["storage_mem_mb"],
        }
        m.update({f"exec.{k}": v for k, v in ex.items() if k != "shuffle_records"})
        for mod in spec.MODULES:
            m[f"module.{mod}.wall_s"] = sum(q["build_s"] + q["action_s"] for q in qs
                                            if modules[q["query"]] == mod)
        return m

    per_pass = [layers(p) for p in traced]
    out = {k: med([m[k] for m in per_pass]) for k in per_pass[0]}
    out["trace.overhead_frac"] = (med([p["pass_s"] for p in traced]) /
                                  med([p["pass_s"] for p in untraced]) - 1)
    out["ann.index_build_s"] = res["index"]["build_s"]
    out["ann.index_bytes"] = res["index"]["bytes"]
    out["ann.index_files"] = res["index"]["files"]
    out["ann.recall_at_10"] = recall if recall is not None else 0.0
    out.update({f"functions.{k}": v for k, v in res["kernels"].items()})
    return out


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


T0 = time.time()


def run(workload, seed, seconds, trace):
    """One benchmark run; returns (record, result)."""
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    wl = spec.WORKLOADS[workload]
    data, rows, gen_s = inputs(wl["input"], seed)
    warm, _, _ = inputs("warm", 0)
    log(f"graftbench: input {wl['input']} seed {seed}: {rows} (generated in {gen_s:.1f} s)")

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    load0 = loadavg()
    t_jvm = time.time()
    res = run_jvm(cp, workload, data, warm, seconds, trace, run_dir, seed)
    t_check = time.time()
    load1 = loadavg()

    queries = list(wl["queries"])
    dumped = dumped_queries(workload, trace)
    bad, tables = check(run_dir, data, dumped, res)
    kept = {q: all(s["columns_kept"][q] for s in res["setups"]) for q in queries}
    for q in queries:
        if not kept[q]:
            bad.setdefault(q, "the noop plan dropped output columns")
    runs = [q for p in res["passes"] for q in p["queries"]]
    extra = dumped[len(queries):]
    attempted = len(runs) + len(extra)
    failed = sum(1 for q in runs if "error" in q or q["query"] in bad) + \
        sum(1 for q in extra if q in bad)
    for q, why in sorted(bad.items()):
        log(f"graftbench: FAIL {q}: {why}")
    for q in runs:
        if "error" in q:
            log(f"graftbench: ERROR {q['query']}: {q['error']}")

    if trace:
        out_rows = sum(tables[q].num_rows for q in queries if q in tables)
        metrics = per_layer(res, wl["queries"], out_rows, recall_at_10(data, tables))
        names = spec.PER_LAYER
    else:
        metrics = end_to_end(res)
        names = spec.END_TO_END
    record = {
        "workload": workload, "seed": seed, "trace": trace, "seconds": seconds,
        "input": wl["input"], "input_rows": rows, "input_gen_s": gen_s,
        "cores": res["default_parallelism"], "nproc": res["nproc"],
        "heap_max_mb": res["heap_max_mb"], "loadavg_before": load0, "loadavg_after": load1,
        "passes": len(res["passes"]), "setups_s": [s["setup_s"] for s in res["setups"]],
        "warm_pass_s": res["warm_pass_s"],
        "query_s": {q: med([r["build_s"] + r["action_s"] for r in runs
                            if r["query"] == q and "error" not in r]) for q in queries},
        "columns_kept": kept, "failures": bad,
        "wall_s": {"jvm": t_check - t_jvm, "check": time.time() - t_check,
                   "total": time.time() - T0},
    }
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": names[k][0]} for k in names},
    }
    return record, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()
    if args.workload not in spec.WORKLOADS:
        die(f"unknown workload {args.workload}; one of {sorted(spec.WORKLOADS)}")
    record, result = run(args.workload, args.seed, args.seconds, args.trace)
    print(json.dumps(record))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
