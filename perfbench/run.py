#!/usr/bin/env python3
"""Benchmark front end: builds the engine, generates seeded inputs, runs one
workload in a fresh JVM, checks its outputs and prints every metric.

Usage (from the repository root):

    python3 perfbench/run.py --workload hive_etl --seed 1 --seconds 15 --trace 0

Workloads: hive_etl, llm_corpus (see BENCHMARK.json).
`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer metrics
plus the tracing overhead. The last stdout line is one JSON object with the
keys correct, attempted, failed and metrics. `--scale` multiplies the input
size (the self-tests use a tiny one).

The build runs sbt offline in perfbench/ (its own build, compiling the
engine from src/) and is redone only when a source or build file changed.
Generated inputs, Spark scratch space and results live under perfbench/.work.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402

CORES = 4
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Inputs per workload at --scale 1: the relational tables at scale factor
# `sf` (only `tables` are kept), documents as (base docs, replicas), and
# base embedding vectors (times the replicas).
WORKLOADS = {
    "hive_etl": {"sf": 0.01,
                 "tables": ["region", "nation", "customer", "supplier", "part",
                            "orders", "lineitem", "events"]},
    "llm_corpus": {"docs": (1000, 2), "vecs": 1000, "tables": ["documents", "embeddings"]},
}


# End-to-end figures that are printed but not gated: on a shared box the
# wall clock follows the CPU the box leaves the JVM (see README.md).
INFO_METRICS = (("wall_s", "s"), ("rows_per_s", "rows/s"), ("op_p50_ms", "ms"),
                ("op_p90_ms", "ms"))


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    """Digest of every input of the build (path, size, mtime)."""
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project"), os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for tree in trees:
        for d, dirs, names in os.walk(tree):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt if needed; returns the launch spec."""
    launch = os.path.join(HERE, "target", "launch.json")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f, open(launch) as g:
            built, spec = f.read(), json.load(g)
        if built == stamp and all(map(os.path.exists, spec["classpath"].split(os.pathsep))):
            return spec
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx4g")
    print("perfbench: building (sbt writeLaunch)", file=sys.stderr)
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                     cwd=HERE, env=env, timeout=BUILD_TIMEOUT_S, stdout=sys.stderr)
    if rc != 0 or not os.path.exists(launch):
        fail(f"build failed (sbt exit {rc})")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(launch) as g:
        return json.load(g)


def run_bounded(cmd, cwd, env, timeout, stdout=None):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# ---------------------------------------------------------------- inputs

def generate(workload, seed, scale):
    """Write the workload's inputs for `seed`; returns (dir, table stats)."""
    spec = WORKLOADS[workload]
    out = os.path.join(WORK, "data", workload)
    key = {"workload": workload, "seed": seed, "scale": scale, "spec": spec}
    manifest = os.path.join(out, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            m = json.load(f)
        if m["key"] == key:
            return out, m["tables"]
    shutil.rmtree(out, ignore_errors=True)
    tables = {}
    if "sf" in spec:
        tables.update(gen.tpch_tables(seed, spec["sf"] * scale))
    if "docs" in spec or "vecs" in spec:
        n_docs, replicas = spec.get("docs", (100, 1))
        llm = gen.llm_tables(seed, max(int(n_docs * scale), 20), replicas,
                             max(int(spec.get("vecs", 100) * scale), 20))
        tables["documents"] = llm["documents"]
        if "vecs" in spec:
            tables["embeddings"] = llm["embeddings"]
    tables = {k: v for k, v in tables.items() if k in spec["tables"]}
    stats = gen.write(tables, out)
    if workload == "hive_etl":
        stats.update(gen.write_etl_layouts(seed, tables, out))
    with open(manifest, "w") as f:
        json.dump({"key": key, "tables": stats}, f, indent=1, sort_keys=True)
    return out, stats


# ---------------------------------------------------------------- metrics

def percentile(values, q):
    """Nearest-rank percentile. A tail percentile (above the median) is None
    unless at least ten samples lie beyond it."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, -(-len(xs) * q // 100))  # ceil(n * q / 100)
    if q > 50 and len(xs) - rank < 10:
        return None
    return xs[int(rank) - 1]


def end_to_end(res, passes, source_rows):
    if not passes:
        return {}
    ops = [x for p in passes for x in p["ops_ms"]]

    def med(key):
        return statistics.median(p[key] for p in passes)
    return {
        "setup_s": statistics.median(s["total_s"] for s in res["setup"]),
        "wall_s": med("wall_s"),
        "rows_per_s": source_rows / med("wall_s"),
        "op_p50_ms": percentile(ops, 50),
        "op_p90_ms": percentile(ops, 90),
        "cpu_s": med("cpu_s"),
        "driver_cpu_s": med("driver_cpu_s"),
        "peak_task_mem_mb": med("peak_task_mem_mb"),
        "op_samples": len(ops),
        "passes": len(passes),
    }


def timed(res, traced):
    """The timed passes of a run (the warm-up pass is number 0)."""
    return [p for p in res["passes"] if p["pass"] > 0 and p["traced"] == traced]


def per_layer(res, declared):
    traced = timed(res, True)
    setup = res["setup"]
    session = {
        "session.busy_s": statistics.median(s["total_s"] for s in setup),
        "session.cpu_s": statistics.median(s["cpu_s"] for s in setup),
        "session.jobs": statistics.median(s["jobs"] for s in setup),
        "session.tasks": statistics.median(s["tasks"] for s in setup),
        "session.gc_s": statistics.median(s["gc_s"] for s in setup),
    }
    out = {}
    for name in declared:
        if name in session:
            out[name] = session[name]
        elif name in res["extras"]:
            out[name] = res["extras"][name]
        else:
            out[name] = statistics.median(p["layers"].get(name, 0.0) for p in traced) if traced else 0.0
    return out


def layer_table(res):
    """Median per traced pass, by layer: the per-layer table with self time."""
    traced = timed(res, True)
    keys = sorted({k for p in traced for k in p["layers"]})
    rows = {}
    for k in keys:
        layer, metric = k.rsplit(".", 1)
        rows.setdefault(layer, {})[metric] = statistics.median(
            p["layers"].get(k, 0.0) for p in traced)
    cols = ["calls", "busy_s", "self_s", "plan_s", "exec_s", "cpu_s", "blocked_s",
            "sched_wait_s", "jobs", "tasks", "shuffle_write_mb", "spill_mb", "gc_s"]
    lines = ["layer".ljust(16) + "".join(c.rjust(14) for c in cols)]
    for layer in sorted(rows):
        lines.append(layer.ljust(16) + "".join(
            f"{rows[layer].get(c, 0.0):14.3f}" for c in cols))
    return lines


# ---------------------------------------------------------------- checks

def gallery_checks(results_dir, data_dir):
    """Each gallery result against DuckDB over its oracle SQL: same columns,
    row count, dtypes and hash of the canonical frame (tools/check.py's
    canonicalization: sorted columns, then sorted rows)."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)

    def digest(df):
        return hashlib.sha256(pd.util.hash_pandas_object(df, index=False).values.tobytes()).hexdigest()

    con = duckdb.connect()
    for name in os.listdir(data_dir):
        if name.endswith(".parquet"):
            con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{os.path.join(data_dir, name)}'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    out = []
    for q, sql in sorted(oracles.items()):
        try:
            got = check.canon(pd.read_parquet(os.path.join(results_dir, q)))
            want = check.canon(con.sql(sql).df())
            ok = (list(got.columns) == list(want.columns) and len(got) == len(want)
                  and [str(t) for t in got.dtypes] == [str(t) for t in want.dtypes]
                  and not any(check.signbit_mismatch(got[c], want[c]) for c in got.columns)
                  and digest(got) == digest(want) and len(got) > 0)
            detail = f"rows={len(got)} oracle_rows={len(want)}"
        except Exception as e:  # a missing result or failed oracle is a failed check
            ok, detail = False, f"error: {e}"
        out.append({"name": f"oracle[{q}]", "ok": bool(ok), "detail": detail})
    con.close()
    return out


# ---------------------------------------------------------------- main

def heap_size():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args(argv)
    t_start = time.time()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.exists(os.path.join(ROOT, "build.sbt"))):
        fail(f"no engine sources next to {HERE} (expected ../src/main/scala/graft)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    launch = build()
    t_built = time.time()  # a build may take long; the run itself is bounded
    data, tables = generate(args.workload, args.seed, args.scale)
    for name, st in sorted(tables.items()):
        print(f"input {name}: rows={st['rows']} bytes={st['bytes']}")
    source_rows = sum(st["rows"] for name, st in tables.items() if not name.startswith("layout."))

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")  # Hive session dirs land under java.io.tmpdir
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{heap_size()}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"] +
           launch["jvm_options"] +
           ["-cp", launch["classpath"], "graft.perfbench.Main",
            "--workload", args.workload, "--data", data, "--work", run_dir,
            "--out", result, "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(CORES), "--seed", str(args.seed)])
    budget = RUN_TIMEOUT_S - (time.time() - t_built)
    rc = run_bounded(cmd, cwd=run_dir, env=dict(os.environ), timeout=budget, stdout=sys.stderr)
    if rc != 0 or not os.path.exists(result):
        fail(f"benchmark JVM failed (exit {rc})")
    with open(result) as f:
        res = json.load(f)

    checks = list(res["checks"])
    if args.workload == "hive_etl":
        checks += gallery_checks(os.path.join(run_dir, "results"), data)
    for c in checks:
        print(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")

    e2e = end_to_end(res, timed(res, False), source_rows)
    attempted = sum(p["ops"] for p in res["passes"]) + len(checks)
    failed = sum(p["ops_failed"] for p in res["passes"]) + sum(not c["ok"] for c in checks)
    print(f"workload {args.workload}: seed={args.seed} passes={e2e['passes']} "
          f"op_samples={e2e['op_samples']} source_rows={source_rows}")
    print(f"error_rate: {failed / attempted:.6g} ({failed} failed of {attempted} ops and checks)")
    print("phases: " + " ".join(f"{k}={v:.1f}s" for k, v in res["phases_s"].items()) +
          f" total={time.time() - t_start:.1f}s")
    for name, unit in INFO_METRICS:
        print(f"info {name} = {fmt(e2e[name])} {unit}")
    print(f"op latency samples: {e2e['op_samples']} (p90 needs ten samples beyond it)")
    for k, v in sorted(res["extras"].items()):
        if k.startswith("info."):
            print(f"{k[5:]}: {fmt(v)}")

    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if args.trace:
        traced = end_to_end(res, timed(res, True), source_rows)
        print("per-layer (median per traced pass):")
        for line in layer_table(res):
            print("  " + line)
        print("tracing overhead (traced minus untraced passes of this run; both follow "
              "the warm-up pass, the traced ones first):")
        for name, unit in ([(m["name"], m["unit"]) for m in bench["end_to_end"]] +
                           list(INFO_METRICS)):
            a, b = traced.get(name), e2e.get(name)
            diff = None if a is None or b is None else a - b
            print(f"  {name}: {fmt(diff)} {unit}")
        values = per_layer(res, [m["name"] for m in bench["per_layer"]])
    else:
        values = {m["name"]: e2e.get(m["name"]) for m in bench["end_to_end"]}
    for k, v in values.items():
        print(f"metric {k} = {fmt(v)} {units[k]}")

    missing = [k for k, v in values.items() if v is None]
    correct = failed == 0 and not missing
    if missing:
        print(f"perfbench: metrics without enough samples: {missing}", file=sys.stderr)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": (0.0 if v is None else v), "unit": units[k]}
                    for k, v in values.items()}}))


if __name__ == "__main__":
    main()
