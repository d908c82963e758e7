#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload {tpch,llm,lakehouse} --seed N \
        --seconds S --trace {0,1} [--size {bench,toy}] [--inject-failure]

Run from the repository root. The first run builds the engine and the
benchmark from source into `.bench_build/` (scalac from the Spark
distribution found through SPARK_HOME or `spark-submit` on PATH); later
runs reuse the build while the sources are unchanged. Each run then
reads the test tables under `perfbench/data/`, makes its seeded plan (op
order, lakehouse slices and keys), runs the JVM side (`perfbench.Main`),
checks every output against DuckDB (`oracle.py`), and prints one JSON
line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the `end_to_end` metrics of BENCHMARK.json, `--trace 1`
the `per_layer` ones. `attempted`/`failed` count the workload's distinct
ops and those that failed in any pass. Bulk detail (JVM log, result.json,
spans.jsonl) stays in a fresh `.bench_build/runs/<workload>-<seed>-*/`
directory, named on stderr. A wrong output exits 1 and names the op.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

import duckdb
import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
RUN_LIMIT_S = 170

# Input tables: copies of the engine's test tables (TESTDATA.md), one
# parquet file per table. `bench` is sf0.01, the size the catalog's
# DuckDB correctness check runs at; `toy` is the self-test size.
SIZES = {"bench": "sf0.01", "toy": "sf0.001"}
TPCH = [f"tpch_q{i:02d}" for i in range(1, 23)]
# LLM rows over `documents` and `embeddings`; none caches an index handle
# across passes. `llm_pipeline` and `dedup_minhash_lsh` are left out: their
# DuckDB oracles are quadratic self-joins that take tens of seconds a run.
LLM = ["text_repetition", "dedup_simhash", "dedup_exact", "text_bm25",
       "text_langid", "cluster_kmeans", "ann_ivf_topk", "ann_brute_topk"]
# The lakehouse table is built by this many appends of `o_orderkey % n`
# slices. Each append costs ~0.9 s of commit work whatever its size, and
# four keep a lakehouse run inside the run budget.
LAKE_SLICES = 4
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("perfbench: no Spark distribution with a Scala compiler found "
                 "(set SPARK_HOME)")
    return jars


def build(jars):
    """Compile the engine and the benchmark; reuse the classes while
    every source file is unchanged."""
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"perfbench: engine sources not found under {ENGINE_SRC}; "
                 "run from the repository root")
    sources = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True)
                     + glob.glob(os.path.join(BENCH_SRC, "*.scala")))
    h = hashlib.sha256()
    for s in sources:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    log(f"building {len(sources)} sources into {classes}")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(classes, ".sources")
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit("perfbench: build failed")
    open(os.path.join(classes, ".done"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != classes:
            shutil.rmtree(old, ignore_errors=True)
    return classes


def make_plan(workload, seed, n_orders):
    """Seeded choices the JVM side receives as inputs: op order for
    `tpch`/`llm`; slice order, read and delete bounds and update keys
    for `lakehouse`."""
    rng = np.random.default_rng([seed, 7])
    order = {"tpch": TPCH, "llm": LLM}.get(workload, [])
    order = [order[i] for i in rng.permutation(len(order))]
    lo = int(rng.integers(0, n_orders * 8 // 10))
    dlo = int(rng.integers(0, n_orders * 9 // 10))
    return {
        "order": order,
        "lake.slices": [int(k) for k in rng.permutation(LAKE_SLICES)],
        "lake.where": (str(rng.choice(["F", "O", "P"])), lo, lo + n_orders // 10),
        "lake.delete": (str(rng.choice(["F", "O", "P"])), dlo, dlo + n_orders // 20),
        "lake.update_modulus": 100,
        "lake.update_residue": int(rng.integers(0, 100)),
    }


def write_plan(plan, path):
    with open(path, "w") as f:
        for k, v in plan.items():
            v = ",".join(map(str, v)) if isinstance(v, (list, tuple)) else v
            f.write(f"{k}={v}\n")


def cpu_steal_s():
    """Time this machine's CPUs were taken by its host (0 where unknown):
    a run whose figures stand out can be checked against it."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def run_jvm(classes, jars, run_dir, data_dir, plan_path, a, cores, timeout):
    for sub in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.local.dir={run_dir}/spark-local",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "-cp", f"{classes}:{os.path.join(jars, '*')}", "perfbench.Main",
           "--workload", a.workload, "--data", data_dir, "--plan", plan_path,
           "--out", run_dir, "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cores", str(cores)] + (["--inject-failure"] if a.inject_failure else [])
    steal = cpu_steal_s()
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    log(f"cpu steal during the JVM run: {cpu_steal_s() - steal:.2f} s")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: JVM run failed ({rc}); detail in {run_dir}")


def check(a, run_dir, data_dir, plan, result):
    """Oracle-check every dumped output; returns the mismatched op names
    and the number of rows the outputs hold."""
    con = oracle.connect(data_dir)
    results = os.path.join(run_dir, "results")
    failed = {f["op"] for f in result["failures"]}
    expected = oracle.lakehouse_expected(con, plan) if a.workload == "lakehouse" else {}
    wanted = [n for n in (expected or plan["order"]) if n not in failed]
    bad, rows = [], 0
    for name in wanted:
        path = os.path.join(results, name)
        if not os.path.isdir(path):
            bad.append(name)
            log(f"MISMATCH {a.workload}/{name}: no output written")
            continue
        sql = result["oracle_sql"].get(name)
        if sql is None and name not in expected:
            bad.append(name)
            log(f"MISMATCH {a.workload}/{name}: no oracle")
            continue
        ok, n, msg = oracle.compare(con, path, sql=sql, expected=expected.get(name))
        rows += n
        if not ok:
            bad.append(name)
        log(f"{'ok' if ok else 'MISMATCH'} {a.workload}/{name}: {msg}")
    log(f"oracle: {len(wanted) - len(bad)}/{len(wanted)} outputs match")
    return bad, rows


def value(v, trace):
    """Per-layer values are sums of millisecond event times and byte
    counts; six decimals keep every measured digit (a microsecond, a
    byte in MiB) and drop float summation noise, which keeps the traced
    result line short. End-to-end values are printed whole."""
    return round(v, 6) if trace else v


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["tpch", "llm", "lakehouse"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="bench")
    p.add_argument("--inject-failure", action="store_true",
                   help="add an op that always fails (self-test)")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jars = spark_jars()
    classes = build(jars)
    start = time.time()
    data_dir = os.path.join(HERE, "data", SIZES[a.size])
    n_orders = duckdb.sql(f"SELECT count(*) FROM '{data_dir}/orders.parquet'").fetchone()[0]
    plan = make_plan(a.workload, a.seed, n_orders)
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-{a.seed}-", dir=os.path.join(BUILD, "runs"))
    log(f"run detail in {run_dir}")
    plan_path = os.path.join(run_dir, "plan.properties")
    write_plan(plan, plan_path)
    cores = len(os.sched_getaffinity(0))
    run_jvm(classes, jars, run_dir, data_dir, plan_path, a, cores,
            timeout=RUN_LIMIT_S - (time.time() - start))
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    for fl in result["failures"]:
        log(f"FAILED {a.workload}/{fl['op']} ({fl['pass']} pass): {fl['error']}")
    bad, rows_out = check(a, run_dir, data_dir, plan, result)
    for sub in ("results", "lake", "spark-local", "warehouse", "tmp"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)

    wanted = spec["per_layer" if a.trace else "end_to_end"]
    got = result["metrics"]
    if a.trace:
        got["scan.rows_read_per_row_out"] = got["scan.rows_read"] / max(1, rows_out)
    missing = [m["name"] for m in wanted if got.get(m["name"]) is None]
    if missing:
        sys.exit(f"perfbench: metrics not measured: {', '.join(missing)}")
    line = {
        "correct": not bad,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": value(got[m["name"]], a.trace), "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(line, separators=(",", ":")), flush=True)
    if bad:
        log(f"wrong output from: {', '.join(bad)}")
        sys.exit(1)


if __name__ == "__main__":
    main()
