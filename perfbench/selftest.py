#!/usr/bin/env python3
"""Self-test of the benchmark at toy size (sf0.001).

    python3 perfbench/selftest.py

Run from the repository root. Runs every workload (`lakehouse` too)
once untraced and once traced and asserts that each emits every metric
BENCHMARK.json names, with correct outputs and no failed op, that the
listener's spans cover at least 95% of the wall of every op that runs a
Spark query, and that every SQL execution and job of a traced pass
carries an op's job group. Then injects an op that always fails
and asserts it is reported by name and error class with failed = 1.
Last, it asserts that the benchmark refuses to run, printing no result,
from a directory that holds only BENCHMARK.json and the benchmark.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
LAKE = ["lake.commits", "lake.commit_p50_s", "lake.data_files_written",
        "lake.metadata_files_written", "lake.bytes_written_mb", "lake.rewrite_mb",
        "lake.live_files", "lake.storage_amp"]


def run(workload, trace, *extra, cwd="."):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "toy", *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, cwd=cwd, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    detail = re.search(r"run detail in (\S+)", p.stderr)
    return p, result, detail.group(1) if detail else None


def check(cond, msg, detail=""):
    if not cond:
        sys.exit(f"selftest FAILED: {msg}\n{detail[-3000:]}")
    print(f"  ok: {msg}")


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    for workload in ["tpch", "llm", "lakehouse"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            print(f"{workload} --trace {trace}")
            p, result, detail = run(workload, trace)
            check(result is not None, f"{workload} run exits 0 with a result line", p.stderr)
            line = p.stdout.strip().splitlines()[-1]
            check(len(line) <= 2000, f"result line within 2000 characters ({len(line)})")
            names = sorted(m["name"] for m in spec[key])
            check(sorted(result["metrics"]) == names, f"every {key} metric is emitted")
            check(result["correct"] and result["failed"] == 0, "outputs correct, no op failed")
            if trace:
                with open(os.path.join(detail, "result.json")) as f:
                    layers = json.load(f)["metrics"]
                coverage = layers["trace.coverage"]
                check(coverage >= 0.95, f"spans cover >= 95% of every op's wall ({coverage:.4f})")
                check(layers["trace.unattributed"] == 0,
                      "every SQL execution and job carries an op's job group")
                if workload == "lakehouse":
                    check(all(layers.get(k, 0) > 0 for k in LAKE), "every lake.* metric measured")
                check(os.path.getsize(os.path.join(detail, "spans.jsonl")) > 0, "span file written")

    print("tpch --inject-failure")
    p, result, detail = run("tpch", 0, "--inject-failure")
    check(result is not None and result["failed"] == 1, "one failed op counted")
    check(result["attempted"] == 23 and result["correct"], "the other 22 ops still checked")
    check("FAILED tpch/injected_failure" in p.stderr and "AnalysisException" in p.stderr,
          "failure named with workload, op and error class")
    with open(os.path.join(detail, "result.json")) as f:
        failures = json.load(f)["failures"]
    check({f["op"] for f in failures} == {"injected_failure"}, "failure recorded in result.json")

    print("bare directory")
    os.makedirs(".bench_build", exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=".bench_build")
    try:
        shutil.copy("BENCHMARK.json", bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p, result, _ = run("tpch", 0, cwd=bare)
        check(p.returncode != 0 and not p.stdout.strip(), "refuses to run without the engine")
    finally:
        shutil.rmtree(bare)
    print("selftest passed")


if __name__ == "__main__":
    main()
