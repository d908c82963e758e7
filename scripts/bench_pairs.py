#!/usr/bin/env python3
"""Paired parent/change benchmark runs, summarised by the pairs rule.

    python3 scripts/bench_pairs.py <parent checkout> <change checkout> \
        --workload W --pairs N [--seed S] [--out pairs.jsonl]

Runs `perfbench/run.py --workload W --seed S --seconds T --trace 0`
(the benchmark exactly as each checkout has it; T is `run_seconds`
from its `BENCHMARK.json`) N times in each checkout, alternating which
side runs first in each pair. Every run writes one JSON line to
`--out` (default: stdout only). Then, per end-to-end metric of
`BENCHMARK.json` (its name and which direction is better), prints each
side's median and quartiles, the change's wins out of all pairs run
(ties count for neither side), the parent's IQR, and whether the
change is a claimable gain: it wins at least 9/10 of ALL pairs run,
its median beats the parent's by more than the parent's IQR, and no
run failed, was incorrect, or (change side) failed more operations
than the parent. Failed or incorrect runs are left out of the
medians and count as pairs the change did not win. Each run's record
also carries `steal_s`, the CPU steal run.py logged for its JVM, and
the summary ends with each side's median steal: a side that ran with
more steal reads slower for it.

Each checkout builds its own engine into its own `.bench_build/`; both
must hold the same `perfbench/` and `BENCHMARK.json` for the
comparison to mean anything (checked before any run).
"""
import argparse
import filecmp
import json
import os
import re
import statistics
import subprocess
import sys


def same_benchmark(a, b):
    """True when both checkouts hold identical perfbench/ and BENCHMARK.json."""
    if not filecmp.cmp(os.path.join(a, "BENCHMARK.json"),
                       os.path.join(b, "BENCHMARK.json"), shallow=False):
        return False
    stack = [""]
    while stack:
        rel = stack.pop()
        cmp = filecmp.dircmp(os.path.join(a, "perfbench", rel),
                             os.path.join(b, "perfbench", rel),
                             ignore=["__pycache__"])
        if cmp.left_only or cmp.right_only or cmp.funny_files:
            return False
        _, mismatch, errors = filecmp.cmpfiles(cmp.left, cmp.right,
                                               cmp.common_files, shallow=False)
        if mismatch or errors:
            return False
        stack.extend(os.path.join(rel, d) for d in cmp.common_dirs)
    return True


STEAL = re.compile(r"cpu steal during the JVM run: ([0-9.]+) s")


def run_once(checkout, workload, seed, seconds):
    """One benchmark run in `checkout`: its parsed result line (None when
    the run failed) and the CPU steal run.py logged for it (None when it
    logged none)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    steal = STEAL.findall(p.stderr)
    steal = float(steal[-1]) if steal else None
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(f"run failed in {checkout} (exit {p.returncode}):\n"
                         f"{p.stderr[-2000:]}\n")
        return None, steal
    return json.loads(lines[-1]), steal


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarise(pairs, metrics, clean):
    """Per-metric table rows from [(parent_line, change_line), ...].

    `metrics` is BENCHMARK.json's `end_to_end` list; `clean` is False
    when any run failed, was incorrect or the change failed more ops."""
    ok = [(p, c) for p, c in pairs if p and c and p["correct"] and c["correct"]]
    rows = []
    for m in metrics:
        name, sign = m["name"], (1 if m["better"] == "lower" else -1)
        par = [p["metrics"][name]["value"] for p, _ in ok]
        chg = [c["metrics"][name]["value"] for _, c in ok]
        if len(ok) < 2:
            rows.append({"metric": name, "pairs": len(pairs)})
            continue
        pq, cq = quartiles(par), quartiles(chg)
        wins = sum(sign * (p - c) > 0 for p, c in zip(par, chg))
        losses = sum(sign * (c - p) > 0 for p, c in zip(par, chg))
        iqr = pq[2] - pq[0]
        rows.append({
            "metric": name, "pairs": len(pairs),
            "parent_median": pq[1], "parent_q1": pq[0], "parent_q3": pq[2],
            "change_median": cq[1], "change_q1": cq[0], "change_q3": cq[2],
            "change_wins": wins, "change_losses": losses,
            "win_share": wins / len(pairs), "parent_iqr": iqr,
            "ratio": cq[1] / pq[1] if pq[1] else None,
            "gain": clean and wins >= 0.9 * len(pairs) and sign * (pq[1] - cq[1]) > iqr,
        })
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", help="append every run's JSON line here")
    a = ap.parse_args()
    parent, change = os.path.abspath(a.parent), os.path.abspath(a.change)
    if not same_benchmark(parent, change):
        sys.exit("bench_pairs: the checkouts' perfbench/ or BENCHMARK.json differ")
    with open(os.path.join(parent, "BENCHMARK.json")) as f:
        bench = json.load(f)

    pairs = []
    steals = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = [("parent", parent), ("change", change)]
        if i % 2:
            order.reverse()
        got = {}
        for side, path in order:
            line, steal = run_once(path, a.workload, a.seed, bench["run_seconds"])
            got[side] = line
            if steal is not None:
                steals[side].append(steal)
            rec = {"pair": i, "side": side, "workload": a.workload,
                   "seed": a.seed, "steal_s": steal, "result": line}
            print(json.dumps(rec, separators=(",", ":")), flush=True)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps(rec, separators=(",", ":")) + "\n")
        pairs.append((got["parent"], got["change"]))

    failed = [sum(l["failed"] for l in side if l) for side in zip(*pairs)]
    bad = sum(not (p and c and p["correct"] and c["correct"]) for p, c in pairs)
    rows = summarise(pairs, bench["end_to_end"], bad == 0 and failed[1] <= failed[0])
    print(f"\n{a.workload} seed {a.seed}: {len(pairs)} pairs, {bad} with a failed or "
          f"incorrect run; failed ops parent {failed[0]}, change {failed[1]}")
    print(f"{'metric':<12} {'parent med [q1, q3]':<26} {'change med [q1, q3]':<26} "
          f"{'wins':>6} {'par IQR':>8} {'ratio':>6}  gain")
    for r in rows:
        if "parent_median" not in r:
            print(f"{r['metric']:<12} too few good pairs")
            continue
        print(f"{r['metric']:<12} "
              f"{r['parent_median']:7.3f} [{r['parent_q1']:.3f}, {r['parent_q3']:.3f}]   "
              f"{r['change_median']:7.3f} [{r['change_q1']:.3f}, {r['change_q3']:.3f}]   "
              f"{r['change_wins']:>2}/{r['pairs']:<3} {r['parent_iqr']:8.3f} "
              f"{r['ratio']:6.3f}  {'yes' if r['gain'] else 'no'}")
    med = {s: (f"{statistics.median(v):.2f} s" if v else "n/a") for s, v in steals.items()}
    print(f"cpu steal per run, median: parent {med['parent']}, change {med['change']}")


if __name__ == "__main__":
    main()
