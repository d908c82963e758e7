#!/usr/bin/env python3
"""Per-op layer breakdown of a traced run, or the change between two.

    python3 perfbench/trace_report.py RUN_DIR [OTHER_RUN_DIR]

RUN_DIR is the detail directory a `--trace 1` run names on stderr. Its
`result.json` holds, per op and averaged over the traced passes, the
self time of each layer on the op's blocking path (seconds):

    wall      the op, as the client saw it
    build     Q.run / input construction, minus Catalyst and jobs in it
    catalyst  parse + analysis + optimization + planning
    driver    execute minus Catalyst and jobs: the gap between jobs
    job       job time no stage covers (scheduling between stages)
    stage     stage time no task covers (task launch, waiting on the last task)
    tasks     time at least one task of the op ran (idle = wall - tasks)

With a second directory it prints OTHER minus RUN_DIR per column, so a
change in `wall_s` can be attributed to the layer whose self time moved
by the same amount. The raw spans are in `spans.jsonl` beside it.
"""
import json
import os
import sys

COLS = ["wall", "build", "catalyst", "driver", "job", "stage", "tasks", "idle"]


def layers(run_dir):
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)["traced_op_layers_s"]


def main():
    base = layers(sys.argv[1])
    other = layers(sys.argv[2]) if len(sys.argv) > 2 else None
    print(f"{'op':<22}" + "".join(f"{c:>9}" for c in COLS)
          + ("   seconds, OTHER - RUN_DIR" if other else "   seconds"))
    total = dict.fromkeys(COLS, 0.0)
    for name in sorted(base):
        row = base[name]
        if other:
            row = {c: other.get(name, {}).get(c, 0.0) - row[c] for c in COLS}
        for c in COLS:
            total[c] += row[c]
        print(f"{name:<22}" + "".join(f"{row[c]:>9.3f}" for c in COLS))
    print(f"{'total':<22}" + "".join(f"{total[c]:>9.3f}" for c in COLS))


if __name__ == "__main__":
    main()
