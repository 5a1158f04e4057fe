"""Diff two traced-run ledgers and flag changed Spark counters.

    python3 perfbench/ledger_diff.py OLD/ledger.json NEW/ledger.json

Ops are matched by position and name. Counters that must repeat
exactly for the same seed and code (jobs, stages, tasks, input, shuffle
and Python bytes) are flagged when they differ; times are listed as
old → new without a verdict. Exits 1 when a counter changed.
"""

from __future__ import annotations

import json
import sys

EXACT = ("jobs", "stages", "tasks", "input_bytes", "shuffle_write_bytes",
         "shuffle_read_bytes", "spill_bytes", "python_bytes_sent",
         "python_bytes_received")
TIMES = ("executor_run_s", "executor_cpu_s", "gc_s")


def diff(old: dict, new: dict) -> list:
    """Lines describing every difference; flagged ones start with '!'."""
    lines = []
    a_ops, b_ops = old["ops"], new["ops"]
    if [o["name"] for o in a_ops] != [o["name"] for o in b_ops]:
        lines.append("! op lists differ: "
                     f"{[o['name'] for o in a_ops]} vs "
                     f"{[o['name'] for o in b_ops]}")
    for a, b in zip(a_ops, b_ops):
        for k in EXACT:
            if a["counters"][k] != b["counters"][k]:
                lines.append(f"! {a['op']} {a['name']} {k}: "
                             f"{a['counters'][k]} -> {b['counters'][k]}")
        for k in TIMES:
            lines.append(f"  {a['op']} {a['name']} {k}: "
                         f"{a['counters'][k]:.3f} -> {b['counters'][k]:.3f}")
    for k in sorted(set(old["metrics"]) | set(new["metrics"])):
        x, y = old["metrics"].get(k), new["metrics"].get(k)
        if x != y:
            flag = "!" if k.split(".")[-1] in EXACT else " "
            lines.append(f"{flag} total {k}: {x} -> {y}")
    return lines


def main(argv: list) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as fa, open(argv[1]) as fb:
        lines = diff(json.load(fa), json.load(fb))
    print("\n".join(lines))
    return 1 if any(line.startswith("!") for line in lines) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
