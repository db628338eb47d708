#!/usr/bin/env python3
"""Compare two per-key layer ledgers written by traced benchmark runs.

    python3 perfbench/ledger_diff.py OLD.json NEW.json

Flags every key whose warm-pass job, stage or task counts changed at all,
or whose shuffle bytes moved by more than 0.1 %, and every key present in
only one ledger. Exits 1 when anything is flagged, 0 otherwise.
"""
import json
import sys

EXACT = ["SparkEntry.jobs", "SparkEntry.tasks", "Exec.jobs", "Exec.stages", "Exec.tasks"]
RELATIVE = {"Exec.shuffle_write_mb": 0.001, "Exec.shuffle_read_mb": 0.001}


def diff(old, new):
    """Return one line per flagged (key, metric) pair."""
    flagged = []
    for key in sorted(set(old) | set(new)):
        if key not in old or key not in new:
            flagged.append(f"{key}: only in {'new' if key in new else 'old'} ledger")
            continue
        a, b = old[key], new[key]
        for m in EXACT:
            if a.get(m) != b.get(m):
                flagged.append(f"{key}: {m} {a.get(m)} -> {b.get(m)}")
        for m, tol in RELATIVE.items():
            x, y = a.get(m, 0.0), b.get(m, 0.0)
            if abs(y - x) > tol * max(abs(x), abs(y)):
                flagged.append(f"{key}: {m} {x:.6f} -> {y:.6f}")
    return flagged


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(sys.argv[1]) as f:
        old = json.load(f)["warm"]
    with open(sys.argv[2]) as f:
        new = json.load(f)["warm"]
    flagged = diff(old, new)
    for line in flagged:
        print(line)
    print(f"{len(flagged)} flagged, {len(set(old) | set(new))} keys compared")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
