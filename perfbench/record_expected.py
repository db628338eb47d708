#!/usr/bin/env python3
"""Record perfbench/expected.tsv from the current program.

    python3 perfbench/record_expected.py

Runs every workload twice, under two seeds that order its keys differently,
and writes each key's row count and content hash. Row counts must agree
between the two runs. A key whose hash differs between them is recorded
with `-` and is then checked on its row count only.
"""
import subprocess
import sys
import tempfile
from pathlib import Path

from run import BENCH, WORKLOADS, other_seed


def outputs(workload, seed, path):
    subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", "1", "--no-expected",
                    "--outputs", str(path)], check=True, stdout=subprocess.DEVNULL)
    return dict((l.split("\t")[0], l.split("\t")[1:]) for l in path.read_text().splitlines())


def main():
    rows = []
    with tempfile.TemporaryDirectory(dir=BENCH.parent / ".bench_build") as tmp:
        for workload in sorted(WORKLOADS):
            a = outputs(workload, 1, Path(tmp) / "a.tsv")
            b = outputs(workload, other_seed(workload, 1), Path(tmp) / "b.tsv")
            for key in sorted(a):
                (na, ha), (nb, hb) = a[key], b[key]
                if na != nb or na == "FAILED":
                    sys.exit(f"{key}: row counts {na} and {nb} disagree")
                if ha != hb:
                    print(f"{key}: hash not stable across runs; row count only")
                rows.append(f"{key}\t{na}\t{ha if ha == hb else '-'}")
    header = ("# key, sf0.1 row count, content hash ('-': row count only)."
              " Written by record_expected.py.\n")
    (BENCH / "expected.tsv").write_text(header + "\n".join(rows) + "\n")
    print(f"wrote {len(rows)} keys to {BENCH / 'expected.tsv'}")


if __name__ == "__main__":
    main()
