#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload scan_compute --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source into `.bench_build/` (reused
while the sources are unchanged), runs one JVM against the sf0.1 fixtures in
`perfbench/fixtures/` with a fresh, empty store root, and prints one line per
metric followed by the result as a single JSON object on the last line.
Exits non-zero when any call fails or any output differs from
`perfbench/expected.tsv`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"

WORKLOADS = {
    # Per-row work inside one-row-group, single-task scans: a spread win
    # (sim_topk_cosine), a measured spread loss (mm_audio_features) and a
    # memoized tf index (a Sources spill).
    "scan_compute": [
        "sim_topk_cosine", "mm_audio_features", "text_tfidf_topk",
    ],
    # Reads against all four persisted stores (KmvStore, the frozen unigram
    # TokenizerStore, AnnIndex, GraphAnnIndex); the cold pass builds them.
    "index_probe": [
        "kmv_overlap_probe", "text_unigram_encode_frozen",
        "sim_ann_ivfpq_probe", "sim_ann_graph_probe",
    ],
    # Verbs that publish an artifact on every call (KmvStore compaction,
    # TokenizerStore retrain): mostly construction jobs.
    "store_write": [
        "kmv_store_compact", "tokenizer_store_retrain",
    ],
}

# Store modules each workload's keys write; a run that leaves one of them
# empty fails, so a moved store root cannot read as 0 MB unnoticed.
STORES_WRITTEN = {
    "scan_compute": [],
    "index_probe": ["AnnIndex", "GraphAnnIndex", "KmvStore", "TokenizerStore"],
    "store_write": ["KmvStore", "TokenizerStore"],
}

END_TO_END = [
    ("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"), ("call_p90_s", "s"),
    ("store_mb", "MB"), ("live_heap_mb", "MB"),
]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

JVM_TIMEOUT_S = 170


def key_order(workload, seed):
    """The workload's keys in the order the seed picks for every pass."""
    keys = list(WORKLOADS[workload])
    random.Random(seed).shuffle(keys)
    return keys


def other_seed(workload, seed):
    """The smallest seed above `seed` that orders the keys differently."""
    other = seed + 1
    while key_order(workload, other) == key_order(workload, seed):
        other += 1
    return other


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the first `<dir>/../jars` holding
    them for a PATH directory with spark-submit in it."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("spark-core_*.jar")):
            return str(jars / "*")
    fail("no Spark jars found; set SPARK_HOME")


def build(jars):
    """Compile src/main and the harness with scalac; reuse while unchanged."""
    src = ROOT / "src" / "main"
    if not src.is_dir():
        fail(f"no program sources under {src}")
    sources = sorted(src.rglob("*.scala")) + sorted((BENCH / "harness").glob("*.scala"))
    digest = hashlib.sha256()
    for f in sources:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = digest.hexdigest()
    classes = BUILD / "classes"
    stamp_file = BUILD / "classes.stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    staging = BUILD / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    t0 = time.monotonic()
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars,
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(staging)]
        + [str(f) for f in sources],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        print(proc.stdout[-4000:], file=sys.stderr)
        fail("scalac failed")
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp_file.write_text(stamp)
    print(f"perfbench: built {len(sources)} sources in {time.monotonic() - t0:.1f} s",
          file=sys.stderr)
    return classes


def run_jvm(args, keys, classes, jars, run_dir):
    store = run_dir / "store"
    local = run_dir / "spark-local"
    store.mkdir(parents=True)
    local.mkdir()
    if any(store.iterdir()):
        fail(f"store root {store} is not empty")
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        # -UsePerfData: the JVM would otherwise write hsperfdata files to the
        # system temp directory, outside the checkout
        "-XX:-UsePerfData", "-Xmx2g", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={store}", f"-Dspark.local.dir={local}",
        "-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Harness",
        "--fixtures", str(args.fixtures), "--keys", ",".join(keys),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--expected", args.expected or "",
        "--ledger", str(args.ledger) if args.trace else "",
        "--outputs", str(args.outputs or ""),
    ]
    log = run_dir / "jvm.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                cwd=run_dir)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness JVM exceeded {JVM_TIMEOUT_S} s; log tail:\n" + tail(log))
        finally:
            if proc.poll() is None:  # timed out or interrupted: never leave it running
                proc.kill()
                proc.wait()
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        fail(f"harness JVM exited {proc.returncode}; log tail:\n" + tail(log))
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def layer_unit(name):
    """Unit of a per-layer metric, from its name's suffix."""
    for suffix, unit in [("mb", "MB"), ("_ms", "ms"), ("_s", "s"), ("parallelism", "ratio")]:
        if name.endswith(suffix):
            return unit
    return "count"


def tail(path, n=40):
    try:
        return "\n".join(Path(path).read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fixtures", type=Path, default=BENCH / "fixtures" / "sf0.1",
                    help="fixture directory; outputs are checked against "
                         "expected.tsv only for the default sf0.1 fixtures")
    ap.add_argument("--ledger", type=Path,
                    help="per-key layer ledger written by a traced run "
                         "(default .bench_build/ledger/<workload>-seed<seed>.json)")
    ap.add_argument("--outputs", type=Path,
                    help="write each key's row count and content hash here")
    ap.add_argument("--no-expected", action="store_true",
                    help="do not check outputs against expected.tsv "
                         "(used to record it)")
    args = ap.parse_args()

    fixtures = args.fixtures.resolve()
    if not (fixtures / "lineitem.parquet").is_file():
        fail(f"no fixtures under {fixtures}")
    args.fixtures = fixtures
    default_fx = fixtures == (BENCH / "fixtures" / "sf0.1").resolve()
    args.expected = None
    if default_fx and not args.no_expected:
        args.expected = str(BENCH / "expected.tsv")
        if not Path(args.expected).is_file():
            fail(f"missing {args.expected}")
    if args.trace and args.ledger is None:
        args.ledger = BUILD / "ledger" / f"{args.workload}-seed{args.seed}.json"
    if args.ledger:
        args.ledger = args.ledger.resolve()
        args.ledger.parent.mkdir(parents=True, exist_ok=True)
    if args.outputs:
        args.outputs = args.outputs.resolve()

    jars = spark_jars()
    classes = build(jars)
    run_dir = BUILD / "runs" / f"{os.getpid()}-{time.time_ns()}"
    keys = key_order(args.workload, args.seed)
    try:
        res = run_jvm(args, keys, classes, jars, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failures = res["failures"]
    empty_stores = [m for m in STORES_WRITTEN[args.workload]
                    if res["store_layers"][f"{m}.mb"] <= 0]
    attempted = res["attempted"]
    fail_frac = len(failures) / attempted
    for p in res["passes"]:
        kind = "cold" if p["pass"] == 0 else (
            "warm-up" if p["pass"] <= res["warmup_passes"] else "warm")
        print(f"pass {p['pass']:2d} {kind:7s} wall {p['wall_s']:7.3f} s  "
              f"jvm.gc {p['gc_s']:6.3f} s  jvm.jit {p['jit_s']:6.3f} s  "
              f"calls {p['calls']}")
    print(f"keys (seed order): {','.join(res['keys'])}")
    print(f"call samples: {res['call_samples']}")
    print(f"check pass: {res['check_s']:.3f} s (untimed)")
    print(f"fail_frac {fail_frac:.4f} ratio ({len(failures)}/{attempted})")
    for f in failures:
        print(f"FAILED {f}")
    for m in empty_stores:
        print(f"FAILED {m} (store): nothing written under the module's root")
    correct = not failures and not empty_stores

    end_to_end = {name: {"value": res[name], "unit": unit} for name, unit in END_TO_END}
    metrics = end_to_end
    if args.trace:
        layers = {**res["layers"], **res["store_layers"]}
        metrics = {name: {"value": layers[name], "unit": layer_unit(name)}
                   for name in sorted(layers)}
        print(f"ledger: {args.ledger}")
        # end-to-end values of a traced run, for the tracing overhead only
        for name, m in end_to_end.items():
            print(f"traced {name} {m['value']} {m['unit']}")
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
