"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|serve|curate --seed N \
        --seconds S --trace 0|1

Builds the engine and the benchmark from source (perfbench/build.py), runs
one workload in a single JVM on local[nproc] under a fresh scratch root
that is deleted afterwards, and prints as its last stdout line one JSON
object: correct, attempted, failed and metrics. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics; the traced run also writes its span file and a report with the
self time of every layer under .bench_build/traces/. The exit code is 0
only when every output check passed.
"""

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ingest", "serve", "curate")
JVM_TIMEOUT_S = 170
# the module opens Spark needs on JDK 17, as the repository's build.sbt sets them
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def loadavg_1m() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def declared_metrics() -> tuple:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def fail(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    try:
        e2e, layer = declared_metrics()
        classes = build.build()
        jars = build.spark_jars()
    except (build.BuildFailed, OSError, ValueError, KeyError) as e:
        fail(f"cannot build: {e}")

    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    run_root = build.BUILD_DIR / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    trace_dir = build.BUILD_DIR / "traces"
    shutil.rmtree(run_root, ignore_errors=True)
    run_root.mkdir(parents=True)
    # C1 only: with the optimizing compiler a batch keeps getting faster for
    # about a minute of work, longer than a run, so timings would measure how
    # far compilation got; C1 code is steady within the warm-up. C1 alone
    # gets a 48 MB code cache by default, which Spark's generated classes
    # fill within a run (the JIT then stops and method-handle linking fails),
    # so the cache gets the tiered default size.
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=240m", "-XX:-UsePerfData",
           *[f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS],
           f"-Djava.io.tmpdir={run_root / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={run_root / 'spark-local'}",
           f"-Dspark.hadoop.hadoop.tmp.dir={run_root / 'hadoop-tmp'}",
           "-cp", f"{classes}{os.pathsep}{jars / '*'}",
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cpus", str(cpus), "--root", str(run_root), "--trace-dir", str(trace_dir)]
    (run_root / "tmp").mkdir()
    load_before = loadavg_1m()
    result = None
    proc = None
    # a terminated benchmark still stops its JVM and deletes its scratch root
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    try:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=run_root)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"workload did not finish within {JVM_TIMEOUT_S} s")
        for line in out.splitlines():
            if line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
            else:
                print(line, file=sys.stderr)
        if proc.returncode != 0 or result is None:
            fail(f"workload exited with code {proc.returncode} and no result")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)
    load_after = loadavg_1m()

    got = result["metrics"]
    correct = bool(result["correct"])
    problems = list(result.get("failed_checks", []))
    wanted = layer if args.trace else e2e
    unknown = sorted(set(got) - set(wanted) - (set(e2e) if args.trace else set()))
    if unknown:
        problems.append(f"metrics not declared in BENCHMARK.json: {unknown}")
    metrics = {}
    for name, unit in wanted.items():
        if name in got:
            value = got[name]["value"]
            if got[name]["unit"] != unit:
                problems.append(f"{name}: unit {got[name]['unit']} != declared {unit}")
            if not isinstance(value, (int, float)) or not math.isfinite(value):
                problems.append(f"{name}: no finite value ({value})")
            metrics[name] = {"value": value, "unit": unit}
        elif args.trace:
            # a layer this workload never crosses did no work
            metrics[name] = {"value": 0.0, "unit": unit}
        else:
            problems.append(f"end-to-end metric {name} missing")
    if problems:
        correct = False
        for p in problems:
            print(f"[perfbench] check failed: {p}", file=sys.stderr)

    info = dict(result.get("info", {}))
    info.update({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                 "loadavg_1m_before": load_before, "loadavg_1m_after": load_after,
                 "cpus": cpus})
    if args.trace:
        trace_dir.mkdir(parents=True, exist_ok=True)
        report = trace_dir / f"{args.workload}-seed{args.seed}-report.json"
        report.write_text(json.dumps({"info": info, "metrics": metrics}, indent=1))
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": correct, "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
