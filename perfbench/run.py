#!/usr/bin/env python3
"""graft's benchmark: one seeded workload, one JVM, one result line.

    python3 perfbench/run.py --workload reads --seed 1 --seconds 12 --trace 0

Builds graft and the benchmark from source if needed (perfbench/build.py),
runs the workload in a closed loop with one client under local[N]
(N = min(nproc, 2)), and prints as its last stdout line a JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The full
result (every metric with its sample count, the environment, input
hashes, per-op records) goes to .bench_out/<workload>-s<seed>-t<trace>.json
and, for traced runs, the spans to ...-spans.jsonl beside it.
Workloads and metrics are described in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("reads", "writes")
HEAP = "2g"
# Spark's task threads (local[N]). With N at nproc, task threads, the
# driver, the JIT compiler and GC threads outnumber the cores, and the
# timings measure the scheduler; two leave room for the rest.
TASK_THREADS = 2
# The parallel collector with two threads, for the same reason: fewer
# threads besides the workload's than G1 runs.
STEADY_JVM = ["-XX:+UseParallelGC", "-XX:ParallelGCThreads=2"]
# one run must end within 180 s; the first run of a checkout also builds
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 880

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def declared_metrics():
    """Metric names BENCHMARK.json declares, by trace mode (None if absent)."""
    spec = ROOT / "BENCHMARK.json"
    if not spec.is_file():
        return None
    b = json.loads(spec.read_text())
    return {0: [m["name"] for m in b["end_to_end"]], 1: [m["name"] for m in b["per_layer"]]}


def git_commit():
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.monotonic()

    built_before = (build.OUT / "bench-classes.stamp").is_file()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    limit = RUN_LIMIT_S if built_before else FIRST_RUN_LIMIT_S

    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    stem = f"{a.workload}-s{a.seed}-t{a.trace}"
    result_file = out_dir / f"{stem}.json"
    log_file = out_dir / f"{stem}.log"
    for f in (result_file, out_dir / f"{stem}-spans.jsonl"):
        f.unlink(missing_ok=True)
    work = build.OUT / "work" / f"{stem}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "jtmp").mkdir(parents=True)

    cpus = min(os.cpu_count() or 1, TASK_THREADS)
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", *STEADY_JVM, "-Duser.timezone=UTC",
        # no hsperfdata file in the system temp directory
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'jtmp'}",
        f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
        "-cp", classpath, "graftbench.Main", a.workload, str(a.seed), str(a.seconds),
        str(a.trace), str(cpus), str(work), str(result_file)]
    rc = None
    try:
        with open(log_file, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=max(10.0, limit - (time.monotonic() - t0)))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print(f"{stem}: killed after {limit} s; log in {log_file}", file=sys.stderr)
                return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not result_file.is_file():
        tail = log_file.read_text(errors="replace")[-3000:]
        print(f"{stem}: JVM exited {rc}; log tail:\n{tail}", file=sys.stderr)
        return 4

    res = json.loads(result_file.read_text())
    res["env"]["git_commit"] = git_commit()
    res["env"]["graft_source_sha256"] = (build.OUT / "graft-classes.stamp").read_text()
    res["env"]["bench_source_sha256"] = (build.OUT / "bench-classes.stamp").read_text()
    result_file.write_text(json.dumps(res, indent=1))

    source = res["per_layer"] if a.trace else res["end_to_end"]
    metrics = {k: {"value": v["value"], "unit": v["unit"]} if isinstance(v, dict) else v
               for k, v in source.items()}
    names = declared_metrics()
    if names is not None:
        missing = [n for n in names[a.trace] if n not in metrics]
        if missing:
            print(f"{stem}: result lacks declared metrics {missing}", file=sys.stderr)
            return 5
        metrics = {n: metrics[n] for n in names[a.trace]}
    for f in res["failures"]:
        print(f"FAILED op {f['op']} ({f['kind']}): {f['note']}")
    print(f"{stem}: {res['attempted']} ops, {res['failed']} failed; "
          f"wall {time.monotonic() - t0:.1f} s; result in {result_file.relative_to(ROOT)}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
