"""The repository benchmark: one command per workload.

    python3 perfbench/run.py --workload extract-scan --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1

Builds the program from source (perfbench/build.py), runs one workload in a
fresh JVM (perfbench/scala/graftbench/Main.scala), checks its outputs, and
prints a table followed by one JSON line: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 the run also measures the layers and reports the per-layer
metrics. Each run's raw record (samples, checks, and in traced runs the
spans and Spark ledgers) is kept in .bench_build/raw/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("extract-scan", "extract-write")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(classes, workload, seed, seconds, trace, work):
    out = os.path.join(work, "raw.json")
    here = os.path.dirname(os.path.abspath(__file__))
    # the program's runtime settings (build.sbt), with a fixed-size heap so
    # heap growth does not drift through the timed loop
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
           "-XX:NewRatio=1", "-Dfile.encoding=UTF-8",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(here, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", work, "--out", out]
    os.makedirs(os.path.join(work, "tmp"))
    proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=work)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise RuntimeError("benchmark JVM exited with %d" % code)
    with open(out) as fh:
        return json.load(fh)


def result(raw, trace):
    names = stats.PER_LAYER if trace else stats.END_TO_END
    values = stats.per_layer(raw) if trace else stats.end_to_end(raw)
    correct = raw["failed"] == 0 and all(c["ok"] for c in raw["checks"])
    return {"correct": correct, "attempted": raw["attempted"], "failed": raw["failed"],
            "metrics": {n: {"value": values[n], "unit": u} for n, u in names}}


def one(workload, args, root, classes):
    work = os.path.join(root, ".bench_build", "work", "%s-%d" % (workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(classes, workload, args.seed, args.seconds, args.trace, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    raw_dir = os.path.join(root, ".bench_build", "raw")
    os.makedirs(raw_dir, exist_ok=True)
    raw_path = os.path.join(raw_dir, "%s-seed%d-trace%d.json" % (
        workload, args.seed, args.trace))
    with open(raw_path, "w") as fh:
        json.dump(raw, fh)
    print("== %s (seed %d, %d turns, %d of %d operations failed)" % (
        workload, args.seed, raw["expected_turns"], raw["failed"], raw["attempted"]))
    for name, value, unit in stats.workload_view(raw):
        print("  %-22s %14.6g %s" % (name, value, unit))
    for c in raw["checks"]:
        if not c["ok"]:
            print("  CHECK FAILED: %s: %s" % (c["name"], c["detail"]))
    if args.trace:
        layers = stats.self_by_layer(stats.span_tree(raw, "traced.4"))
        print("  self time by layer over the traced loop (ms): %s" % "  ".join(
            "%s=%.1f" % kv for kv in sorted(layers.items())))
        print("  spans and Spark ledgers in %s" % os.path.relpath(raw_path, root))
    return result(raw, args.trace)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run unwinds through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    t0 = time.time()
    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit("perfbench: build failed: %s" % e)
    print("build ready in %.1f s" % (time.time() - t0), file=sys.stderr)
    try:
        if args.workload != "all":
            out = one(args.workload, args, root, classes)
        else:
            parts = {w: one(w, args, root, classes) for w in WORKLOADS}
            out = {"correct": all(p["correct"] for p in parts.values()),
                   "attempted": sum(p["attempted"] for p in parts.values()),
                   "failed": sum(p["failed"] for p in parts.values()),
                   "metrics": {"%s.%s" % (w, n): m for w, p in parts.items()
                               for n, m in p["metrics"].items()}}
    except (RuntimeError, OSError, KeyError, ValueError,
            subprocess.TimeoutExpired) as e:
        sys.exit("perfbench: run failed: %r" % (e,))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
