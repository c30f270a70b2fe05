"""Repeat the benchmark over seeds and judge its steadiness.

    # ten seeds per workload, summary written as a baseline set
    python3 perfbench/stability.py run --seeds 1-10 --out perfbench/baseline/set-a.json
    # three traced runs per workload, per-layer medians
    python3 perfbench/stability.py run --seeds 1-3 --trace 1 --out perfbench/baseline/traced.json
    # second set against the first, with the bounds of BENCHMARK.json
    python3 perfbench/stability.py compare perfbench/baseline/set-a.json perfbench/baseline/set-b.json

A set passes when, for every end-to-end metric but setup_s, the spread
(third minus first quartile over the median, statistics.quantiles n=4)
stays within the metric's bound; compare also requires each second median
to be no worse than the first by more than the bound.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds_arg(text):
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def machine():
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    return {"nproc": os.cpu_count(), "mem_gb": round(mem_kb / 2**20, 1),
            "platform": platform.platform(), "python": platform.python_version()}


def summarize(runs, trace):
    names = [n for n, _ in (stats.PER_LAYER if trace else stats.END_TO_END)]
    out = {}
    for n in names:
        xs = [r["metrics"][n]["value"] for r in runs if r.get("metrics")]
        if not xs:
            continue
        row = {"median": statistics.median(xs), "n": len(xs)}
        if len(xs) >= 2:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            row.update(q1=q1, q3=q3,
                       iqr_share=stats.iqr_share(xs) if row["median"] else None)
        out[n] = row
    return out


def cmd_run(args):
    bench = spec()
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]]
    seconds = args.seconds or bench["run_seconds"]
    result = {"machine": machine(), "seconds": seconds, "trace": args.trace,
              "runs": {}, "summary": {}}
    for w in workloads:
        runs = []
        for seed in seeds_arg(args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", str(args.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            run = {"seed": seed, "exit": p.returncode, "wall_s": round(wall, 1)}
            if p.returncode == 0 and lines:
                run.update(json.loads(lines[-1]))
                run["table"] = lines[:-1]
            else:
                run["stderr_tail"] = p.stderr[-2000:]
            runs.append(run)
            print("%s seed %d: exit %d, %.1f s, correct %s" % (
                w, seed, p.returncode, wall, run.get("correct")), flush=True)
        result["runs"][w] = runs
        result["summary"][w] = summarize(runs, args.trace)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=1)
    sys.exit(0 if report(result, bench) else 1)


def report(result, bench):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w, rows in result["summary"].items():
        print("== %s" % w)
        for n, row in rows.items():
            spread = row.get("iqr_share")
            verdict = ""
            if n in bounds and n != "setup_s" and spread is not None:
                steady = spread <= bounds[n]
                ok &= steady
                verdict = "%s (bound %.2f, target < %.3f)" % (
                    "ok" if steady else "TOO WIDE", bounds[n], bounds[n] / 3)
            print("  %-34s median %-14.6g spread %-8s %s" % (
                n, row["median"], "%.4f" % spread if spread is not None else "-", verdict))
    print("spreads within bounds" if ok else "SPREAD CHECK FAILED")
    return ok


def cmd_compare(args):
    bench = spec()
    with open(args.first) as fh:
        a = json.load(fh)
    with open(args.second) as fh:
        b = json.load(fh)
    ok = True
    for m in bench["end_to_end"]:
        for w in a["summary"]:
            m1 = a["summary"][w][m["name"]]["median"]
            m2 = b["summary"][w][m["name"]]["median"]
            worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
            good = worse <= m["bound"]
            ok &= good
            print("%-14s %-16s %-14.6g %-14.6g worse by %+.4f (bound %.2f) %s" % (
                w, m["name"], m1, m2, worse, m["bound"], "ok" if good else "REGRESSED"))
    print("second set within bounds of the first" if ok else "COMPARE FAILED")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", default="")
    r.add_argument("--seconds", type=int, default=0)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    args = ap.parse_args()
    cmd_run(args) if args.cmd == "run" else cmd_compare(args)


if __name__ == "__main__":
    main()
