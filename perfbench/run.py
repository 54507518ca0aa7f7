"""Crawl-round benchmark of the graft engine.

Run one measurement (from the root of a checkout):

    python3 perfbench/run.py --workload gate_heavy --seed 1 --seconds 10 --trace 0

builds the engine and the benchmark from source (cached in .bench_build),
generates the seed's inputs in one JVM (or finds them cached), measures in
a second JVM at local[k] (k = min(4, cores)) and prints, as its last stdout
line, {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.

Compare a parent and a change (both checkouts; this benchmark's code is used
for both) over ten pairs of runs per workload, alternating which side runs
first in each pair:

    python3 perfbench/run.py compare --parent DIR --change DIR

Self-test of the output checks (each must reject a perturbed result):

    python3 perfbench/run.py selftest
"""

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402

ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
# a run must end within 180 s (900 s for the first one in a checkout, which
# builds); keep margin for JVM exit
RUN_TIMEOUT_S = 170
FIRST_RUN_TIMEOUT_S = 880
# compare: pairs per workload, and the seed of the first pair
PAIRS = 10
COMPARE_SEED0 = 5000


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_jvm(jar, phase, workload, seed, work, deadline, seconds=0, trace=0):
    """Runs one benchmark JVM, `phase` "prepare" (generate the seed's inputs)
    or "measure"; returns (result dict or None, other stdout lines). The
    result is None for a prepare and for a JVM that failed."""
    args = ["--phase", phase, "--workload", workload, "--seed", str(seed), "--work", work,
            "--cores", str(cores())]
    if phase == "measure":
        args += ["--seconds", str(seconds), "--trace", str(trace)]
    cmd = build.java(jar, "graft.perfbench.Main", args, build.archive(jar))
    os.makedirs(work, exist_ok=True)
    log = os.path.join(work, "%s-%s.log" % (workload, phase))
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True, cwd=ROOT)
        try:
            out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            out = ""
            print("[perfbench] %s timed out" % phase, file=sys.stderr)
    if proc.returncode != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        raise RuntimeError("the %s JVM of %s (seed %d) failed" % (phase, workload, seed))
    lines = out.splitlines()
    result = None
    for line in lines:
        if line.startswith("PERFBENCH "):
            result = json.loads(line[len("PERFBENCH "):])
    return result, [l for l in lines if not l.startswith("PERFBENCH ")]


def validate(result, names):
    metrics = result["metrics"]
    missing = [n for n in names if n not in metrics]
    if missing:
        raise RuntimeError("metrics missing from the result: %s" % missing)
    result["metrics"] = {n: metrics[n] for n in names}
    return result


def measure(args):
    started = time.time()
    s = spec()
    names = [m["name"] for m in (s["per_layer"] if args.trace == 1 else s["end_to_end"])]
    if args.workload not in [w["name"] for w in s["workloads"]]:
        raise RuntimeError("unknown workload %s" % args.workload)
    jar, built = build.build(ROOT, os.path.join(BUILD_DIR, "main"))
    deadline = (min(started + FIRST_RUN_TIMEOUT_S, time.time() + RUN_TIMEOUT_S) if built
                else started + RUN_TIMEOUT_S)
    work = os.path.join(BUILD_DIR, "work")
    for line in run_jvm(jar, "prepare", args.workload, args.seed, work, deadline)[1]:
        print(line)
    result, lines = run_jvm(jar, "measure", args.workload, args.seed, work, deadline,
                            args.seconds, args.trace)
    for line in lines:
        print(line)
    if result is None:
        print("[perfbench] the measurement produced no result", file=sys.stderr)
        return 1
    print(json.dumps(validate(result, names)))
    return 0


# ---------------- compare ----------------------------------------------------

def quartiles(xs):
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(parent, change, better, bound):
    """Per-metric comparison over paired runs: a gain needs the change to
    win >= 90% of pairs and the medians to differ by more than the parent's
    interquartile spread; a regression is a median worse by more than the
    bound; a parent spread wider than the bound leaves the metric unresolved
    unless every change run beats every parent run."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) < 0)
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    spread = pq3 - pq1
    worse = sign * (pmed - cmed) / abs(pmed) if pmed else 0.0
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if wins >= 0.9 * len(parent) and abs(cmed - pmed) > spread:
        v = "gain"
    elif pmed and spread / abs(pmed) > bound and not all_better:
        v = "unresolved"
    elif worse > bound:
        v = "regression"
    else:
        v = "no regression"
    return {"parent": [pq1, pmed, pq3], "change": [cq1, cmed, cq3],
            "won": wins / len(parent), "lost": losses / len(parent), "verdict": v}


def compare(argv):
    p = argparse.ArgumentParser(prog="run.py compare")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    a = p.parse_args(argv)
    s = spec()
    sides = {}
    for side in ("parent", "change"):
        root = os.path.abspath(getattr(a, side))
        sides[side] = build.build(root, os.path.join(BUILD_DIR, "compare", side))[0]
    work = os.path.join(BUILD_DIR, "compare", "work")
    report = {}
    for w in (x["name"] for x in s["workloads"]):
        runs = {"parent": [], "change": []}
        for i in range(PAIRS):
            seed = COMPARE_SEED0 + i
            # inputs come from the parent's generator, before either side runs
            run_jvm(sides["parent"], "prepare", w, seed, work, time.time() + RUN_TIMEOUT_S)
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res, _ = run_jvm(sides[side], "measure", w, seed, work,
                                 time.time() + RUN_TIMEOUT_S, s["run_seconds"])
                if res is None or not res["correct"]:
                    raise RuntimeError("%s run of %s (seed %d) failed" % (side, w, seed))
                runs[side].append(res["metrics"])
            print("[perfbench] %s pair %d/%d done" % (w, i + 1, PAIRS), file=sys.stderr)
        report[w] = {}
        for m in s["end_to_end"]:
            n = m["name"]
            report[w][n] = verdict([r[n]["value"] for r in runs["parent"]],
                                   [r[n]["value"] for r in runs["change"]],
                                   m["better"], m["bound"])
            v = report[w][n]
            print("%-15s %-22s parent %s change %s won %.0f%% -> %s" % (
                w, n, "/".join("%.4g" % x for x in v["parent"]),
                "/".join("%.4g" % x for x in v["change"]), 100 * v["won"], v["verdict"]))
    os.makedirs(os.path.join(BUILD_DIR, "compare"), exist_ok=True)
    with open(os.path.join(BUILD_DIR, "compare", "report.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report))
    return 0


def selftest():
    jar = build.build(ROOT, os.path.join(BUILD_DIR, "selftest"), with_tests=True)[0]
    rc = subprocess.run(build.java(jar, "graft.perfbench.ChecksTest", [])).returncode
    rc2 = subprocess.run([sys.executable, "-m", "unittest", "discover", "-s",
                          os.path.join(BENCH_DIR, "test"), "-p", "test_*.py"]).returncode
    return rc or rc2


def main(argv):
    if argv[:1] == ["compare"]:
        return compare(argv[1:])
    if argv[:1] == ["selftest"]:
        return selftest()
    p = argparse.ArgumentParser(prog="run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return measure(p.parse_args(argv))


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except (RuntimeError, OSError, KeyError, ValueError) as e:
        print("[perfbench] error: %s" % e, file=sys.stderr)
        sys.exit(2)
