#!/usr/bin/env python3
"""Repeat wapbench runs and compare result sets against BENCHMARK.json.

Run every workload ten times with seeds 1..10 and keep the results:

    python3 wapbench/repeat.py run --seeds 1-10 --out wapbench/out/a.json

Each metric is summarised as its median, first and third quartile
(statistics.quantiles(values, n=4)) and spread = (q3 - q1) / median, next to
the bound BENCHMARK.json fixes for it.

Compare two result sets, e.g. a parent commit (a.json) and a change (b.json):

    python3 wapbench/repeat.py compare wapbench/out/a.json wapbench/out/b.json

A metric is a REGRESSION when the second median is worse than the first by
more than its bound, UNRESOLVED when either set spreads wider than the bound,
and ok otherwise. Exits 1 when a run failed or a regression shows.

setup_s is judged on its median alone. Its first set-up round includes the
JVM's own warm-up, which swings with the host more than any measured
request, so its spread is not held to its bound; a set-up that got slower
still shows as a REGRESSION.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
# metrics judged on their median only (see the module docstring)
SPREAD_EXEMPT = {"setup_s"}


def load_spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def summarise(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf"),
            "n": len(values)}


def summaries(runs):
    names = sorted({m for r in runs for m in r["metrics"]})
    return {n: summarise([r["metrics"][n]["value"] for r in runs if n in r["metrics"]])
            for n in names}


def cmd_run(args):
    spec = load_spec()
    workloads = [w["name"] for w in spec["workloads"]] if args.workload == "all" else [args.workload]
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    result = {"seconds": seconds, "workloads": {}}
    ok = True
    for w in workloads:
        runs = []
        for seed in parse_seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                   "--seconds", str(seconds), "--trace", "0"]
            p = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            try:
                last = json.loads(lines[-1])
            except (IndexError, ValueError):
                last = None
            if p.returncode != 0 or last is None or not last["correct"] or last["failed"]:
                ok = False
                print(f"{w} seed {seed}: FAILED (exit {p.returncode})", flush=True)
                print("\n".join(lines[-25:]), flush=True)
                continue
            last["seed"] = seed
            runs.append(last)
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()), flush=True)
        result["workloads"][w] = runs
        if len(runs) >= 2:
            print_summary(w, summaries(runs), bounds)
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    return 0 if ok else 1


def print_summary(workload, summ, bounds):
    print(f"\n{workload}: {'metric':<28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name, s in summ.items():
        b = bounds.get(name)
        flag = ""
        if b is not None and name not in SPREAD_EXEMPT:
            flag = "  OVER BOUND" if s["spread"] > b else ("  over bound/3" if s["spread"] > b / 3 else "")
        print(f"{'':{len(workload) + 2}}{name:<28} {s['median']:>12.5g} {s['q1']:>12.5g} "
              f"{s['q3']:>12.5g} {s['spread']:>8.3f} {'' if b is None else b:>6}{flag}")
    print(flush=True)


def cmd_compare(args):
    spec = load_spec()
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    with open(args.first) as f:
        first = json.load(f)
    with open(args.second) as f:
        second = json.load(f)
    worse = False
    for w in sorted(set(first["workloads"]) & set(second["workloads"])):
        a, b = summaries(first["workloads"][w]), summaries(second["workloads"][w])
        print(f"\n{w}: {'metric':<28} {'first':>12} {'second':>12} {'change':>8} {'bound':>6}  verdict")
        for name in sorted(set(a) & set(b)):
            m = metrics.get(name)
            change = b[name]["median"] / a[name]["median"] - 1.0
            if m is None:
                verdict, bound = "", ""
            else:
                bound = m["bound"]
                worse_by = change if m["better"] == "lower" else -change
                spread = max(a[name]["spread"], b[name]["spread"])
                if worse_by > bound:
                    verdict = "REGRESSION"
                    worse = True
                elif name not in SPREAD_EXEMPT and spread > bound:
                    verdict = f"unresolved (spread {spread:.3f})"
                else:
                    verdict = "ok"
            print(f"{'':{len(w) + 2}}{name:<28} {a[name]['median']:>12.5g} {b[name]['median']:>12.5g} "
                  f"{change:>+8.3f} {bound:>6}  {verdict}")
    return 1 if worse else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="repeat workloads over seeds")
    r.add_argument("--workload", default="all", help="a workload name, or all (default)")
    r.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 3,5,8 (default 1-10)")
    r.add_argument("--out", help="write the result set here")
    c = sub.add_parser("compare", help="compare two result sets against the bounds")
    c.add_argument("first")
    c.add_argument("second")
    args = ap.parse_args()
    sys.exit(cmd_run(args) if args.cmd == "run" else cmd_compare(args))


if __name__ == "__main__":
    main()
