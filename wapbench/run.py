#!/usr/bin/env python3
"""Run one wapbench workload once and print its metrics.

    python3 wapbench/run.py --workload wap_ingest --seed 1 --seconds 15 --trace 0

Builds the benchmark and the graft library from source on first use (sbt,
into wapbench/target and target/), then runs the workload in one JVM with
Spark at local[<cores>]. Prints every metric by name with its unit, the
check verdicts and the host-contention sentinels, and as its last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones, and the span file and full per-layer table are written next to the
result under wapbench/out/.

Exits non-zero when a check fails, a request fails, or the run breaks.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
OUT = os.path.join(HERE, "out")

WORKLOADS = ("wap_ingest", "lake_read", "mixed_contended")


def contract_metrics():
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


# seconds the whole run may take; the build on first use gets its own budget
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
# the driver heap, fixed in size so the collector behaves the same in every
# run; the largest workload keeps under 400 MB live
HEAP = "3g"


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources_newer_than(path):
    """True when a source or build file of the library or the benchmark is
    newer than `path`."""
    stamp = os.path.getmtime(path)
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(REPO, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for root in roots:
        for d, _, names in os.walk(root):
            if os.sep + "target" in d:
                continue
            files.extend(os.path.join(d, n) for n in names)
    return any(os.path.getmtime(f) > stamp for f in files if os.path.isfile(f))


def run_bounded(cmd, cwd, limit_s, env=None, stdout=None):
    """Runs `cmd` in its own process group; kills the group on timeout and
    waits for it. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def build():
    """Compiles the library and the benchmark and records the launch
    classpath, unless an up-to-date build is already there."""
    if os.path.isfile(LAUNCH) and not sources_newer_than(LAUNCH):
        return
    log("[wapbench] building graft and wapbench with sbt ...")
    t0 = time.time()
    # the repository builds offline from pre-fetched dependencies; use the
    # same settings as its test command when the caller has not set them
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        opts = ["-Dsbt.offline=true", "-Xmx4g"]
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    code = run_bounded(["sbt", "-batch", "-Dsbt.server.autostart=false", "launchFile"],
                       HERE, BUILD_LIMIT_S, env=env, stdout=sys.stderr)
    if code != 0 or not os.path.isfile(LAUNCH):
        sys.exit(f"[wapbench] build failed (exit {code})")
    log(f"[wapbench] built in {time.time() - t0:.0f} s")


def launch_command():
    cp, jvm = None, []
    with open(LAUNCH) as f:
        for line in f:
            key, _, val = line.rstrip("\n").partition("=")
            if key == "classpath":
                cp = val
            elif key == "jvm" and not val.startswith("-Xmx"):
                jvm.append(val)
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep Spark's scratch space and warehouse inside the checkout
    jvm += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(OUT, 'warehouse')}"]
    return ["java"] + jvm + ["-cp", cp, "graft.wapbench.Main"]


def fmt(v):
    return "nan" if v is None or (isinstance(v, float) and math.isnan(v)) else f"{v:.6g}"


def report(res, trace, end_to_end, per_layer):
    """Prints the human-readable part of a result."""
    print(f"workload {res['workload']} seed {res['seed']} cores {res['cores']} "
          f"trace {int(res['trace'])} measured {res['measured_s']:.2f} s")
    e2e = res["end_to_end"]
    for name, unit in end_to_end.items():
        print(f"  {name:<22} {fmt(e2e.get(name)):>12} {unit}")
    for side in ("writes", "reads"):
        d = res[side]
        print(f"  {side}: n={d['n']} per_s={fmt(d['per_s'])} tail=p{fmt(d['tail_percentile'])} by request: " +
              ", ".join(f"{k} n={v['n']} p50={v['p50_ms']:.1f}ms"
                        for k, v in sorted(d["by_request"].items())))
    print(f"  attempted {res['attempted']} failed {res['failed']} "
          f"failed_ratio {res['failed_ratio']:.4g} compactions {res['compactions']}")
    s = res["sentinels"]
    print("  sentinels start " + " ".join(f"{k}={v:.3f}" for k, v in sorted(s["start"].items())) +
          " | end " + " ".join(f"{k}={v:.3f}" for k, v in sorted(s["end"].items())))
    bad = [c for c in res["checks"] if not c["ok"]]
    print(f"  checks: {'all passed' if not bad else f'{len(bad)} FAILED'}")
    for c in bad[:20]:
        print(f"    FAIL {c['name']}: {c['detail']}")
    if trace:
        print("  per-layer (traced requests):")
        for name, v in sorted(res["per_layer"].items()):
            print(f"    {name:<40} {fmt(v):>12} {per_layer.get(name, '')}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    end_to_end, per_layer = contract_metrics()
    if not (os.path.isfile(os.path.join(REPO, "build.sbt")) and
            os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft"))):
        sys.exit("[wapbench] the graft sources are not next to wapbench/; "
                 "run from a full checkout of the repository")
    t0 = time.time()
    build()
    log(f"[wapbench] launching the workload at {time.time() - t0:.2f} s")

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(OUT, f"work-{tag}-{os.getpid()}")
    out = os.path.join(OUT, f"result-{tag}.json")
    spans = os.path.join(OUT, f"spans-{tag}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    for f in (out, spans):
        if os.path.exists(f):
            os.remove(f)
    cmd = launch_command() + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out, "--spans", spans]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(OUT, "tmp"))
    limit = max(30.0, RUN_LIMIT_S - (time.time() - t0))
    try:
        code = run_bounded(cmd, REPO, limit, env=env, stdout=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(out):
        sys.exit(f"[wapbench] the workload run failed "
                 f"({'timed out' if code is None else f'exit {code}'})")

    log(f"[wapbench] run ended at {time.time() - t0:.2f} s")
    with open(out) as f:
        res = json.load(f)
    report(res, args.trace == 1, end_to_end, per_layer)
    names = per_layer if args.trace else end_to_end
    source = res["per_layer"] if args.trace else res["end_to_end"]
    metrics, missing = {}, []
    for name, unit in names.items():
        v = source.get(name)
        if v is None or math.isnan(v):
            missing.append(name)
        else:
            metrics[name] = {"value": v, "unit": unit}
    correct = bool(res["correct"]) and not missing
    if missing:
        print(f"  no value for: {', '.join(missing)}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct and res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
