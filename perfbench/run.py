#!/usr/bin/env python3
"""Node benchmark: one workload, one run, one JSON line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md): put_ingest, mqtt_stream. The runner
builds the engine and the harness from source with sbt (once per source
state; later runs reuse the classes), runs the harness JVM, which
generates the workload's inputs from the seed and checks the outputs,
and prints:
  - `metric <name> <value> <unit>` lines for the workload's own metrics,
  - a `tracing_overhead ...` line on a traced run,
  - a `record {...}` line (machine, build and dataset),
  - last, one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end ones BENCHMARK.json lists,
with --trace 1 its per-layer ones (0 for a layer the workload does not
touch). All state stays under .bench_build/perfbench in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = 4
# A run must end within 180 s, or within 900 s when it builds: the
# harness JVM gets LIMIT_S from the end of the build, the build BUILD_LIMIT_S.
LIMIT_S = 170
BUILD_LIMIT_S = 700

WORKLOADS = ["put_ingest", "mqtt_stream"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    pats = ["build.sbt", "project/*.sbt", "project/*.properties",
            "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/*.properties", "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compile engine + harness with sbt unless this source state was
    built already; returns the runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh, open(cp_file) as cf:
            cp = cf.read().strip()
            if fh.read().strip() == digest and all(
                    os.path.exists(p) for p in cp.split(os.pathsep)[:2]):
                return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        f"writeClasspath {cp_file}"], HERE, env, out, BUILD_LIMIT_S)
    if rc is None:
        die("build exceeded its time limit", 3)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die("build failed", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(cp_file) as cf:
        return cf.read().strip()


def run_group(cmd, cwd, env, log, timeout):
    """Run `cmd` in its own process group; on timeout kill the whole
    group (sbt's launcher forks the JVM) and return None."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cp, args, run_dir, deadline):
    out_file = os.path.join(run_dir, "result.json")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/spark-local",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        f"-Dderby.system.home={run_dir}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", run_dir,
        "--out", out_file])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        rc = run_group(cmd, run_dir, env, log, deadline - time.time())
    if rc is None:
        die(f"harness JVM exceeded the time limit (log: {run_dir}/jvm.log)", 4)
    if not os.path.exists(out_file):
        die(f"harness JVM wrote no result, exit {rc} (log: {run_dir}/jvm.log)", 4)
    with open(out_file) as fh:
        return json.load(fh), rc


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(bench_file)):
        die("engine sources or BENCHMARK.json not found: run from the root "
            "of a checkout of the repository")
    with open(bench_file) as fh:
        bench = json.load(fh)
    os.makedirs(WORK, exist_ok=True)

    digest = source_digest()
    cp = build(digest)
    t_built = time.time()

    # one run's scratch at a time: older runs' state is removed first
    for old in glob.glob(os.path.join(WORK, "run-*")):
        shutil.rmtree(old, ignore_errors=True)
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{args.trace}")
    os.makedirs(run_dir)

    res, code = run_jvm(cp, args, run_dir, t_built + LIMIT_S)
    metrics = dict(res["metrics"])
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    measured = {m["name"] for m in wanted
                if metrics.get(m["name"], {}).get("value") is not None}
    checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    checks.append(("harness exit code 0", code == 0, ""))
    if not args.trace:
        checks += [(f"metric {m['name']} measured", False, "") for m in wanted
                   if m["name"] not in measured and m["name"] != "ok_frac"]
    # every check counts as one more operation, failed if it failed
    attempted = int(res["attempted"]) + len(checks)
    failed = int(res["failed"]) + sum(not ok for _, ok, _ in checks)
    metrics["ok_frac"] = {"value": 1.0 - failed / attempted, "unit": "ratio"}
    measured.add("ok_frac")
    # a layer the workload does not touch reports 0
    final = {m["name"]: {"value": metrics[m["name"]]["value"] if m["name"] in measured else 0,
                         "unit": m["unit"]}
             for m in wanted if m["name"] in measured or args.trace}

    record = dict(res["record"])
    record.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "machine": platform.machine(),
        "git_commit": git_commit(), "source_sha256": digest[:16],
        "build_s": round(t_built - t_start, 3), "fail_frac": failed / attempted,
    })
    with open(os.path.join(run_dir, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    for name, v in res["named"].items():
        print(f"metric {name} {v['value']} {v['unit']}")
    if "tracing_overhead" in record:
        ratio = metrics.get("trace.overhead_ratio", {}).get("value")
        print(f"tracing_overhead workload={args.workload} ratio={ratio} "
              f"{record['tracing_overhead']}")
    for name, ok, detail in checks:
        if not ok:
            print(f"check FAILED: {name} {detail}", file=sys.stderr)
    print("record " + json.dumps(record, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": final}))


if __name__ == "__main__":
    main()
