#!/usr/bin/env python3
"""Benchmark runner for graft.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from the checkout's sources (sbt, once
per source state), runs one workload in one JVM on local[nproc], checks
its outputs, prints every metric by name and unit, and prints as its last
line one JSON object with the keys correct, attempted, failed and metrics.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Every run's raw values are appended to perfbench/.work/samples.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(HERE, "target", "launch.json")
STAMP = os.path.join(HERE, "target", "launch.stamp")
WORKLOADS = ("migrate_curate", "store_churn")
HEAP = "2g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def die(msg, code=2):
    print(f"[bench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the engine's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(f for f in files if os.path.isfile(f))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_proc(cmd, log_path, timeout, env=None, cwd=None):
    """Run cmd in its own process group with output to log_path; kill
    the whole group on timeout and wait for it to end."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             cwd=cwd, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("engine sources not found next to perfbench/ (run from a graft checkout)")
    fp = fingerprint()
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == fp:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    t0 = time.time()
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                  log, BUILD_TIMEOUT_S, env=env, cwd=HERE)
    if rc != 0 or not os.path.isfile(LAUNCH):
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"build failed (exit {rc}); log: {log}")
    with open(STAMP, "w") as fh:
        fh.write(fp)
    print(f"[bench] built in {time.time() - t0:.1f} s")


def run_jvm(args, work):
    with open(LAUNCH) as fh:
        launch = json.load(fh)
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}"] + launch["jvm"] +
           ["-cp", os.pathsep.join(launch["classpath"]), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out])
    log = os.path.join(work, "jvm.log")
    rc = run_proc(cmd, log, RUN_TIMEOUT_S, cwd=work)
    if rc != 0 or not os.path.isfile(out):
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        die(f"benchmark JVM failed (exit {rc}); log: {log}")
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build()
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(args, work)

    sys.path.insert(0, HERE)
    import oracle
    checks = list(res["checks"])
    if args.workload == "migrate_curate":
        checks += oracle.check_migration(res["facts"]["wp_dir"], res["facts"]["out_dir"])
    inputs = {os.path.relpath(p, work): {"rows": oracle.parquet_rows(p), "bytes": b}
              for p, b in res["inputs"].items()}
    metrics = {k: res["metrics"][k] for k in res["metric_order"]}
    missing = [k for k, m in metrics.items() if not isinstance(m["value"], (int, float))]
    if missing:
        checks.append({"name": "metrics_measured", "ok": False,
                       "detail": f"no value for {', '.join(missing)}"})
    jvm_checks = len(res["checks"])
    attempted = res["attempted"] + len(checks) - jvm_checks
    failed = res["failed"] + sum(1 for c in checks[jvm_checks:] if not c["ok"])
    correct = failed == 0 and all(c["ok"] for c in checks)

    for c in checks:
        print(f"[check] {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    print(f"[bench] {args.workload} seed={args.seed} passes={res['passes']} "
          f"timed Spark jobs={res['jobs']}")
    # reported, not gated: across seeds on a shared 4-core host these spread
    # wider than a regression bound can be set
    tail = res["job_tail_ms"]
    print(f"[info] job_p50_ms = {res['job_p50_ms']} ms, job_tail_ms = {tail['value']} ms "
          f"(p{tail['percentile']:.1f} of {res['jobs']} jobs), "
          f"peak_rss_mb = {res['peak_rss_mb']:.1f} MB")
    print(f"[bench] error_rate = {failed}/{attempted} = {failed / attempted:.4f}")
    for k, m in metrics.items():
        print(f"[metric] {k} = {m['value']} {m['unit']}")

    with open(os.path.join(WORK, "samples.jsonl"), "a") as fh:
        fh.write(json.dumps({
            "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "correct": correct, "attempted": attempted,
            "failed": failed, "metrics": {k: m["value"] for k, m in metrics.items()},
            "pass_wall_s": res["pass_wall_s"], "setup_parts_s": res["setup_parts_s"],
            "job_p50_ms": res["job_p50_ms"], "job_tail_ms": res["job_tail_ms"],
            "peak_rss_mb": res["peak_rss_mb"],
            "jobs": res["jobs"],
            "digest": res["digest"], "inputs": inputs}) + "\n")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
