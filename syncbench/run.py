#!/usr/bin/env python3
"""Run one syncbench workload and print its result as the last line.

    python3 syncbench/run.py --workload replicate|serve_mixed \
        [--seed N] [--seconds S] [--trace 0|1]

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline); later runs reuse the build
while no source file has changed. Each run starts one JVM that sets up
the workload from the seed, measures for --seconds, checks that the
outputs are correct and prints its metrics. Every file the run writes
lives under .syncbench/ in the repository root.

The last stdout line is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. See syncbench/README.md.
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
WORK = os.path.join(ROOT, ".syncbench")
RESULT_TAG = "SYNCBENCH_RESULT "
WORKLOADS = ("replicate", "serve_mixed")
# wall budget of one run; the first run of a checkout also builds
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 840


def fail(msg, code):
    print(f"syncbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM="3g")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(deadline):
    """Compile engine + benchmark unless the stamped build is current;
    returns (classpath, jvm options)."""
    stamp = os.path.join(WORK, "build.stamp")
    launch = os.path.join(WORK, "launch.txt")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(launch):
        with open(stamp) as fh:
            if fh.read().strip() == fp:
                return read_launch(launch)
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "launchSpec"], HERE, sbt_env(), out, out,
                       deadline - time.time())
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"build failed (exit {rc}); log in {log}", 3)
    shutil.copy(os.path.join(HERE, "target", "launch.txt"), launch)
    with open(stamp, "w") as fh:
        fh.write(fp + "\n")
    return read_launch(launch)


def read_launch(path):
    with open(path) as fh:
        lines = [l.rstrip("\n") for l in fh if l.strip()]
    return lines[0], lines[1:]


def run_child(cmd, cwd, env, stdout, stderr, budget_s):
    """Run cmd in its own process group; kill the group past budget_s.
    Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=stderr, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, budget_s))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    t0 = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1", 2)
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("the engine sources (src/main/scala/graft, build.sbt) are not "
             "in this checkout; nothing to benchmark", 2)
    built_now = not os.path.exists(os.path.join(WORK, "build.stamp"))
    cp, jvm_opts = build(t0 + BUILD_BUDGET_S)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cpus = str(os.cpu_count() or 4)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    trace_out = os.path.join(WORK, "trace", f"{a.workload}-seed{a.seed}.jsonl")
    os.makedirs(os.path.dirname(trace_out), exist_ok=True)
    env["SYNCBENCH_TRACE_OUT"] = trace_out
    cmd = (["java"] + jvm_opts +
           ["-Xmx3g", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", cp, "graft.syncbench.Main", a.workload, str(a.seed),
            str(a.seconds), str(a.trace), os.path.join(run_dir, "data")])
    out_path = os.path.join(WORK, "jvm.out")
    err_path = os.path.join(WORK, "jvm.log")
    budget = (t0 + (BUILD_BUDGET_S if built_now else 0) + RUN_BUDGET_S
              - time.time())
    with open(out_path, "w") as out, open(err_path, "w") as err:
        rc = run_child(cmd, ROOT, env, out, err, budget)
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(out_path) as fh:
        lines = fh.read().splitlines()
    result = None
    for line in lines:
        if line.startswith(RESULT_TAG):
            result = json.loads(line[len(RESULT_TAG):])
        else:
            print(line)
    if rc != 0 or result is None:
        with open(err_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run failed (exit {rc}); JVM log in {err_path}", 4)
    print(f"wall {time.time() - t0:.1f} s")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
