#!/usr/bin/env python3
"""Profiler benchmark: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the profiler and
the harness from source with sbt (`perfbench/build.sbt`); later runs
reuse that build while the sources are unchanged. Every run starts one
JVM (`graft.perfbench.Main`) that generates the seeded inputs, sets up,
runs the timed loop and checks the outputs. Readable lines come first;
the last line of stdout is the JSON result. Everything a run writes
(build stamp, inputs, Spark scratch, checkpoints, spans) stays under
`.bench_build/` in the repository root.
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

WORKLOADS = ("profile_mixed_large", "profile_small_concurrent", "stream_windowed_profile")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(OUT, "launch")


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kwargs):
    """Runs `cmd` in its own process group; on timeout kills the whole
    group and waits for it. Returns (exit code or None on timeout, stderr)."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kwargs)
    try:
        _, err = proc.communicate(timeout=timeout)
        return proc.returncode, err
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, ""


def sources_digest():
    """Hash of every file the build reads from the repository."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    stamp = os.path.join(LAUNCH, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building profiler and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    tmp = os.path.join(OUT, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    t0 = time.time()
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "exportLaunch"],
                        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if code != 0:
        sys.exit(f"run.py: build failed (sbt exit {code})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"build took {time.time() - t0:.1f} s")


def java_command(args, work):
    with open(os.path.join(LAUNCH, "classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(os.path.join(LAUNCH, "javaopts.txt")) as fh:
        # the parent build's module flags, one per line; heap and tmpdir are pinned here
        opts = [o for o in fh.read().split("\n")
                if o and not o.startswith("-Xmx") and not o.startswith("-Djava.io.tmpdir")]
    return (["java", HEAP, f"-Djava.io.tmpdir={work}/tmp"] + opts +
            ["-cp", cp, "graft.perfbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace), "--dir", work])


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "profile",
                                       "ProfileRunner.scala")):
        sys.exit("run.py: the profiler sources (src/main/scala) are missing; "
                 "run from the repository root")
    build()

    work = os.path.join(OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result = run_jvm(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)


def run_jvm(args, work):
    """Runs the workload's JVM in `work`; returns its result, holding
    exactly the metrics BENCHMARK.json declares for this mode (the
    readable lines already printed show the rest)."""
    sys.stdout.flush()
    code, err = run_group(java_command(args, work), RUN_TIMEOUT_S,
                          stdout=sys.stdout, stderr=subprocess.PIPE, text=True)
    if code is None:
        sys.exit(f"run.py: workload exceeded {RUN_TIMEOUT_S} s")
    result_file = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_file):
        sys.stderr.write(err[-20000:])
        sys.exit(f"run.py: the JVM exited with {code} and no result")
    with open(result_file) as fh:
        result = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = [m["name"] for m in json.load(fh)["per_layer" if args.trace else "end_to_end"]]
    missing = [n for n in declared if result["metrics"].get(n, {}).get("value") is None]
    if missing:
        sys.exit(f"run.py: no value for {', '.join(missing)}")
    result["metrics"] = {n: result["metrics"][n] for n in declared}
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        keep = os.path.join(OUT, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        shutil.copy(spans, keep)
        print(f"spans kept in {os.path.relpath(keep, ROOT)}", flush=True)
    return result


if __name__ == "__main__":
    main()
