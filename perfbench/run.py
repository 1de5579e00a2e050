#!/usr/bin/env python3
"""Benchmark of the extraction engine: one command per workload run.

    python3 perfbench/run.py --workload crawl_small --seed 1 --seconds 16 --trace 0

Run from the repository root. Builds the program from source on first use
(see build.py), runs the workload in one JVM at local[nproc], and prints one
JSON object as the last line of stdout:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
Other modes: --mode selftest (checks of the benchmark itself) and
--mode record (rewrites expected/query_set.tsv from the current program).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("crawl_small", "long_articles")
RUN_TIMEOUT_S = 170


def _stop(signum, frame):
    # unwinds through the finally blocks below, which stop the JVM
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _stop)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mode", choices=("run", "selftest", "record"), default="run")
    args = ap.parse_args()
    if args.mode == "run" and not args.workload:
        ap.error("--workload is required")

    t0 = time.time()
    root = os.getcwd()
    try:
        jar, jsa, digest = build.ensure(root)
        java = build.java_bin()
        cp = build.classpath(jar)
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2
    deadline = time.time() + RUN_TIMEOUT_S - min(10.0, time.time() - t0)

    tag = "%s-%s-seed%d-trace%d-%d" % (args.mode, args.workload or "all", args.seed, args.trace, os.getpid())
    bench = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(bench, "work", tag)
    tmp = os.path.join(work, "tmp")
    logs = os.path.join(bench, "logs")
    for d in (tmp, logs):
        os.makedirs(d, exist_ok=True)
    nproc = os.cpu_count() or 1
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                                cwd=root, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    cds = ["-XX:SharedArchiveFile=" + jsa] if jsa else []
    cmd = [java] + build.jvm_flags(nproc) + cds + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dperfbench.results=" + os.path.join(bench, "results"),
        "-Dperfbench.data=" + os.path.join(HERE, "data"),
        "-Dperfbench.expected=" + os.path.join(HERE, "expected", "query_set.tsv"),
        "-Dperfbench.corpus=" + os.path.join(HERE, "expected", "corpus.tsv"),
        "-Dperfbench.source=" + digest,
        "-Dperfbench.commit=" + commit,
        "-cp", cp, "graft.perfbench.Main",
        "--mode", args.mode, "--workload", args.workload or "", "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work]
    lines = []
    with open(os.path.join(logs, tag + ".log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True, cwd=root)
        try:
            for line in proc.stdout:
                line = line.rstrip("\n")
                lines.append(line)
                if time.time() > deadline:
                    raise subprocess.TimeoutExpired(cmd, RUN_TIMEOUT_S)
                if not line.startswith("{"):
                    print(line, flush=True)
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            print("perfbench: run exceeded %ds; stopped" % RUN_TIMEOUT_S, file=sys.stderr)
            return 3
        finally:
            # the JVM and any child JVM it started share this process group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)

    results = [l for l in lines if l.startswith("{")]
    if args.mode != "run":
        for l in results:
            print(l)
        return proc.returncode
    if not results:
        print("perfbench: the workload printed no result (exit %d); see %s" %
              (proc.returncode, os.path.join(logs, tag + ".log")), file=sys.stderr)
        return 4
    result = json.loads(results[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result", file=sys.stderr)
        return 5
    print(json.dumps(result))
    return 0 if result["correct"] and proc.returncode == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
