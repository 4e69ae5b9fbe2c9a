#!/usr/bin/env python3
"""Runs one benchmark workload of the graft engine and prints its result.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source first (see build.py), then
runs the workload in one JVM on `local[n]` (n = min(4, CPUs)). Everything
the run writes stays under .bench_build/ in the checkout. The summary lines
come first; the last line of standard output is one JSON object with the
keys correct, attempted, failed and metrics. `--out FILE` also appends that
object, tagged with workload, seed and trace, to FILE (for compare.py).
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("cdc_ingest", "cdc_serve", "corpus_pipeline")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "3g"
JVM_TIMEOUT_S = 170


def java_cmd(tmp, main_args):
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", p + "=ALL-UNNAMED"]
    flags += [
        "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss4m", "-XX:ReservedCodeCacheSize=512m",
        "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
        "-Dperfbench.driverMemory=" + HEAP,
    ]
    return (["java"] + flags + ["-cp", build.classpath(), "perfbench.Main"]
            + main_args)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append the tagged result to this file")
    a = ap.parse_args()

    if not build.has_sources():
        print("error: the engine sources (src/main/scala) are not in this "
              "directory; run from the root of a full checkout",
              file=sys.stderr)
        return 2
    build.ensure()

    cpus = max(1, min(4, os.cpu_count() or 1))
    tag = "%s-s%d-t%d" % (a.workload, a.seed, a.trace)
    tmp = os.path.join(build.BUILD, "tmp")
    work = os.path.join(build.BUILD, "work", tag)
    logs = os.path.join(build.BUILD, "logs")
    for d in (tmp, logs):
        os.makedirs(d, exist_ok=True)
    log_path = os.path.join(logs, tag + ".log")
    cmd = java_cmd(tmp, ["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--work", work, "--cpus", str(cpus)])
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                cwd=build.ROOT)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print("error: the benchmark JVM ran over %d s (log: %s)"
                  % (JVM_TIMEOUT_S, log_path), file=sys.stderr)
            return 1
    lines = out.decode(errors="replace").splitlines()
    result = None
    for line in reversed(lines):
        if line.startswith('{"correct"'):
            result = line
            break
    if proc.returncode != 0 or result is None:
        sys.stdout.write("\n".join(lines[-20:]) + "\n")
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        print("error: the benchmark JVM exited with %d and no result"
              % proc.returncode, file=sys.stderr)
        return 1
    for line in lines:
        if line != result:
            print(line)
    print("[perfbench] jvm wall %.1f s, log %s" % (time.time() - t0, log_path))
    if a.out:
        tagged = dict(json.loads(result), workload=a.workload, seed=a.seed,
                      trace=a.trace)
        with open(a.out, "a") as fh:
            fh.write(json.dumps(tagged, sort_keys=True) + "\n")
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
