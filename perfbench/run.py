#!/usr/bin/env python3
"""Run one certaspark benchmark workload and print its result.

Usage, from the repository root:

    python3 perfbench/run.py --workload explain_single --seed 1 --seconds 10 --trace 0

The first run builds the library and the harness with sbt (offline) into
perfbench/target and reuses the build while the sources are unchanged.
Each run starts one JVM, which sets up, measures for --seconds and checks
every output. The last line of standard output is one JSON object with
the keys correct, attempted, failed and metrics. The lines before it give
the per-operation checks and the host-noise record (nproc, max heap and
the hypervisor steal seconds read from /proc/stat across the run).

--record-digests stores the output digests this run observed as the
expected ones for its workload, seed and core count in digests.json.
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
LIBRARY = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench.classpath")
STAMP = os.path.join(TARGET, "bench.stamp")
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")
DIGESTS = os.path.join(HERE, "digests.json")
WORKLOADS = ("explain_single", "explain_eval", "corpus_funnel", "stream_dedup")
RUN_LIMIT_S = 175.0
BUILD_LIMIT_S = 700.0
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(message, code):
    print("run.py: " + message, file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [LIBRARY, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the group past the limit."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None


def build(deadline):
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    os.makedirs(RESULTS, exist_ok=True)
    log = os.path.join(RESULTS, "build.log")
    with open(log, "wb") as fh:
        code, _ = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            max(1.0, deadline - time.time()), cwd=HERE, env=env,
            stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(CLASSPATH):
        fail("the build failed; see " + os.path.relpath(log, ROOT), 3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return True


def steal_seconds():
    """Host steal time so far, from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def check_digests(res, nproc, record):
    """Mark operations whose digest differs from the recorded one for this
    workload, seed and core count, or from an earlier run of the same
    input in this run. Returns the failure messages."""
    recorded = {}
    if os.path.exists(DIGESTS):
        with open(DIGESTS) as fh:
            recorded = json.load(fh)
    slot = recorded.get(res["workload"], {}).get(str(nproc), {}).get(str(res["seed"]), {})
    seen, failures = {}, []
    for op in res["ops"]:
        if not op["digest"]:
            continue
        first = seen.setdefault(op["key"], op["digest"])
        expected = slot.get(op["key"], first)
        if op["digest"] != expected or op["digest"] != first:
            if op["ok"]:
                op["ok"] = False
                res["failed"] += 1
            failures.append("%s: digest %s, expected %s" % (op["key"], op["digest"], expected))
    if record and res["failed"] == 0:
        recorded.setdefault(res["workload"], {}).setdefault(str(nproc), {})[str(res["seed"])] = seen
        with open(DIGESTS, "w") as fh:
            json.dump(recorded, fh, indent=1, sort_keys=True)
            fh.write("\n")
    return failures


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(LIBRARY, "graft")):
        fail("the library sources (src/main/scala/graft) are not in this checkout", 2)
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name the Spark installation", 2)

    built = build(start + BUILD_LIMIT_S)
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    tag = "%s-seed%d-trace%s" % (a.workload, a.seed, a.trace)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
        "-cp", classpath, "certabench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", WORK,
        "--trace-out", os.path.join(RESULTS, "trace-%s.json" % tag)]

    steal0 = steal_seconds()
    t0 = time.time()
    with open(os.path.join(RESULTS, "jvm-%s.log" % tag), "wb") as err:
        limit = (time.time() if built else start) + RUN_LIMIT_S - time.time()
        code, out = run_bounded(cmd, max(1.0, limit), cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL)
    wall = time.time() - t0
    steal1 = steal_seconds()
    shutil.rmtree(WORK, ignore_errors=True)
    if code is None:
        fail("the run exceeded its time limit", 4)
    lines = [l for l in out.decode("utf-8", "replace").splitlines() if l.startswith("CERTABENCH ")]
    if code != 0 or not lines:
        fail("the benchmark JVM failed (exit %s); see results/jvm-%s.log" % (code, tag), 5)
    res = json.loads(lines[-1][len("CERTABENCH "):])

    nproc = res["diagnostics"]["nproc"]
    failures = res["failures"] + check_digests(res, nproc, a.record_digests)
    host = {"nproc": nproc, "max_heap_mb": res["diagnostics"]["max_heap_mb"],
            "steal_s": None if steal0 is None or steal1 is None else round(steal1 - steal0, 2),
            "jvm_wall_s": round(wall, 3)}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace == "1",
                      "host": host, "diagnostics": res["diagnostics"]}))
    print(json.dumps({"ops": res["ops"]}))
    for name, m in res["metrics"].items():
        print("%-34s %14.6g %s" % (name, m["value"], m["unit"]))
    print("attempted %d, failed %d, output check %s%s" % (
        res["attempted"], res["failed"], "pass" if res["failed"] == 0 else "FAIL",
        "" if not failures else ": " + "; ".join(failures[:5])))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
