#!/usr/bin/env python3
"""Build the benchmark and run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline); later runs reuse the build while
no source file is newer than it. The benchmark JVM writes its results to
perfbench/work/results/; this script prints every measured metric, one per
line, and then, as the last line, one JSON object with `correct`,
`attempted`, `failed` and the metrics BENCHMARK.json lists for the mode
(`end_to_end` with --trace 0, `per_layer` with --trace 1).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (as in the root build).
OPENS = [x for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
] for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        for top in (ROOT, HERE):
            p = os.path.join(top, f)
            if os.path.exists(p):
                newest = max(newest, os.path.getmtime(p))
    return newest


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("no program sources at %s; run from the root of a checkout" % need)
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    log = os.path.join(os.path.dirname(CLASSPATH), "build.log")
    with open(log, "w") as out:
        code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           BUILD_LIMIT_S, cwd=HERE, env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = [l.strip() for l in f]
    cp = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed (exit %s); log in %s" % (code, log))
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1])
    return cp[-1]


def wanted_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]], spec


def main():
    # A terminated run still reaps its sbt or JVM process group (run_bounded).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    wanted, spec = wanted_metrics(a.trace)

    cp = build()

    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(WORK, "run-" + tag)
    results = os.path.join(WORK, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    cmd = ["java", *OPENS, "-Xmx" + HEAP,
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.local.dir=" + os.path.join(work, "tmp"),
           "-Dspark.sql.warehouse.dir=" + os.path.join(work, "spark-warehouse"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--out", out,
           "--trace-out", os.path.join(results, tag + ".spans.json")]
    code = run_bounded(cmd, RUN_LIMIT_S, cwd=ROOT, env=env, stdout=sys.stderr,
                       stdin=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        fail("workload %s ended with %s" % (a.workload, "a timeout" if code is None else "exit %d" % code))
    with open(out) as f:
        res = json.load(f)

    for line in res["lines"]:
        print(line)
    m = res["metrics"]
    for name in sorted(m):
        label = m[name].get("label")
        print("%-44s %-16s %s%s" % (name, repr(m[name]["value"]), m[name]["unit"],
                                    "  (= %s)" % label if label else ""))
    print("%-44s %-16s %s" % ("failed_frac", repr(res["failed"] / max(res["attempted"], 1)), "ratio"))
    if a.trace:
        base = os.path.join(results, "%s-seed%d-trace0.json" % (a.workload, a.seed))
        if os.path.exists(base):
            with open(base) as f:
                bm = json.load(f)["metrics"]
            for e in spec["end_to_end"]:
                n = e["name"]
                if n in m and n in bm and bm[n]["value"]:
                    print("trace overhead %-29s %+.2f%% (%r traced, %r untraced)" % (
                        n, 100 * (m[n]["value"] / bm[n]["value"] - 1), m[n]["value"], bm[n]["value"]))
        else:
            print("trace overhead: no untraced run of this workload and seed to compare")

    missing = [n for n in wanted if n not in m]
    if missing:
        fail("workload %s measured no %s" % (a.workload, ", ".join(missing)))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": m[n]["value"], "unit": m[n]["unit"]} for n in wanted},
    }))


if __name__ == "__main__":
    main()
