#!/usr/bin/env python3
"""Benchmark of the profitscout Spark engine: one run of one workload.

    python3 perfbench/run.py --workload overnight|analytics \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the program
(src/main/scala) and the harness (perfbench/src) with the Scala compiler
that ships in the Spark jar directory named by build.sbt; later runs reuse
the classes until a source changes. Inputs are generated from the seed
(perfbench/gen.py), then one fresh JVM opens them, runs the workload's
passes and checks its outputs. The last stdout line is the result JSON.
Everything the run writes stays under .bench_build/ in the repository.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
WORKLOADS = ("overnight", "analytics")
HEAP = "2g"
JVM_TIMEOUT_S = 165
# the module openings Spark needs on JDK 17 outside spark-submit
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def jar_dir():
    """The Spark jar directory the repository's build.sbt compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        fail("no build.sbt here: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not glob.glob(os.path.join(m.group(1), "spark-core_*.jar")):
        fail("build.sbt names no Spark jar directory")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        fail("no program sources under src/main/scala")
    return main + bench


def build(jars):
    """Compile program + harness into .bench_build/classes unless current."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD, "classes.stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = [glob.glob(os.path.join(jars, n))[0] for n in
                    ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar")]
        cp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
        argfile = os.path.join(BUILD, "scalac.args")
        with open(argfile, "w") as f:
            f.write("\n".join(["-classpath", cp, "-d", tmp, "-nowarn"] + srcs))
        t = time.time()
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
                            "scala.tools.nsc.Main", "@" + argfile],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=sys.stderr)
            fail("compile failed", 3)
        res = os.path.join(ROOT, "src/main/resources")
        if os.path.isdir(res):
            shutil.copytree(res, tmp, dirs_exist_ok=True)
        shutil.rmtree(classes, ignore_errors=True)
        os.replace(tmp, classes)
        open(stamp_file, "w").write(stamp)
        print("perfbench: compiled %d sources in %.0f s" % (len(srcs), time.time() - t),
              file=sys.stderr)
    return classes


def inputs(workload, seed):
    import gen
    # keyed by the generator's source too, so a changed generator never
    # reuses inputs written by an older one
    tag = hashlib.sha256(open(gen.__file__, "rb").read()).hexdigest()[:10]
    d = os.path.join(BUILD, "inputs", "%s-%d-%s" % (workload, seed, tag))
    with open(os.path.join(BUILD, "inputs.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        gen.generate(workload, seed, d)
    return d


def run_jvm(classes, jars, workload, seed, trace, selftest=False):
    t = time.time()
    data = inputs(workload, seed)
    print("perfbench: inputs ready in %.1f s" % (time.time() - t), file=sys.stderr)
    work = os.path.join(BUILD, "run", "%s-%d-%s" % (workload, seed, "selftest" if selftest else "t%d" % trace))
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out)
    if workload == "overnight":  # the tracking table starts from its seeded state
        shutil.copytree(os.path.join(data, "tracking"), os.path.join(out, "tracking"))
    cores = min(4, os.cpu_count() or 1)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_") and k not in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS")}
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)] +
           ["-cp", classes + ":" + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--trace", str(trace), "--selftest", "1" if selftest else "0",
            "--cores", str(cores), "--partitions", str(2 * cores), "--heap", HEAP,
            "--data", data, "--out", out, "--work", work])
    log = os.path.join(work, "stderr.log")
    with open(log, "w") as err:
        t0 = time.time_ns()
        try:
            r = subprocess.run(cmd + ["--t0-ns", str(t0)], stdout=subprocess.PIPE,
                               stderr=err, text=True, env=env, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("%s timed out after %d s; log: %s" % (workload, JVM_TIMEOUT_S, log), 4)
    print("perfbench: JVM ran %.1f s" % ((time.time_ns() - t0) / 1e9), file=sys.stderr)
    tag = "PERFBENCH_SELFTEST " if selftest else "PERFBENCH_RESULT "
    lines = [l for l in r.stdout.splitlines() if l.startswith(tag)]
    if r.returncode != 0 or not lines:
        sys.stderr.write(open(log).read()[-3000:])
        fail("%s exited with %d; log: %s" % (workload, r.returncode, log), 5)
    return json.loads(lines[-1][len(tag):]), data, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    # accepted for the benchmark interface; a run does a fixed amount of
    # work (the first pass and one timed pass), not a fixed duration
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    jars = jar_dir()
    classes = build(jars)

    if a.selftest:
        import catalog_check
        missed = []
        for w in WORKLOADS:
            res, data, out = run_jvm(classes, jars, w, a.seed, 0, selftest=True)
            missed += res["missed"]
            if w == "analytics":
                tables, results = data + "/catalog", out + "/catalog/results"
                missed += ["catalog: " + e for e in catalog_check.check(tables, results)]
                missed += catalog_check.self_test(tables, results)
        print(json.dumps({"selftest_passed": not missed, "missed": missed}))
        sys.exit(1 if missed else 0)

    res, data, out = run_jvm(classes, jars, a.workload, a.seed, a.trace)
    correct = res["correct"]
    if a.workload == "analytics":
        import catalog_check
        t = time.time()
        errs = catalog_check.check(data + "/catalog", out + "/catalog/results")
        print("perfbench: oracle check %.1f s" % (time.time() - t), file=sys.stderr)
        res["errors"] += ["oracle: " + e for e in errs]
        correct = correct and not errs
    info = os.path.join(BUILD, "run", "%s-%d-t%d" % (a.workload, a.seed, a.trace), "result.json")
    with open(info, "w") as f:
        json.dump(res, f, indent=1)
    for e in res["errors"][:10]:
        print("perfbench: " + e, file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
