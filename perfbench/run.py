#!/usr/bin/env python3
"""Serving + curation benchmark for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload serve_single --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

The first run compiles the engine (src/main/scala) and the benchmark
(perfbench/src, perfbench/test) with the Scala compiler that ships in
the Spark distribution ($SPARK_HOME/jars) into .bench_build/perfbench;
later runs reuse the build while the sources are unchanged. Each run
then starts one JVM on local[nproc], generates the workload's inputs
from --seed, sets up, measures for --seconds, checks the outputs and
prints one JSON result as the last line of standard output. All files
it writes stay under .bench_build/ in the current directory.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

WORKLOADS = ["serve_single", "serve_stream", "curate_dedup"]
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(".bench_build", "perfbench")
ARCHIVE = os.path.abspath(os.path.join(BUILD, "classes.jsa"))
CHILD_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        fail("no java found (set JAVA_HOME)")
    return found


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        found = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(found))) if found else None
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def sources():
    here = HERE
    engine = os.path.join("src", "main", "scala")
    if not os.path.isdir(engine):
        fail("run from the repository root: %s not found" % engine)
    files = []
    for top in (engine, os.path.join(here, "src"), os.path.join(here, "test")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    if not any(f.startswith(engine) for f in files):
        fail("no engine sources under %s" % engine)
    return sorted(files)


def build(jars):
    """Compile engine + benchmark into one jar unless the stamped sources
    are unchanged."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    jar = os.path.abspath(os.path.join(BUILD, "bench.jar"))
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [glob.glob(os.path.join(jars, p))[0] for p in
                ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar")]
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    t0 = time.time()
    print("perfbench: compiling %d source files" % len(files), file=sys.stderr)
    rc = subprocess.call([java_bin(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
                          "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                          "-classpath", os.path.join(jars, "*"), "@" + argfile],
                         stdout=sys.stderr)
    if rc != 0:
        fail("compilation failed")
    # class-data sharing needs the classes in a jar, not a directory
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(tmp)):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), tmp))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(tmp)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print("perfbench: compiled in %.1f s" % (time.time() - t0), file=sys.stderr)
    return jar


def cds_flags():
    """Class-data sharing. The first run after a build dumps the classes it
    loaded into ARCHIVE as it exits (about 25 s once); later runs map them
    instead of loading and verifying them again, which takes about 4 s off
    each run's JVM and Spark start-up on 4 cores. Returns the flags and the
    file being dumped, if any."""
    if os.path.exists(ARCHIVE):
        return ["-XX:SharedArchiveFile=" + ARCHIVE], None
    dump = "%s.%d" % (ARCHIVE, os.getpid())
    # the dump warns once per class it cannot archive: errors only
    return ["-XX:ArchiveClassesAtExit=" + dump, "-Xlog:cds*=error"], dump


def jvm(jar, jars, work, main, args, share=True):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = [java_bin(), "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    flags, dump = cds_flags() if share else ([], None)
    cmd += flags + ["-cp", jar + os.pathsep + os.path.join(jars, "*"), main] + args
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        print("perfbench: run timed out after %d s" % CHILD_TIMEOUT_S, file=sys.stderr)
        rc = 124
    if dump and os.path.exists(dump):
        if rc in (0, 1):
            os.replace(dump, ARCHIVE)
        else:
            os.remove(dump)
    return rc


def run_one(jar, jars, a, workload):
    work = os.path.abspath(os.path.join(".bench_build", "work", "%s-%d-%d" % (workload, a.seed, os.getpid())))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    try:
        rc = jvm(jar, jars, work, "graftbench.Main",
                 ["--workload", workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--work", work, "--result", result])
        res = json.load(open(result)) if os.path.exists(result) else None
        if res and a.trace:
            traces = os.path.join(".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            spans = result + ".spans.jsonl"
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(traces, "%s-%d.spans.jsonl" % (workload, a.seed)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return rc, res


def report(workload, res):
    for k, v in res.get("info", {}).items():
        print("%s info %s = %s" % (workload, k, v))
    for k, m in res["metrics"].items():
        print("%s metric %s = %s %s" % (workload, k, m["value"], m["unit"]))
    print("%s correct=%s attempted=%d failed=%d error_rate=%.4f" % (
        workload, res["correct"], res["attempted"], res["failed"],
        res["failed"] / max(1, res["attempted"])))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true",
                   help="check the input generator's determinism and exit")
    a = p.parse_args()
    if not a.self_test and not a.workload:
        p.error("--workload is required")
    jars = spark_jars()
    jar = build(jars)
    if a.self_test:
        work = os.path.abspath(os.path.join(".bench_build", "work", "selftest-%d" % os.getpid()))
        try:
            rc = jvm(jar, jars, work, "graftbench.GenSelfTest", [], share=False)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        sys.exit(rc)
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results, ok = {}, True
    for w in names:
        rc, res = run_one(jar, jars, a, w)
        if res is None:
            print("perfbench: %s produced no result (exit %d)" % (w, rc), file=sys.stderr)
            sys.exit(rc or 1)
        report(w, res)
        ok = ok and rc == 0 and res["correct"]
        results[w] = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
    if a.workload == "all":
        print(json.dumps(results, separators=(",", ":")))
    else:
        print(json.dumps(results[a.workload], separators=(",", ":")))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
