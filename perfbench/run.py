#!/usr/bin/env python3
"""Benchmark of the BI engine: one run of one workload.

    python3 perfbench/run.py --workload bi_serve --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with the Scala compiler of the Spark distribution
(SPARK_HOME, else the one spark-submit on PATH belongs to); later runs reuse
that build while no source file changes. The seed draws the run's inputs; the engine reads
the sf0.1 tables from PERFBENCH_DATA, else ~/testdata/sf0.1, else
testdata/sf0.1 beside the checkout.

The last line of standard output is one JSON object: `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics, or with
--trace 1 the per-layer ones). Failed ops are named on standard error. The
full raw record of the run is kept in perfbench/.work/last-<workload>.json.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SOURCES = [ENGINE_SRC, os.path.join(HERE, "src", "main", "scala")]
BUILD_INPUTS = SOURCES + [os.path.abspath(__file__)]
JAR = os.path.join(HERE, "target", "perfbench.jar")
STAMP_FILE = os.path.join(HERE, "target", "perfbench.stamp")
DIGESTS = os.path.join(HERE, "digests_sf0.1.json")
# where the sf0.1 tables are looked for, in order
DATA_DIRS = [d for d in (os.environ.get("PERFBENCH_DATA"),
                         os.path.expanduser(os.path.join("~", "testdata", "sf0.1")),
                         os.path.join(os.path.dirname(ROOT), "testdata", "sf0.1")) if d]
DEADLINE_S = 175  # a run must end within 180 s
SETUP_ROUNDS = 2  # cold set-ups per run, each in its own JVM; setup_s is their median
HEAP = "4g"
JDK17_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def jsa(workload):
    return os.path.join(os.path.dirname(JAR), f"classes-{workload}.jsa")


def spark_jars():
    """The Spark distribution's jars, which hold the Scala compiler and
    library the engine is built with, sorted so that the class path (which
    the class-data archive records) is the same in every run."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        sys.exit("[perfbench] no Spark distribution found: set SPARK_HOME")
    return jars


def classpath():
    return os.pathsep.join([JAR] + spark_jars())


def build(data):
    """Classpath of the harness, building it when a source changed. The
    engine and the harness are compiled together with the Scala compiler
    the Spark distribution ships, and everything the build writes stays in
    perfbench/target."""
    for p in BUILD_INPUTS:
        if not os.path.exists(p):
            sys.exit(f"[perfbench] missing {os.path.relpath(p, ROOT)}: run from a checkout root")
    stamp = source_stamp()
    cp = classpath()
    if os.path.exists(STAMP_FILE) and os.path.exists(JAR):
        with open(STAMP_FILE) as f:
            if f.read() == stamp:
                return cp
    log("building engine and harness (scalac)")
    t0 = time.time()
    target = os.path.dirname(JAR)
    classes, tmp = os.path.join(target, "classes"), os.path.join(target, "tmp")
    for d in (classes, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    for f in (STAMP_FILE, JAR):
        if os.path.exists(f):
            os.remove(f)
    sources = sorted(os.path.join(d, f) for top in SOURCES
                     for d, _, fs in os.walk(top) for f in fs if f.endswith(".scala"))
    args = os.path.join(target, "scalac-args.txt")
    with open(args, "w") as f:
        f.write("".join(f'"{src}"\n' for src in sources))  # quoted: paths may hold spaces
    jars = os.pathsep.join(spark_jars())
    p = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                        "-cp", jars, "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-classpath", jars, "@" + args],
                       cwd=target, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit("[perfbench] build failed")
    # a jar, not a class directory: the class-data archive only covers
    # classes loaded from jars
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    shutil.rmtree(tmp)
    # Class-data sharing: one unmeasured set-up per workload records the
    # classes it loads, and every measured run maps them instead of loading
    # them, which takes about 7 s off a cold start on the 4-core host.
    for w in inputs.WORKLOADS:
        if os.path.exists(jsa(w)):
            os.remove(jsa(w))
        harness(cp, "setup", w, inputs.generate(w, 0, 1), 1, 0, data, time.time(),
                f"-XX:ArchiveClassesAtExit={jsa(w)}")
        if not os.path.exists(jsa(w)):
            sys.exit(f"[perfbench] no class-data archive written for {w}")
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def harness(cp, mode, workload, inp, seconds, trace, data, t_start, cds):
    """One harness JVM in `mode` (run, or setup only), in a fresh work
    directory under perfbench/.work that is deleted when it ends."""
    work = os.path.join(HERE, ".work", f"{workload}-{mode}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        in_path, out_path = os.path.join(work, "inputs.json"), os.path.join(work, "record.json")
        with open(in_path, "w") as f:
            json.dump(inp, f)
        cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", cds, *JDK17_OPENS, f"-Djava.io.tmpdir={work}/tmp",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", cp, "perfbench.Harness", mode, workload, in_path, str(seconds),
               str(trace), data, work, out_path]
        err_path = os.path.join(work, "harness.err")
        with open(err_path, "w") as err:
            p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                 stdout=err, stderr=err)
            try:
                code = p.wait(timeout=max(1.0, DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                code = "timeout"
        with open(err_path) as f:
            text = f.read()
        for line in text.splitlines():
            if line.startswith("[perfbench]"):
                print(line, file=sys.stderr)
        if code != 0:
            sys.stderr.write(text[-3000:])
            sys.exit(f"[perfbench] harness ({mode}) exited with {code}")
        with open(out_path) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=inputs.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    data = next((d for d in DATA_DIRS if os.path.isfile(os.path.join(d, "orders.parquet"))), None)
    if data is None:
        sys.exit(f"[perfbench] no sf0.1 tables in {DATA_DIRS} (set PERFBENCH_DATA)")
    cp = build(data)
    t_start = time.time()  # the 180-s limit of a run excludes the build
    with open(DIGESTS) as f:
        digests = json.load(f)
    inp = inputs.generate(a.workload, a.seed, a.seconds, digests)
    cds = f"-XX:SharedArchiveFile={jsa(a.workload)}"
    # the other cold set-ups first, each in a JVM of its own; the full run
    # times its own set-up the same way
    setups = [harness(cp, "setup", a.workload, inp, a.seconds, 0, data, t_start, cds)["setup_s"]
              for _ in range(SETUP_ROUNDS - 1)]
    rec = harness(cp, "run", a.workload, inp, a.seconds, a.trace, data, t_start, cds)
    rec["setup_s"] = setups + rec["setup_s"]

    attempted, failed = metrics.counts(rec)
    e2e, lat = metrics.end_to_end(rec), metrics.latency(rec)
    chosen = metrics.per_layer(rec) if a.trace else e2e
    missing = metrics.unmeasured_layers(rec) if a.trace else []
    for name in missing:
        log(f"FAIL workload={a.workload} layer={name}: no spans recorded")
    rec["summary"] = {"seed": a.seed, "inputs_digest": inputs.digest(inp),
                      "attempted": attempted, "failed": failed,
                      "end_to_end": e2e, "latency": lat}
    with open(os.path.join(HERE, ".work", f"last-{a.workload}.json"), "w") as f:
        json.dump(rec, f)
    log(f"{a.workload} seed={a.seed} inputs={rec['summary']['inputs_digest'][:16]} "
        f"host={rec['host']['nproc']}x {rec['host']['cpu']} burn={rec['host']['burn_ms']:.0f}ms "
        f"p50 {lat['op_p50_ms'][0]:.0f} ms, p{lat['op_p90.percentile'][0]} "
        f"{lat['op_p90_ms'][0]:.0f} ms of {lat['op_samples'][0]} samples")
    print(json.dumps({
        "correct": failed == 0 and not missing,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))


if __name__ == "__main__":
    main()
