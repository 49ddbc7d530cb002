#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 graftbench/run.py --workload star_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds: it compiles the
program's main sources and the benchmark's own sources with the Scala
compiler that ships with Spark (found through SPARK_HOME, or the
`spark-submit` on PATH), packs both into jars, and records a class-data
sharing archive from a short training run, all under `.bench_build/`.
Later runs reuse that build while the sources are unchanged.

Each run starts one fresh JVM (`local[N]`, N = half the CPU count) that
generates the workload's inputs from the seed into a scratch dir under
`.bench_build/`, warms up, runs the timed phase, checks the outputs, and
writes its raw samples; the scratch dir is deleted afterwards. The last
line of stdout is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics, or with `--trace 1` the per-layer
ones). A human summary goes to stderr. Exit status is 0 only for a
correct run.
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
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

BUILD = ".bench_build"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
# -UsePerfData: no hsperfdata file outside the checkout. A fixed-size
# heap under the parallel collector: over five seeds on a 4-vCPU VM,
# star_etl's op_p50_ms spread 11% (quartile distance over median), and
# 17% with the default G1 and a growing heap.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss4m",
             "-XX:-UsePerfData", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] + [
    x for p in ADD_OPENS for x in ("--add-opens", p)]


def log(msg):
    print("[graftbench] " + msg, file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("graftbench: no Spark jars (set SPARK_HOME)")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                             recursive=True))
    if not main or not bench:
        raise SystemExit("graftbench: program sources not found under "
                         + os.path.join(root, "src/main/scala"))
    return main, bench


def stamp_of(files):
    h = hashlib.sha256(b"one jar")  # build layout version
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, out, files):
    os.makedirs(out)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-cp", ":".join(jars)] + files
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def jar(classes, dest):
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))


def build(root):
    """Compile + jar + CDS archive, once per source state."""
    jars = spark_jars()
    main, bench = sources(root)
    b = os.path.join(root, BUILD, "graftbench")
    stamp = stamp_of(main + bench)
    stamp_file = os.path.join(b, "stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return b, jars
    log("building the program and the benchmark (first run in this checkout)")
    shutil.rmtree(b, ignore_errors=True)
    t0 = time.time()
    scalac(jars, os.path.join(b, "classes"), main + bench)
    jar(os.path.join(b, "classes"), os.path.join(b, "graftbench.jar"))
    log("compiled in %.1f s; recording the class-data sharing archive"
        % (time.time() - t0))
    # a short star_etl run loads the classes every workload shares (most
    # of Spark SQL, parquet, the shuffle path); the JVM writes them to an
    # archive the real runs map at start-up
    work = os.path.join(b, "train")
    jvm(b, jars, ["-XX:ArchiveClassesAtExit=" + os.path.join(b, "app.jsa")],
        ["--train", "--work", work, "--seed", "0", "--workload", "all"],
        share=False)
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log("build done in %.1f s" % (time.time() - t0))
    return b, jars


def jvm(b, jars, extra_flags, args, share=True, timeout=None, capture=False):
    """Runs graftbench.Main; returns its stdout when `capture`."""
    cp = [os.path.join(b, "graftbench.jar")] + jars
    flags = list(JVM_FLAGS) + list(extra_flags)
    if share and os.path.exists(os.path.join(b, "app.jsa")):
        flags.append("-XX:SharedArchiveFile=" + os.path.join(b, "app.jsa"))
    work = args[args.index("--work") + 1]
    os.makedirs(work, exist_ok=True)
    flags.append("-Djava.io.tmpdir=" + work)
    cmd = ["java"] + flags + ["-cp", ":".join(cp), "graftbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=subprocess.PIPE, text=True)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("graftbench: JVM run exceeded %s s" % timeout)
    # Spark's own log lines are noise here; keep the benchmark's and errors
    for line in err.splitlines():
        if "graftbench" in line or "Exception" in line or "Error" in line:
            print(line, file=sys.stderr)
    if proc.returncode != 0:
        raise SystemExit("graftbench: JVM exited with %d" % proc.returncode)
    return out


def summary(raw, res):
    log("%s seed %s: %s, %d ops attempted, %d failed" % (
        raw["workload"], raw["seed"],
        "correct" if res["correct"] else "WRONG RESULT",
        res["attempted"], res["failed"]))
    for c in raw["checks"]:
        if not c["ok"]:
            log("  check failed: %s: %s" % (c["name"], c["detail"]))
    for k, v in res["metrics"].items():
        log("  %-32s %14.4f %s" % (k, v["value"], v["unit"]))
    op = benchlib.MAIN_OP[raw["workload"]]
    xs = raw["samples"].get(op, [])
    p, v, n = benchlib.tail(xs)
    log("  %s latency: n=%d, p50 %.1f ms, tail %s" % (
        op, n, benchlib.median(xs),
        "p%d %.1f ms" % (p, v) if p else "n/a (fewer than 11 samples)"))
    warm = raw["samples"].get("warmup", [])
    k = benchlib.steady_after(warm + xs)
    log("  %d warm-up ops (ms): %s" % (len(warm), " ".join("%.0f" % x for x in warm)))
    log("  %s walls in order (ms): %s; %s" % (
        op, " ".join("%.0f" % x for x in xs),
        "steady from op %d of warm-up + timed" % k if k
        else "still falling (JIT not steady)"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(benchlib.MAIN_OP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    b, jars = build(root)
    work = os.path.join(root, BUILD, "run-%d" % os.getpid())
    out = os.path.join(work, "result.json")
    try:
        jvm(b, jars, [], [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out], timeout=RUN_TIMEOUT_S)
        with open(out) as fh:
            raw = json.load(fh)
        if a.trace:  # keep the spans (and raw samples) of a traced run
            traces = os.path.join(root, BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(out, os.path.join(
                traces, "%s-seed%d.json" % (a.workload, a.seed)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res = benchlib.result(raw, a.trace == 1)
    summary(raw, res)
    print(json.dumps(res), flush=True)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
