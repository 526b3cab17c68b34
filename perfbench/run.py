#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics as one JSON line.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the library
(src/main/scala) and the JVM harness (perfbench/src) with the Scala
compiler that ships in Spark's jars, into .bench_build/. Every later run
reuses that build while the sources are unchanged. `--trace 1` prints the
per-layer metrics instead of the end-to-end ones.

    python3 perfbench/run.py --record-digests

re-records perfbench/query_digests.json from a run whose outputs pass
tools/check_oracle.py (the DuckDB oracle); it refuses to write otherwise.
See perfbench/README.md for the workloads and metrics.
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

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join("perfbench", "data", "sf0.01")
DIGESTS = os.path.join(HERE, "query_digests.json")
WORKLOADS = ("crawl_wide", "query_suite")
# a run must end within 180 s, a run that builds first within 900 s
RUN_DEADLINE_S = 170
FIRST_RUN_DEADLINE_S = 880
BUILD_DEADLINE_S = 700
# keep every file a JVM writes inside the checkout: temp files (native
# libraries, Spark's artifact dir) under the run's work dir, no hsperfdata
def jvm_local(tmp):
    os.makedirs(tmp, exist_ok=True)
    return [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]


ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ host

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("no Spark jars with a Scala compiler found; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        die("no java found; set JAVA_HOME")
    return exe


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Half of MemTotal in whole GiB, clamped to 2..8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[:4]


def burn_loops_per_s(seconds=0.5):
    """Calibration burn: 1M-iteration loops per second on one core."""
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        x = 0
        for i in range(1_000_000):
            x += i
        n += 1
    return n / (time.perf_counter() - t0)


def page_mb_per_s(work, mb=64):
    """Fresh-page write rate of the work directory's filesystem."""
    path = os.path.join(work, "page.probe")
    block = b"\1" * (1 << 20)
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(mb):
            f.write(block)
        f.flush()
        os.fsync(f.fileno())
    secs = time.perf_counter() - t0
    os.remove(path)
    return mb / secs


# ----------------------------------------------------------------- build

def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    if not lib:
        die("no library sources under src/main/scala; run from the repository root")
    return lib + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build(jars):
    """Compiles library + harness once per source tree; returns classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()[:16]
    out = os.path.join(BUILD, f"classes-{stamp}")
    if os.path.exists(os.path.join(out, ".ok")):
        return out, stamp
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scalac_cp = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{k}-2.13*.jar"))[0]
        for k in ("compiler", "library", "reflect"))
    log(f"compiling {len(srcs)} sources")
    t0 = time.time()
    r = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g"] + jvm_local(tmp + ".jtmp")
        + ["-cp", scalac_cp, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", tmp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_DEADLINE_S)
    shutil.rmtree(tmp + ".jtmp", ignore_errors=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die("compile failed:\n" + r.stdout[-4000:])
    open(os.path.join(tmp, ".ok"), "w").close()
    os.rename(tmp, out)
    log(f"compiled in {time.time() - t0:.1f}s")
    return out, stamp


# ------------------------------------------------------------------- run

def run_jvm(classes, jars, args, deadline, tag):
    """Runs the harness; returns its raw result dict. The JVM is killed
    if it outlives `deadline` (time.monotonic())."""
    work = os.path.join(BUILD, "work", f"{os.getpid()}-{tag}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "raw.json")
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{tag}.log")
    # C1 only: with C2 the JVM was still getting faster after a minute of
    # drains (each drain 5-20 % faster than the one before), so a run this
    # short measured how far C2 had got; C1 settles within the warm-up, and
    # runs spent less CPU compiling and were no slower.
    cmd = ([java(), f"-Xmx{heap()}", "-Xss8m", "-XX:TieredStopAtLevel=1"]
           + jvm_local(os.path.join(work, "tmp"))
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
              "perfbench.PerfBench",
              f"cores={cores()}", f"work={work}", f"out={out}",
              f"t0ms={int(time.time() * 1000)}"]
           + [f"{k}={v}" for k, v in args.items()])
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except BaseException as e:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            if isinstance(e, subprocess.TimeoutExpired):
                die(f"JVM exceeded the run deadline; log: {log_path}")
            raise
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        shutil.rmtree(work, ignore_errors=True)
        die(f"JVM exited with {code}; log tail:\n{tail}")
    with open(out) as f:
        raw = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return raw


def load_digests():
    with open(DIGESTS) as f:
        return json.load(f)["digests"]


def measure(classes, jars, workload, seed, seconds, trace, deadline):
    """One JVM run plus the host load before and after it."""
    meta = {"load_before": loadavg()}
    raw = run_jvm(classes, jars, {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
        "data": DATA}, deadline, f"{workload}-{seed}-t{int(trace)}")
    meta["load_after"] = loadavg()
    raw["meta"] = meta
    return raw


def record_digests(classes, jars):
    out = os.path.join(BUILD, "record")
    shutil.rmtree(out, ignore_errors=True)
    raw = run_jvm(classes, jars, {"workload": "record", "data": DATA, "record": out},
                  time.monotonic() + 900, "record")
    check = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), DATA, out],
        stdout=subprocess.PIPE, text=True)
    print(check.stdout, file=sys.stderr)
    summary = check.stdout.strip().splitlines()[-1]
    n = len(raw["digests"])
    if summary != f"{n} ok, 0 fail":
        die(f"oracle check did not pass ({summary}); digests not recorded")
    with open(DIGESTS, "w") as f:
        json.dump({"data": "perfbench/data/sf0.01", "oracle": summary,
                   "digests": raw["digests"]}, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"recorded {n} digests")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()
    t_start = time.monotonic()
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    classes, stamp = build(jars)
    if a.record_digests:
        record_digests(classes, jars)
        return
    if not a.workload:
        die("--workload is required")
    built = time.monotonic()
    deadline = min(t_start + FIRST_RUN_DEADLINE_S, built + RUN_DEADLINE_S)
    meta = {"code": stamp, "cores": cores(), "heap": heap(),
            "build_s": built - t_start,
            "burn_loops_per_s": burn_loops_per_s(),
            "page_mb_per_s": page_mb_per_s(BUILD)}
    digests = load_digests()
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    raw = measure(classes, jars, a.workload, a.seed, a.seconds, bool(a.trace), deadline)
    raw["meta"].update(meta)
    with open(os.path.join(results, f"{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(raw, f)

    attempted, failed = metrics.tally(raw["checks"], digests)
    if a.trace:
        values = metrics.per_layer(raw, sorted(digests))
    else:
        values = metrics.end_to_end(raw)
    log(f"meta {json.dumps(raw['meta'])}")
    log(f"error rate {metrics.error_rate(raw['checks'], digests)} ({failed}/{attempted})")
    for c in raw["checks"]:
        exp = c.get("expected", digests.get(c["what"].split(".", 1)[1]))
        if c["actual"] != exp:
            log(f"check failed: {c['what']}: expected {str(exp)[:200]} got {c['actual'][:200]}")
            break
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))


if __name__ == "__main__":
    main()
