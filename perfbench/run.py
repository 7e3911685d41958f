#!/usr/bin/env python3
"""Same-box benchmark of the search engine: builds the benchmark JVM from the
repository's sources, runs one workload and prints its result.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}; the line before it,
PERFBENCH_REPORT, carries every metric with its unit and sample count, the
box (cores, memory, heap, steal) and the input sizes. Build outputs, scratch
space, reports and traces stay under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
GOLDEN = os.path.join(HERE, "golden.json")
WORKLOADS = ("build", "serve-zipf", "serve-batch", "operators")
# The listed workloads finish in about a minute; the 61-query operator pass
# takes a few.
JVM_TIMEOUT_S = {"operators": 900}
DEFAULT_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as the repository's
# build.sbt passes to its forked runs).
ADD_OPENS = [
    arg
    for pkg in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the benchmark JVM is compiled from."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def classpath():
    """Compile with sbt when the sources changed; return the runtime
    classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved = fh.read().split("\n", 1)
        if len(saved) == 2 and saved[0] == stamp:
            return saved[1].strip()
    log("building the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(os.path.expanduser("~/.sbt/repositories")):
        opts.append("-Dsbt.override.build.repos=true")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stdin=subprocess.DEVNULL, text=True)
    out = p.stdout.strip().splitlines()
    if p.returncode != 0 or not out or "[error]" in out[-1]:
        sys.stderr.write(p.stdout)
        raise SystemExit("sbt build failed")
    cp = out[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def heap():
    """Half of MemTotal in GiB, clamped to 2..8: the repository's tier-1
    sizing of SPARK_DRIVER_MEM; no pre-touch."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def jvm(cp, args, work, timeout=DEFAULT_TIMEOUT_S):
    """Run the benchmark JVM in its own scratch dir; returns (code, stdout)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # ParallelGC: under the default G1 the same seed's median query
    # latency differed by up to 40% between JVMs; under ParallelGC by 3%.
    cmd = (["java", f"-Xmx{heap()}", "-XX:+UseParallelGC"] + ADD_OPENS +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp,
            "perfbench.Main"] + args)
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stdin=subprocess.DEVNULL, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.wait()
        log(f"benchmark JVM exceeded {timeout}s and was killed")
        return 124, ""
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return p.returncode, out


def run(cp, workload, seed, seconds, trace, extra=()):
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{os.getpid()}")
    args = ["--workload", workload, "--seed", str(seed), "--seconds",
            str(seconds), "--trace", str(trace), "--work", work,
            "--out", os.path.join(BUILD, "reports"), "--golden", GOLDEN]
    return jvm(cp, args + list(extra), work,
               JVM_TIMEOUT_S.get(workload, DEFAULT_TIMEOUT_S))


def result_of(out):
    lines = [l for l in out.strip().splitlines() if l.strip()]
    return json.loads(lines[-1]) if lines else None


def selftest(cp):
    """Unit self-tests in the JVM, then a tiny run of every workload: each
    must be correct and emit exactly the metric names BENCHMARK.json lists
    (the operator pass, which BENCHMARK.json does not list, must emit one
    per-layer time per query, per module and per cold artifact); a planted
    wrong digest must count as a failed operation."""
    bad = []
    code, out = jvm(cp, ["--selftest"], os.path.join(BUILD, "work", "selftest"))
    sys.stdout.write(out)
    if code != 0:
        bad.append("JVM self-tests")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = {0: sorted(m["name"] for m in spec["end_to_end"]),
             1: sorted(m["name"] for m in spec["per_layer"])}
    # the operator pass ignores --docs: it always runs on its sf0.001 tables
    tiny = ["--docs", "60"]
    for w in WORKLOADS:
        for trace in (0, 1):
            code, out = run(cp, w, 7, 1, trace, tiny)
            res = result_of(out) if code == 0 else None
            if w == "operators" and trace == 1:
                want = len([m for m in res["metrics"] if m.startswith("operators.")]
                           if res else []) == 61 + 14 + 2
            else:
                want = res is not None and sorted(res["metrics"]) == names[trace]
            ok = res is not None and res["correct"] and res["failed"] == 0 and want
            log(f"smoke {w} trace={trace}: {'ok' if ok else 'FAILED'}")
            if not ok:
                bad.append(f"smoke {w} trace={trace}")
    with tempfile.NamedTemporaryFile("w", suffix=".json", dir=BUILD,
                                     delete=False) as fh:
        json.dump({"60/7": "0000000000000000"}, fh)
    try:
        code, out = run(cp, "build", 7, 1, 0, tiny + ["--golden", fh.name])
    finally:
        os.unlink(fh.name)
    res = result_of(out) if code == 0 else None
    planted = res is not None and res["failed"] >= 1 and not res["correct"]
    log(f"planted wrong digest counted as failed: {'ok' if planted else 'FAILED'}")
    if not planted:
        bad.append("planted digest")
    if bad:
        raise SystemExit("self-test failures: " + ", ".join(bad))
    log("all self-tests passed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a, extra = ap.parse_known_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("run.py must sit in a checkout of the repository "
                         "(build.sbt and src/main/scala next to perfbench/)")
    cp = classpath()
    if a.selftest:
        return selftest(cp)
    if a.workload is None:
        ap.error("--workload is required")
    code, out = run(cp, a.workload, a.seed, a.seconds, a.trace, extra)
    if code != 0:
        raise SystemExit(f"benchmark JVM exited with code {code}")
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
