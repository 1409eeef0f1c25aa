#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload <crawl|batch> --seed <n> \
        --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a source checkout. The first run compiles the engine
(`src/main/scala`) together with the benchmark (`perfbench/src`) with the
Scala compiler shipped in Spark's jars; later runs reuse the classes while
the sources are unchanged. Everything a run writes goes under
`.bench_build/` in the checkout, including the record of what earlier runs
of the same code produced (`.bench_build/records/`). The last line of stdout
is the result object described in perfbench/README.md; the exit code is
non-zero when an output check fails or the run cannot start.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# A fixed heap with the parallel collector: no heap resizing and no
# concurrent GC threads competing with the task threads, so run-to-run
# spread in walls and in peak RSS comes from the engine, not the collector.
JVM_OPTS = ["-Xms1536m", "-Xmx1536m", "-XX:+UseParallelGC", "-Xss8m"]

# Spark 4 on JDK 17 needs these outside spark-submit (the same list as the
# engine's build).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(submit).resolve().parent.parent) if submit else None
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not jars:
        fail("no Spark installation found: set SPARK_HOME")
    return jars


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        fail(f"engine sources not found under {engine}: run from a source checkout")
    return sorted(glob.glob(str(engine / "**" / "*.scala"), recursive=True)) + \
        sorted(glob.glob(str(HERE / "src" / "**" / "*.scala"), recursive=True))


def build(jars):
    """Compiles unless the classes match the sources; returns the code stamp."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + jars:
        h.update(f.encode())
        if f.endswith(".scala"):
            h.update(Path(f).read_bytes())
    stamp = h.hexdigest()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return stamp
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(CLASSES), "-classpath", cp] + srcs
    if run(cmd, BUILD_TIMEOUT_S, sys.stderr) != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        fail("compilation failed")
    STAMP.write_text(stamp)
    return stamp


def run(cmd, timeout, stdout):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, stdout=stdout, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def check_self_test(lines):
    """Every result line carries exactly BENCHMARK.json's metrics and units,
    and every corrupted output was caught."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems, seen = [], set()
    for line in lines:
        parts = line.split(" ", 3)
        if len(parts) < 3 or parts[0] != "SELFTEST":
            continue
        _, name, what = parts[:3]
        rest = parts[3] if len(parts) > 3 else ""
        if what.startswith("corrupted"):
            seen.add((name, "corrupted"))
            if what != "corrupted" or not rest.startswith("caught=true"):
                problems.append(f"{name}: corrupted output not caught")
            continue
        trace = int(what.split("=")[1])
        seen.add((name, trace))
        res = json.loads(rest)
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want[trace]:
            diff = set(got.items()) ^ set(want[trace].items())
            problems.append(f"{name} trace={trace}: metrics differ from BENCHMARK.json: {sorted(diff)}")
        if not res["correct"] or res["failed"]:
            problems.append(f"{name} trace={trace}: correct={res['correct']} failed={res['failed']}")
    names = {w["name"] for w in spec["workloads"]}
    missing = {(n, k) for n in names for k in (0, 1, "corrupted")} - seen
    problems += [f"{n}: no result for {k}" for n, k in sorted(missing, key=str)]
    return problems


def main():
    # a terminated run still stops its JVM (see `run`) and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    jars = spark_jars()
    stamp = build(jars)
    work = BUILD / "work" / f"{os.getpid()}"
    spans = BUILD / "spans" / f"{a.workload}-seed{a.seed}.jsonl"
    args = ["--work", str(work)]
    if a.self_test:
        args += ["--self-test"]
    else:
        args += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--spans", str(spans),
                 "--record", str(BUILD / "records" / f"{stamp[:16]}.tsv")]
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}"] + ADD_OPENS + \
        ["-cp", os.pathsep.join([str(CLASSES)] + jars), "graftbench.Main"] + args
    work.mkdir(parents=True, exist_ok=True)
    try:
        if a.self_test:
            log = work / "self-test.out"
            with open(log, "w") as out:
                code = run(cmd, RUN_TIMEOUT_S * 4, out)
            text = log.read_text()
            sys.stdout.write(text)
            problems = check_self_test(text.splitlines())
            for msg in problems:
                print(f"perfbench: SELF-TEST FAILED: {msg}", file=sys.stderr)
            code = code or (1 if problems else 0)
            if code == 0:
                print("perfbench: self-test passed", file=sys.stderr)
        else:
            code = run(cmd, RUN_TIMEOUT_S, sys.stdout)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
