#!/usr/bin/env python3
"""Benchmark entry point: build the engine, generate one workload's inputs,
run the benchmark JVM, and print one JSON result line (the last stdout line).

    python3 perfbench/run.py --workload query_jobs --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. It builds the engine from that checkout's
sources (sbt, offline; skipped while the sources are unchanged), generates the
inputs from --seed under perfbench/.work/, launches the JVM directly on the
compiled classpath, and removes its work directory on exit. With --trace 0 the
result holds BENCHMARK.json's end_to_end metrics, with --trace 1 its per_layer
metrics (the traced run also writes spans and listener counters to
perfbench/.work/trace-<workload>-<seed>.json).

Environment flags (stated in BENCHMARK.json's command): --cpus (a number, or
`nproc`), --shuffle-partitions (a number, or `cpus`), --driver-heap, --clients
(the single closed-loop client; only 1 is supported).

--smoke 1 runs a single pass (sf0.001 inputs) untraced and traced, checks
that the metric names and units match BENCHMARK.json, and prints the traced
result. `--mode rank` and `--mode expect` regenerate query_jobs.tsv (see its
header).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, BENCH)
import gen  # noqa: E402

# Input scale (TPC-H-ish scale factor of the generated tables) and the seed
# of the generated base data; the run seed varies what each workload does
# with it. query_jobs.tsv holds expected results at this scale.
SF = 0.001
DATA_SEED = 42
PROFILE_REPLICAS, PROFILE_RESAMPLE = 4, 0.1
DATAGEN_REPEATS = 3
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    """Hash of every input of the build, so an unchanged checkout reuses it."""
    h = hashlib.sha1()
    tops = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src/main")]
    tops += [os.path.join(BENCH, p) for p in ("build.sbt", "project", "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            for f in fs if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark; return the runtime classpath."""
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    stamp = os.path.join(BENCH, "target", "fingerprint")
    fp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == fp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true")
    log("building engine and benchmark (sbt)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-J-Xss64m",
                        "-J-Xmx4g", "writeClasspath"], cwd=BENCH, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(fp)
    with open(cp_file) as c:
        return c.read().strip()


def make_inputs(workload, sf, seed, work):
    """Generate the workload's tables DATAGEN_REPEATS times (the median
    generation time is part of setup_s); return (data dir, seconds)."""
    times = []
    for i in range(DATAGEN_REPEATS):
        out = os.path.join(work, f"data{i}")
        t = time.perf_counter()
        tabs = gen.tables(sf, DATA_SEED)
        if workload == "profile_db":
            tabs = gen.replicate(tabs, PROFILE_REPLICAS, PROFILE_RESAMPLE, seed)
        gen.write(tabs, out)
        times.append(time.perf_counter() - t)
        if i:
            shutil.rmtree(os.path.join(work, f"data{i - 1}"))
    return out, statistics.median(times)


def run_jvm(cp, args, work, cpus, shuffle, heap, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_SHUFFLE=str(shuffle))
    env.pop("SPARK_GRAFT_CODEGEN", None)
    try:
        r = subprocess.run(cmd, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                           text=True, timeout=timeout)
    except subprocess.TimeoutExpired:  # run() has killed and reaped the JVM
        sys.exit(f"perfbench: benchmark JVM exceeded {timeout} s")
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"perfbench: benchmark JVM failed (exit {r.returncode})")
    return lines


def select(result, spec, traced):
    """Keep exactly the metrics BENCHMARK.json lists for this mode."""
    want = spec["per_layer" if traced else "end_to_end"]
    got = result["metrics"]
    missing = [m["name"] for m in want if m["name"] not in got]
    if missing:
        sys.exit(f"perfbench: JVM did not report {missing}")
    bad = [m["name"] for m in want if got[m["name"]]["unit"] != m["unit"]]
    if bad:
        sys.exit(f"perfbench: unit mismatch for {bad}")
    result["metrics"] = {m["name"]: got[m["name"]] for m in want}
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["query_jobs", "profile_db"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", default="nproc")
    ap.add_argument("--shuffle-partitions", default="cpus")
    ap.add_argument("--driver-heap", default="4g")
    ap.add_argument("--clients", type=int, default=1, choices=[1])
    ap.add_argument("--smoke", type=int, choices=[0, 1], default=0)
    ap.add_argument("--mode", default="run", choices=["run", "rank", "expect"])
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(spec_path)):
        sys.exit("perfbench: run from the root of a checkout of the engine "
                 "(build.sbt, src/main/scala and BENCHMARK.json not found)")
    with open(spec_path) as f:
        spec = json.load(f)
    cpus = len(os.sched_getaffinity(0)) if a.cpus == "nproc" else int(a.cpus)
    shuffle = cpus if a.shuffle_partitions == "cpus" else int(a.shuffle_partitions)

    cp = build()
    started = time.monotonic()
    work = os.path.join(BENCH, ".work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        data, gen_s = make_inputs(a.workload, SF, a.seed, work)
        queries = os.path.join(BENCH, "query_jobs.tsv")

        def jvm(trace, seconds):
            scratch = tempfile.mkdtemp(prefix="jvm-", dir=work)  # stores start empty
            return run_jvm(cp, [
                "--mode", a.mode, "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(seconds), "--trace", str(trace), "--data", data,
                "--work", scratch, "--datagen-s", repr(gen_s), "--queries", queries,
                "--trace-out", os.path.join(
                    BENCH, ".work", f"trace-{a.workload}-{a.seed}.json")],
                work, cpus, shuffle, a.driver_heap,
                JVM_TIMEOUT_S - (time.monotonic() - started) if a.mode == "run" else None)

        if a.mode != "run":
            print("\n".join(jvm(0, 0)))
            return
        if a.smoke:
            for trace in (0, 1):
                res = select(json.loads(jvm(trace, 0)[-1]), spec, trace == 1)
                log(f"smoke trace={trace}: {len(res['metrics'])} metrics, "
                    f"correct={res['correct']}")
                if not res["correct"]:
                    sys.exit("perfbench: smoke run reported wrong results")
            print(json.dumps(res))
            return
        raw = jvm(a.trace, a.seconds)[-1]
        log(f"all metrics: {raw}")
        res = select(json.loads(raw), spec, a.trace == 1)
        print(json.dumps(res))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
