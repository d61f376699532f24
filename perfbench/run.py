#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

Usage (from the repository root):
  python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

Workloads: query_mix, table_lifecycle, corpus_admit (see perfbench/README.md).
The first run in a checkout compiles the engine's sources together with the
benchmark harness (sbt, perfbench/build.sbt) and generates the benchmark
corpus (perfbench/datagen.py); both are cached under .bench_build/ and
rebuilt when their inputs change. The JVM's stderr passes through; stdout
carries one `perfbench-report {...}` line (environment and every
workload-level metric) and, last, the result object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are BENCHMARK.json's end_to_end set, with
--trace 1 its per_layer set; the set is checked against BENCHMARK.json.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("query_mix", "table_lifecycle", "corpus_admit")
DEFAULT_SF = "0.01"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
HEAP = "4g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the benchmark's classpath is built from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles engine + harness once per source digest; returns the classpath."""
    stamp = os.path.join(BUILD, f"classpath-{source_digest()}.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    # sbt keeps a unix socket under java.io.tmpdir; keep it in the checkout
    # when the socket's path stays within the 108-byte limit
    tmp = os.path.join(BUILD, "tmp")
    if len(tmp) + len("/.sbt/sbt-socket0000000000000000000/sbt-load.sock") < 104:
        os.makedirs(tmp, exist_ok=True)
        opts.append(f"-Djava.io.tmpdir={tmp}")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=BUILD_LIMIT_S)
        out.write(p.stdout)
    cp = [l for l in p.stdout.splitlines()
          if os.pathsep in l and "scala-library" in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        fail(f"build failed (exit {p.returncode}); see {log}", 2)
    with open(stamp, "w") as fh:
        fh.write(cp[-1])
    return cp[-1]


def corpus(sf):
    """Generates the fixed benchmark corpus for `sf` once per checkout."""
    out = os.path.join(BUILD, "data", f"sf{sf}")
    if os.path.exists(os.path.join(out, "_done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), tmp, sf],
                   check=True, timeout=300)
    open(os.path.join(tmp, "_done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def declared(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=DEFAULT_SF,
                    help="corpus scale; expected_sf<sf>.json must exist")
    ap.add_argument("--inject-wrong-at", type=int, default=-1,
                    help="self-test: corrupt the result of op N before checking it")
    ap.add_argument("--record", help="maintenance: record query results into DIR")
    ap.add_argument("--cpus", type=int, help="maintenance: Spark task threads")
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala", 2)
    expected = os.path.join(HERE, f"expected_sf{a.sf}.json")
    if a.workload == "query_mix" and not a.record and not os.path.exists(expected):
        fail(f"no expected results for sf{a.sf} ({expected})", 2)
    cp = build()
    data = corpus(a.sf)

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(os.path.join(tmp, "local"))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", os.path.join(run_dir, "work"),
            "--expected", expected, "--inject-wrong-at", str(a.inject_wrong_at)]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    if a.cpus:
        cmd += ["--cpus", str(a.cpus)]
    # scratch stays in the run directory: Spark's local-dir environment
    # overrides would move it elsewhere, so they are dropped
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS", "LOCAL_DIRS")}
    env.update(LC_ALL="C.UTF-8", SPARK_GRAFT_LOCAL_DIR=os.path.join(tmp, "local"))
    limit = None if a.record else max(10.0, RUN_LIMIT_S - (time.time() - t_start))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run exceeded {limit:.0f} s", 3)
    shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}", 4)
    if a.record:
        return
    lines = out.splitlines()
    report = [l for l in lines if l.startswith("perfbench-report ")]
    result = json.loads(lines[-1])
    want = declared(a.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metric set differs from BENCHMARK.json: {sorted(set(got) ^ set(want))} "
             f"or units {[(k, got.get(k), u) for k, u in want.items() if got.get(k) != u]}", 5)
    for l in report:
        print(l)
    print(json.dumps(result, sort_keys=True))


if __name__ == "__main__":
    main()
