#!/usr/bin/env python3
"""Benchmark entry point: build, generate seeded inputs, run, report.

    python3 perfbench/run.py --workload rsna_etl --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run compiles the engine sources
(src/main/scala) together with the harness (perfbench/src) through
perfbench/build.sbt; later runs reuse the build while no source changed.
Inputs and temporary files go to perfbench/work/. The last line of stdout is
one JSON object {"correct", "attempted", "failed", "metrics"}; the line
before it records the environment (nproc, heap, Spark version, local[N])
and the workload sizes.

Workloads (each run drives one; --trace 1 runs all three, traced):
  rsna_etl             DICOM -> 7 augmentation passes -> PNG/JSON sinks ->
                       256/32 TFRecord shards -> CRC-checked read-back. Spark
                       storage memory is cut (spark.memory.fraction 0.05) so
                       the cached augmented train set does not fit in it.
  query_mix            one closed-loop client over a fixed query list
  corpus_dedup_search  batch near-dup removal, IVF-PQ build, stream ingest,
                       single-query searches
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
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
HEAP = "2g"
# fixed, pre-touched heap: GC sizing and resident memory do not drift per run;
# no perf-data file outside the checkout
JVM_OPTS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"]
MEMORY_FRACTION = {"rsna_etl": "0.05", "corpus_dedup_search": "0.6"}
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Content hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die(f"engine sources not found under {ROOT}/src/main/scala")
    stamp = source_stamp()
    cp_file = os.path.join(TARGET, "perfbench-classpath.txt")
    stamp_file = os.path.join(TARGET, "perfbench-stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    cp = [ln.strip() for ln in proc.stdout.splitlines()
          if "scala-library" in ln and not ln.startswith("[")]
    if not cp:
        die("build printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def expected_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(classpath, args, data_dir, t0):
    log_path = os.path.join(WORK, "jvm.log")
    cmd = (["java"] + JVM_OPTS + [ f"-Djava.io.tmpdir={WORK}/tmp",
            "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
            "-Dfile.encoding=UTF-8"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--data", data_dir, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--workload", args.workload, "--trace", str(args.trace),
              "--memory-fraction", MEMORY_FRACTION[args.workload],
              "--golden", os.path.join(HERE, "golden", "query_fingerprints.json"),
              "--t0-ms", str(int(t0 * 1000))])
    env = dict(os.environ, LC_ALL="C.utf8",
               SPARK_LOCAL_DIRS=os.path.join(data_dir, "spark-local"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; log: {log_path}", 3)
    if proc.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"benchmark JVM exited with {proc.returncode}", 3)
    return out.strip().splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(MEMORY_FRACTION))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    classpath = build()
    t0 = time.time()
    shutil.rmtree(WORK, ignore_errors=True)
    data_dir = os.path.join(WORK, "data")
    os.makedirs(os.path.join(WORK, "tmp"))
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True
    import gen
    gen.gen_tables(os.path.join(data_dir, "tables"))
    gen.gen_corpus(os.path.join(data_dir, "corpus"), args.seed)

    lines = run_jvm(classpath, args, data_dir, t0)
    result = json.loads(lines[-1])
    want = expected_metrics(args.trace)
    if want is not None:
        missing = [m for m in want if m not in result["metrics"]]
        if missing:
            die(f"metrics missing from the run: {missing}", 4)
        result["metrics"] = {m: result["metrics"][m] for m in want}
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
