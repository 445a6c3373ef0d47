#!/usr/bin/env python3
"""spark-graft benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles src/main/scala and
perfbench/src into .bench_build/ with the Scala compiler that ships in
$SPARK_HOME/jars (else the jar directory build.sbt names as unmanagedBase),
then records a class-data-sharing archive with one training run, so later
JVMs load Spark's classes in about half the time. Later runs reuse both until
a source file changes.

Each run is one JVM on local[nproc] with one caller: an item starts only
after the previous one finished and was checked. A pass runs every item of
the workload once, after clearing the program's memoized builds. Set-up is
JVM and session start, input generation and two untimed warm-up passes;
timed passes then run until S seconds have passed. Every item's full output
is read and compared with:
  - perfbench/expected.json for query keys: row count plus an order-insensitive
    hash of every column of an output the DuckDB oracle accepted (derive.py);
  - union-find on the same edges for CCF.run items (the collected
    assignments), plus iteration and component parity with the reference
    (BASELINE.md) at seed 42.

Workloads. The seed drives the ccf_matrix graphs and planned_sf0.01's sparse
graph. planned_sf0.01's query keys read perfbench/data/sf0.01, a fixed
read-only copy of the sf0.01 test tables, and so ignore the seed. Item sets
are small because the run budget is: 48 runs of the two workloads in under an
hour, with a steady figure from each.
  ccf_matrix      4 reference fixpoints, random 5000/15000 and cluster 20x50
                  with 19 bridges, each with Basic and SecondarySort. All take
                  MicroFixpoint: per-round fixed cost, no Catalyst planning,
                  no shared builds.
  planned_sf0.01  the Catalyst-planned engine: declarative CCF (with the
                  copurchase_edges and ccf_assignments_Basic builds) and
                  PointerJump over the 115k-edge co-purchase graph, CCF.run
                  on a seeded 30k-edge random graph of mean degree 6, the p1
                  corpus pipeline (pipeline_day1 build), substring dedup
                  (substring_spans, gram_postings builds) and token stats.

End-to-end metrics (--trace 0): setup_s (process spawn to first timed item),
wall_s (median timed pass) and peak_rss_mb (the JVM's VmHWM after set-up and
the first timed pass). The summary line before the JSON also gives cpu_s (the
JVM's process CPU seconds in the median pass; not gated, as its spread over
ten seeds reached 0.26 on a shared 4-vCPU host), fail_ratio and, on ccf_matrix,
ref_ratio: CCF.run seconds over the reference Scala seconds of the same
configurations.

--trace 1 times a traced, an untraced and a traced pass. Traced passes add a
Spark listener, a query-execution listener, a job group per item and spans
around every call into the program. It prints the per-layer metrics
(per-pass values, averaged over the two traced passes; trace.overhead_s is
traced minus untraced pass wall; jvm.cpu_s is process CPU) and writes a
sidecar to .bench_out/ with per-item counters and self times of both traced
passes, which counters repeated exactly, the spans, and the run's cpus, heap,
load average, CPU steal, commit, source-tree hash and seed. counters_diff.py
compares two sidecars.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

WORKLOADS = ["ccf_matrix", "planned_sf0.01"]
BUILD = ".bench_build"
OUT = ".bench_out"
BENCH_DIR = "perfbench"
# A fixed heap under the parallel collector: the resident high-water mark then
# follows the work done, not G1's run-to-run heap-sizing decisions (measured
# on 4 cpus: G1 gave 2.1-3.0 GB on identical runs, this 1.50-1.52 GB).
HEAP = ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g"]
# A run stops its JVM after this long; the first run in a checkout also
# builds, before the limit starts.
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
        jar_dir = m.group(1) if m else "jars"
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        sys.exit("[perfbench] no Spark jars found; set SPARK_HOME")
    return jars


def sources():
    return sorted(glob.glob("src/main/scala/**/*.scala", recursive=True) +
                  glob.glob(f"{BENCH_DIR}/src/**/*.scala", recursive=True))


def tree_hash(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    for j in jars:
        h.update(j.encode())
    return h.hexdigest()[:16]


def jvm(jars, extra, args, log_path, timeout, main="perfbench.Main"):
    """Runs `main` on the built jar; returns its exit code, None on timeout."""
    cmd = ["java"] + HEAP + [f"-Djava.io.tmpdir={BUILD}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += extra + ["-cp", ":".join([f"{BUILD}/perfbench.jar"] + jars), main] + args
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def build(jars):
    """Compile and archive once per source tree; returns the tree hash."""
    files = sources()
    tree = tree_hash(files, jars)
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == tree:
        return tree
    log(f"building {len(files)} sources")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(f"{BUILD}/classes")
    os.makedirs(f"{BUILD}/tmp")
    rc = subprocess.call(["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars), "scala.tools.nsc.Main",
                          "-usejavacp", "-nowarn", "-d", f"{BUILD}/classes"] + files)
    if rc != 0:
        sys.exit("[perfbench] compile failed")
    subprocess.check_call(["jar", "cf", f"{BUILD}/perfbench.jar", "-C", f"{BUILD}/classes", "."])
    # Training run for the class-data-sharing archive: JVMs that map it skip
    # most of Spark's class loading at start.
    os.makedirs(f"{BUILD}/train", exist_ok=True)
    jvm(jars, [f"-XX:ArchiveClassesAtExit={BUILD}/classes.jsa"],
        run_args("planned_sf0.01", 1, 0, "0", f"{BUILD}/train"),
        f"{BUILD}/train/train.log", 600)
    with open(stamp, "w") as fh:
        fh.write(tree)
    return tree


def run_args(workload, seed, seconds, trace, scratch):
    return ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", trace, "--data", f"{BENCH_DIR}/data/sf0.01",
            "--expected", f"{BENCH_DIR}/expected.json", "--scratch", scratch,
            "--out", f"{scratch}/result.json"]


def cpu_times():
    """(all, steal) jiffies of the machine; steal is time a virtual CPU spent
    waiting for the host."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7]


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    for need in ("src/main/scala", f"{BENCH_DIR}/src", f"{BENCH_DIR}/data/sf0.01",
                 f"{BENCH_DIR}/expected.json"):
        if not os.path.exists(need):
            sys.exit(f"[perfbench] {need} not found: run from the root of a spark-graft checkout")
    jars = spark_jars()
    tree = build(jars)
    scratch = f"{BUILD}/run-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    os.makedirs(OUT, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    steal0 = cpu_times()
    spawn = time.time()
    rc = jvm(jars, [f"-XX:SharedArchiveFile={BUILD}/classes.jsa"],
             run_args(a.workload, a.seed, a.seconds, a.trace, scratch), f"{OUT}/{tag}.log",
             RUN_LIMIT_S)
    if rc != 0:
        shutil.rmtree(scratch, ignore_errors=True)
        log(f"JVM {'timed out' if rc is None else f'exited {rc}'}; see {OUT}/{tag}.log")
        sys.exit(1)
    steal1 = cpu_times()
    with open(f"{scratch}/result.json") as fh:
        r = json.load(fh)
    r["env"] = {"commit": commit(), "tree": tree, "seed": a.seed, "workload": a.workload,
                "cpus": r["cpus"], "heap_max_mb": r["heap_max_mb"],
                "loadavg_start": r["loadavg_start"], "loadavg_end": r["loadavg_end"],
                "steal_share": (steal1[1] - steal0[1]) / max(1, steal1[0] - steal0[0])}
    with open(f"{OUT}/{tag}.json", "w") as fh:
        json.dump(r, fh)
    shutil.rmtree(scratch, ignore_errors=True)

    failed = len(r["failures"])
    for item, why in r["warmup"]["failures"] + r["failures"]:
        log(f"FAILED {item}: {why}")
    passes = r["passes"]
    if a.trace == "0":
        metrics = {
            "setup_s": (r["first_timed_ms"] / 1000.0 - spawn, "s"),
            "wall_s": (statistics.median(p["wall_s"] for p in passes), "s"),
            "peak_rss_mb": (r["peak_rss_mb"], "MB"),
        }
    else:
        units = {"count": ("count", "rounds", "jobs", "stages", "tasks", "executions", "new_pairs",
                           "tasks_per_stage", "records"),
                 "bytes": ("bytes",), "MB": ("_mb",), "ratio": ("share", "ratio")}

        def unit(name):
            for u, ends in units.items():
                if name.endswith(ends):
                    return u
            return "s"
        metrics = {k: (v, unit(k)) for k, v in r["layers"].items()}
        metrics["jvm.cpu_s"] = (statistics.mean(p["cpu_s"] for p in r["traced_passes"]), "s")
    extra = {"cpu_s": statistics.median(p["cpu_s"] for p in passes),
             "fail_ratio": failed / max(1, r["attempted"])}
    ref = sum(c["ref_seconds"] for c in r["ccf"])
    if a.workload == "ccf_matrix" and ref > 0:
        extra["ref_ratio"] = sum(c["seconds"] for c in r["ccf"]) / ref
    print(f"{a.workload} seed={a.seed} steal={r['env']['steal_share']:.3f} "
          f"passes={[round(p['wall_s'], 3) for p in passes]} "
          f"warmup={[round(w, 3) for w in r['warmup']['wall_s']]} " +
          " ".join(f"{k}={v:.4g}{u}" for k, (v, u) in metrics.items()) + " " +
          " ".join(f"{k}={v:.4g}" for k, v in extra.items()))
    if a.trace == "1":
        moved = sorted(i for i, v in r["items"].items() if v["work_moved"])
        print(f"sidecar {OUT}/{tag}.json; items whose jobs, stages, tasks, shuffle or SQL counters "
              f"moved between the traced passes: {moved}")
    print(json.dumps({
        "correct": failed == 0 and not r["warmup"]["failures"],
        "attempted": r["attempted"], "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
