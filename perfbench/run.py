#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

  python3 perfbench/run.py --workload <query_mix|ingest_refresh>
      --seed <n> --seconds <s> --trace <0|1> [--smoke] [--record]

Run from the root of a checkout. The script builds the engine and the
harness from source (sbt, once per source state), generates the inputs
(once per checkout for the fixed tables, per run from --seed for the ingest
snapshots), then measures the workload in a fresh JVM with its own
java.io.tmpdir, spark.local.dir, warehouse and Derby home, all under
.bench_build/perfbench/run, which is emptied before and after each run.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). The line before it carries annotations that are not metrics:
failed jobs by name, sample counts, steal % and load average.

--smoke runs every code path and output check on sf0.001 in seconds.
--record stores the observed digests as the expected ones (after a change
to the generator or to what a query returns).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
EXPECTED = os.path.join(HERE, "expected", "digests.txt")
WORKLOADS = ("query_mix", "ingest_refresh")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Data scale per workload; ingest snapshots grow the sf0.01 corpus by
# INGEST_BATCH documents per cycle and land INGEST_LISTINGS rows per
# platform. --smoke runs everything on sf0.001 without the warm-up pass.
SCALES = {"query_mix": 0.1, "ingest_refresh": 0.01}
SMOKE_SCALE = 0.001
INGEST_BATCH, INGEST_LISTINGS = 100, 2000
# Nominal wall of one pass over a workload's jobs on a 4-core box. A run
# measures --seconds / nominal whole passes (at least one): the count
# depends only on --seconds, so every run of a workload, on any commit,
# measures the same work.
NOMINAL_PASS_S = {"query_mix": 3.0, "ingest_refresh": 6.0}
# Untimed passes before the measured ones: memos fill in the first, the
# JIT keeps settling for several more.
WARM_UP_PASSES = {"query_mix": 4, "ingest_refresh": 2}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    """Hash of the names and contents of the given files and directory trees."""
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            h.update(top[len(ROOT):].encode())
            with open(top, "rb") as f:
                h.update(f.read())
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames.sort()
            for name in sorted(filenames):
                p = os.path.join(dirpath, name)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness; returns the runtime classpath."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
               os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for p in sources:
        if not os.path.exists(p):
            fail(f"engine or harness source missing: {os.path.relpath(p, ROOT)}")
    stamp = tree_hash(sources)
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    cp = [l for l in p.stdout.splitlines() if l.startswith("/")]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def gen(*args):
    subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), *map(str, args)],
                   check=True, timeout=120)


def base_data(scale, sf):
    out = os.path.join(WORK, "data", scale)
    stamp = tree_hash([os.path.join(HERE, "gen_data.py")]) + f" sf={sf}"
    stamp_file = out + ".stamp"
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(out, ignore_errors=True)
        gen("base", out, sf)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return out


def cpu_jiffies():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    sf = SMOKE_SCALE if a.smoke else SCALES[a.workload]
    scale = f"sf{sf}"

    classpath = build()
    data = base_data(scale, sf)
    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "local", "derby", "snapshots"):
        os.makedirs(os.path.join(run, d))
    snapshots = os.path.join(run, "snapshots")
    passes = max(1, int(a.seconds / NOMINAL_PASS_S[a.workload]))
    # ingest: warm-up, one per measured cycle and the two untraced cycles
    # that bracket a traced run; traced fixed-data runs: one for the ETL probe
    cycles = 3 + passes if a.workload == "ingest_refresh" else (1 if a.trace else 0)
    if cycles:
        gen("snapshots", snapshots, data, a.seed, cycles, INGEST_BATCH, INGEST_LISTINGS)

    add_opens = []
    for pkg in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
                "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"):
        add_opens += ["--add-opens", f"java.base/{pkg}=ALL-UNNAMED"]
    # A heap ceiling, the same on any box, keeps a run small on a shared
    # one. Under it the old generation grows on demand, so peak RSS follows
    # the live data the program holds; a fixed young generation keeps G1's
    # adaptive sizing from moving the peak between runs. The heap does not
    # shrink after the forced GC before each job, which would make every
    # job pay to fault it back in.
    cmd = ["java", *add_opens, "-Xmx3g", "-Xmn512m", "-XX:MaxHeapFreeRatio=100",
           f"-Djava.io.tmpdir={run}/tmp", f"-Dderby.system.home={run}/derby",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--passes", str(passes),
           "--trace", str(a.trace), "--data", data, "--snapshots", snapshots,
           "--run-dir", run, "--expected", EXPECTED, "--scale", scale,
           "--warm-up", "0" if a.smoke else str(WARM_UP_PASSES[a.workload])]
    if a.record:
        cmd.append("--record")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    log_path = os.path.join(WORK, "last_jvm.log")
    total0, steal0 = cpu_jiffies()
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(cmd, cwd=run, env=env, stdout=subprocess.PIPE, stderr=log,
                               text=True, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {JVM_TIMEOUT_S} s (log: {log_path})")
    total1, steal1 = cpu_jiffies()
    shutil.rmtree(run, ignore_errors=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"run failed with exit code {p.returncode}")
    notes = json.loads(lines[-2])["annotations"]
    notes["steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    with open("/proc/loadavg") as f:
        notes["loadavg"] = [float(x) for x in f.read().split()[:3]]
    print(json.dumps({"annotations": notes}))
    print(lines[-1])


if __name__ == "__main__":
    main()
