#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload ledger_reports --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run in a checkout builds the
benchmark (sbt, offline); later runs reuse the build while the sources are
unchanged. The input tables are committed under perfbench/data/. Everything
a run writes goes under perfbench/.work/.

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer metrics (from an extra pass with listeners attached). The full
result, with host class and configuration, is written to
perfbench/.work/results/<workload>_seed<seed>_trace<trace>.json.

Each result is checked against perfbench/expected/fingerprints.json;
perfbench/derive_fingerprints.py derives that file (see perfbench/README.md).
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
WORK = os.path.join(HERE, ".work")
EXPECTED = os.path.join(HERE, "expected", "fingerprints.json")
# Where and how the committed fingerprints were derived (derive_fingerprints.py)
DERIVED_WITH = os.path.join(HERE, "expected", "derived_with.json")
# The repository's sf0.01 test tables (lineitem = 60 000 rows), the scale of
# its DuckDB-checked correctness runs.
DATA = os.path.join(HERE, "data")
# Shuffle partitions and default parallelism, fixed whatever the host's vCPU
# count: they set the order in which double aggregates add up, and with it
# the bits the fingerprints hash.
PARTITIONS = 4
HEAP = "3g"
YOUNG = "768m"
DEADLINE_S = 170.0

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(paths):
    """Content hash of every file under `paths` (files or directories)."""
    h = hashlib.sha256()
    for top in paths:
        found = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in found:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "") + " -XX:-UsePerfData"
    if "-Dsbt.offline" not in opts:
        repos = os.path.expanduser("~/.sbt/repositories")
        extra = ["-Dsbt.offline=true"]
        if os.path.exists(repos):
            extra += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join([opts] + extra).strip()
    return env


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    key = digest([os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                  os.path.join(ROOT, "project", "build.properties"),
                  os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
                  os.path.join(HERE, "project", "build.properties")])
    stamp = os.path.join(WORK, "build", f"{key}.classpath")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    print(f"perfbench: building ({key})", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, stdin=subprocess.DEVNULL, timeout=800)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "[" in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    # the classes are compiled in place, so only the newest stamp is valid
    shutil.rmtree(os.path.dirname(stamp), ignore_errors=True)
    os.makedirs(os.path.dirname(stamp))
    with open(stamp, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def check_inputs():
    """The committed fingerprints hold only for the inputs they were derived
    from; say so plainly instead of failing every gate's check."""
    with open(DERIVED_WITH) as f:
        derived = json.load(f)
    if derived["data_digest"] != digest([DATA]):
        fail("perfbench/data/ differs from the tables expected/fingerprints.json was "
             "derived from: re-derive it with perfbench/derive_fingerprints.py")
    nproc = len(os.sched_getaffinity(0))
    if derived["nproc"] != nproc:
        print(f"perfbench: fingerprints were derived on a {derived['nproc']}-vCPU host, this one "
              f"has {nproc}; partitioning is fixed, so they should still match", file=sys.stderr)
    return derived


def medium(path):
    """Filesystem type of the mount holding `path` ('tmpfs' or the disk fs)."""
    path = os.path.realpath(path)
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, fs = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, fstype = mnt, fs
    return "tmpfs" if fstype == "tmpfs" else f"disk ({fstype})"


def host(seed):
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "spark_local_dir_medium": medium(WORK),
        "seed": seed,
        "git_commit": commit,
        "source_digest": digest([os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]),
        "input_tables": "perfbench/data (sf0.01)",
    }


def run_jvm(args, classpath, out):
    cpus = len(os.sched_getaffinity(0))
    scratch = os.path.join(WORK, "scratch", str(os.getpid()))
    for d in (scratch, os.path.join(WORK, "tmp"), os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=scratch)
    # a fixed heap and young generation keep the peak RSS from following
    # the collector's adaptive sizing; no perf-data file outside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", DATA, "--work", WORK, "--out", out,
              "--expected", EXPECTED, "--cpus", str(cpus), "--partitions", str(PARTITIONS)])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {DEADLINE_S:.0f} s")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if code != 0:
        fail(f"benchmark JVM exited with {code}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a checkout of the repository")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")

    derived = check_inputs()
    classpath = build()
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)

    out = os.path.join(results, f"{args.workload}_seed{args.seed}_trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    t0 = time.time()
    run_jvm(args, classpath, out)
    with open(out) as f:
        result = json.load(f)
    result["host"] = host(args.seed)
    result["fingerprints_derived_with"] = derived
    result["config"]["spark_local_dir"] = os.path.relpath(result["config"]["spark_local_dir"], ROOT)
    result["run_wall_s"] = time.time() - t0
    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)

    section = "per_layer" if args.trace else "end_to_end"
    have = result[section]
    missing = [m["name"] for m in spec[section] if m["name"] not in have]
    if missing:
        fail(f"result has no {', '.join(missing)} (see {os.path.relpath(out, ROOT)})")
    metrics = {m["name"]: have[m["name"]] for m in spec[section]}
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
