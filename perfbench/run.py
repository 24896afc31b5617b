#!/usr/bin/env python3
"""Warehouse benchmark: one run of one workload, or a comparison of results.

    python3 perfbench/run.py --workload dag_replay --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py compare <base_results_dir> <new_results_dir>

A run builds the program and the benchmark from source (first run only),
generates the workload's base tables (first run only; they do not depend
on the seed, which salts only how the feed is cut and ordered), runs the
workload in
one JVM (`graft.entry.perfbench.Main`), and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. The full
result (host stamp, seed, confs, samples) and, when traced, the spans are
kept under .bench_build/results/. The exit code is non-zero when any
output check, query or chunk failed.

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(BUILD, "results")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# base-table scale per workload: (sf, events_scale); "tiny" is the self-test
DATA = {
    "full": {"dag_replay": (0.005, 1), "keyed_state": (0.1, 10)},
    "tiny": {"dag_replay": (0.001, 1), "keyed_state": (0.001, 1)},
}
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    files = []
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(digest):
    """Compiles the program sources plus the benchmark with sbt (offline);
    returns the runtime classpath. Rebuilds when any source changed."""
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got["digest"] == digest:
            return got["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.override.build.repos=true",
           "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
           "-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "compile", "export Runtime/fullClasspath"]
    t = time.time()
    p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("build failed")
    cp = p.stdout.strip().splitlines()[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp, "build_s": time.time() - t}, fh)
    return cp


def base_tables(sf, events_scale):
    """Generates the base tables once per (sf, events_scale, generator
    version) and returns their dir."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(BUILD, "data", f"sf{sf}-x{events_scale}-{version}")
    if not os.path.isdir(out):
        tmp = f"{out}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, sf, events_scale)
        os.replace(tmp, out)
    return out


def meminfo_kb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def heap_gb(mem_kb):
    """A quarter of the host's memory, between 2 and 6 GB."""
    return max(2, min(6, mem_kb // (4 * 1024 * 1024)))


def run(args):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("program sources (src/main/scala) not found next to perfbench/")
    digest = source_digest()
    cp = build(digest)
    host = {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": meminfo_kb(),
            "loadavg_start": loadavg(),
            "git_commit": git_commit(), "source_digest": digest}
    rid = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", rid)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(RESULTS, exist_ok=True)
    out = os.path.join(RESULTS, rid + ".json")
    try:
        data = base_tables(*DATA[args.size][args.workload])
        heap = heap_gb(host["mem_total_kb"])
        jvm = (["java", f"-Xmx{heap}g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
                "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
                "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
               + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
               + ["-cp", cp, "graft.entry.perfbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--data", data, "--work", work, "--out", out,
                  "--size", args.size])
        t_jvm = time.time()
        with open(os.path.join(RESULTS, rid + ".log"), "w") as log:
            try:
                p = subprocess.run(jvm, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                   timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"workload run exceeded {JVM_TIMEOUT_S} s; log: {log.name}")
        print(f"[perfbench] jvm {time.time() - t_jvm:.1f} s", file=sys.stderr)
        if p.returncode != 0 or not os.path.exists(out):
            fail(f"workload run failed (exit {p.returncode}); log: {log.name}")
        with open(out) as fh:
            res = json.load(fh)
    finally:
        t_rm = time.time()
        shutil.rmtree(work, ignore_errors=True)
        # commit the deletes now, so their disk traffic does not spill
        # into the next run
        fd = os.open(os.path.dirname(work), os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        print(f"[perfbench] cleanup {time.time() - t_rm:.1f} s", file=sys.stderr)
    host["loadavg_end"] = loadavg()
    res.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
               trace=args.trace, size=args.size, host=host, heap_gb=heap,
               base_tables=os.path.basename(data))
    with open(out, "w") as fh:
        json.dump(res, fh, indent=1)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0 if res["failed"] == 0 else 1


def compare(base_dir, new_dir):
    """Median and quartiles of every end-to-end metric per workload, base
    against new, with the verdict against the bound in BENCHMARK.json.
    Refuses results taken on hosts of another size."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m for m in json.load(fh)["end_to_end"]}

    def load(d):
        rs = []
        for f in sorted(glob.glob(os.path.join(d, "*.json"))):
            with open(f) as fh:
                r = json.load(fh)
            if r.get("trace") == 0 and "host" in r:
                rs.append(r)
        return rs
    base, new = load(base_dir), load(new_dir)
    hosts = {(r["host"]["nproc"], r["host"]["mem_total_kb"]) for r in base + new}
    if len(hosts) != 1:
        fail(f"results come from hosts of different size (nproc, MemTotal kB): {sorted(hosts)}")
    for wl in sorted({r["workload"] for r in base + new}):
        print(f"== {wl}")
        for name, m in bounds.items():
            b = [r["metrics"][name]["value"] for r in base if r["workload"] == wl]
            n = [r["metrics"][name]["value"] for r in new if r["workload"] == wl]
            if len(b) < 2 or len(n) < 2:
                continue
            qb, qn = statistics.quantiles(b, n=4), statistics.quantiles(n, n=4)
            change = (qn[1] - qb[1]) / qb[1]
            worse = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
            print(f"{name:18s} base {qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]  "
                  f"new {qn[1]:.4g} [{qn[0]:.4g}, {qn[2]:.4g}]  {change:+.1%}"
                  + ("  WORSE than bound" if worse else ""))
    return 0


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        if len(sys.argv) != 4:
            fail("usage: run.py compare <base_results_dir> <new_results_dir>")
        return compare(sys.argv[2], sys.argv[3])
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(DATA["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(DATA), default="full")
    return run(ap.parse_args())


if __name__ == "__main__":
    sys.exit(main())
