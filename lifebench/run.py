#!/usr/bin/env python3
"""Lifecycle benchmark: backfill, the live stream and the catalog.

Run from the repository root:

    python3 lifebench/run.py --workload backfill --seed 1 --seconds 8 --trace 0

The first run compiles the benchmark together with the program's
sources (sbt, offline) into `.bench_build/`; later runs reuse the build
while the sources are unchanged. The benchmark JVM generates every input
from the seed, measures for the given seconds, checks every output, and
prints one record. The last stdout line is the result: the end-to-end
metrics of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`. A traced run first repeats the same run untraced, so the
difference between the two is reported as the tracing overhead.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_TIMEOUT_S = 850
HEAP = "2g"

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn512m", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Duser.timezone=UTC", "-XX:-UsePerfData"]


def fail(msg, code=2):
    print(f"lifebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    for top in (PROGRAM_SRC, os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        if os.path.isfile(top):
            yield top
            continue
        for d, _, fs in sorted(os.walk(top)):
            for f in sorted(fs):
                yield os.path.join(d, f)


def fingerprint():
    h = hashlib.sha1()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(fp):
    """Compile once per source fingerprint; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export Runtime/fullClasspath"]
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed", 1)
    classpath = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": classpath}, fh)
    return classpath


def commit():
    """The checkout's git commit, or None outside a git repository."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def steal_s():
    """CPU time the hypervisor gave to other guests so far (0 if unknown)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def run_jvm(classpath, args, trace, timeout_s):
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "lifebench.Main",
                                  "--workload", args.workload, "--seed", str(args.seed),
                                  "--seconds", str(args.seconds), "--trace", str(trace),
                                  "--work", work]
    if trace:
        cmd += ["--spans", os.path.join(BUILD, "trace", f"{args.workload}-seed{args.seed}.spans.jsonl")]
    steal0 = steal_s()
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=timeout_s)
    except subprocess.TimeoutExpired:
        fail(f"{args.workload} run timed out after {timeout_s} s", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        fail(f"{args.workload} run exited with {r.returncode}", 1)
    record = json.loads(lines[-1])
    # stolen CPU explains run-to-run drift on a shared host
    record["box"]["cpu_steal_s"] = steal_s() - steal0
    return record


def record_path(args, seed, trace):
    return os.path.join(BUILD, "records", f"{args.workload}-s{args.seconds}-seed{seed}-trace{trace}.json")


def save(record, args, trace):
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(record_path(args, record["box"]["seed"], trace), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)


def untraced_p50(args, fp):
    """Median `op_p50_ms` of this checkout's untraced records for the
    workload and run length, or None."""
    d = os.path.join(BUILD, "records")
    prefix, suffix = f"{args.workload}-s{args.seconds}-seed", "-trace0.json"
    vals = []
    for name in os.listdir(d) if os.path.isdir(d) else []:
        if name.startswith(prefix) and name.endswith(suffix):
            with open(os.path.join(d, name)) as fh:
                rec = json.load(fh)
            if rec.get("box", {}).get("source_sha1") == fp:
                vals.append(rec["e2e"]["op_p50_ms"])
    return statistics.median(vals) if vals else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(PROGRAM_SRC) or not os.path.exists(spec_path):
        fail("run from the root of a checkout that holds the program's sources")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    fp = fingerprint()
    classpath = build(fp)
    if args.trace:
        record = run_jvm(classpath, args, 1, 95)
        # tracing overhead: this run against the untraced runs of the same
        # workload and length in this checkout (one is made if none exist)
        base = untraced_p50(args, fp)
        if base is None:
            untraced = run_jvm(classpath, args, 0, 80)
            untraced["box"]["source_sha1"] = fp
            save(untraced, args, 0)
            base = untraced["e2e"]["op_p50_ms"]
        record["layers"]["trace.overhead_pct"] = (record["e2e"]["op_p50_ms"] - base) / base * 100.0
        wanted, source = spec["per_layer"], record["layers"]
    else:
        record = run_jvm(classpath, args, 0, 170)
        wanted, source = spec["end_to_end"], record["e2e"]
    record["box"]["source_sha1"] = fp
    record["box"]["commit"] = commit()

    if args.trace:
        # a layer a workload does not exercise reads 0; a name the JVM
        # reports that BENCHMARK.json lacks is a bug in the benchmark
        unknown = set(source) - {m["name"] for m in wanted}
        if unknown:
            fail(f"per-layer metrics not in BENCHMARK.json: {sorted(unknown)}", 1)
        source = {m["name"]: source.get(m["name"], 0.0) for m in wanted}
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None or not math.isfinite(v):
            fail(f"metric {m['name']} missing or not finite: {v}", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    save(record, args, args.trace)
    print(json.dumps({"record": record}, sort_keys=True))
    print(json.dumps({"correct": bool(record["correct"]), "attempted": int(record["attempted"]),
                      "failed": int(record["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
