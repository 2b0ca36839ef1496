#!/usr/bin/env python3
"""Benchmark of the stock ETL library: one workload per call, in its own JVM.

    python3 perfbench/run.py --workload bar_queries --seed 1 --seconds 5 --trace 0

Run from the repository root. The first call builds the library and the
harness with sbt (into target/ and .bench_build/); later calls reuse the
build while the sources are unchanged. The last line of standard output
is the result: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics under --trace 0 and the per-layer metrics of a traced
run under --trace 1, with the names and units BENCHMARK.json lists. The
line before it is run context (host factor, sample counts, phase times).
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

WORKLOADS = ("bar_queries", "daily_load")
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", "/root/testdata/sf0.1")
# The scale the bar queries' outputs are compared value for value at.
CHECK_SF_DIR = os.environ.get("PERFBENCH_CHECK_SF_DIR", str(Path(SF_DIR).parent / "sf0.01"))
TIME_LIMIT_S = 170  # per call, after the build

# Pinned JVM settings: graft.Bench's code cache, and the tier-1 suite's
# heap rule (half of RAM in GiB, between 2g and 8g), fixed at start. The
# young generation is pinned too: left to G1 it grows to most of the
# heap, and the resident peak then depends on how far eden filled
# before the run ended.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
SBT_OPTS_OFFLINE = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=/root/.sbt/repositories "
                    "-Dsbt.offline=true -Xmx4g")


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def heap():
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project", ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file() and "target" not in p.parts)
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()


def build(out):
    """Compiles library and harness with sbt; returns the runtime classpath."""
    stamp, cp_file, stamp_file = source_stamp(), out / "classpath.txt", out / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", SBT_OPTS_OFFLINE)
    env.setdefault("COURSIER_MODE", "offline")
    print("[perfbench] building with sbt", file=sys.stderr, flush=True)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=800)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    out.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def run_jvm(cp, args, work, cores, deadline):
    cmd = (["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-Xmn1g", "-XX:ReservedCodeCacheSize=2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores),
              "--sf", SF_DIR, "--check-sf", CHECK_SF_DIR, "--work", str(work)])
    (work / "tmp").mkdir(parents=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("workload JVM ran out of time and was stopped")
    if rc != 0:
        fail(f"workload JVM exited with {rc}")
    return json.loads((work / "result.json").read_text())


def with_units(emitted, trace):
    """The run's metrics with BENCHMARK.json's units: every listed
    metric, a per-layer one the workload does not reach as 0. A name
    the JVM emits that the list lacks is an error."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    listed = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    unknown = sorted(set(emitted) - set(listed))
    if unknown:
        fail(f"metrics not listed in BENCHMARK.json: {unknown}")
    missing = sorted(set(listed) - set(emitted))
    if missing and not trace:
        fail(f"end-to-end metrics not measured: {missing}")
    metrics = {k: {"value": emitted.get(k, 0.0), "unit": u} for k, u in listed.items()}
    return metrics, missing


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no library source beside the benchmark (expected {ROOT}/build.sbt and src/)")
    if not Path(SF_DIR, "lineitem.parquet").exists():
        fail(f"sf0.1 tables not found in {SF_DIR} (set PERFBENCH_SF_DIR)")
    if not Path(CHECK_SF_DIR, "lineitem.parquet").exists():
        fail(f"sf0.01 tables not found in {CHECK_SF_DIR} (set PERFBENCH_CHECK_SF_DIR)")
    out = ROOT / ".bench_build" / "perfbench"
    cp = build(out)

    start = time.monotonic()
    cores = len(os.sched_getaffinity(0))
    work = out / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        import check
        import gen
        if args.workload == "daily_load":
            gen.write(str(work / "landing"), args.seed)
        result = run_jvm(cp, args, work, cores, start + TIME_LIMIT_S - 10)
        jvm_s = time.monotonic() - start
        facts = result["checks"]
        ops = result["ops"]
        failed = {i for i, o in enumerate(ops) if not o["ok"]}
        if args.workload == "daily_load":
            failed |= set(check.check_daily(args.seed, facts))
        else:
            oracle = json.loads((work / "check" / "oracle_sql.json").read_text())
            bad = check.check_queries(str(work), CHECK_SF_DIR, SF_DIR, facts["shapes"],
                                      oracle, cores)
            failed |= {i for i, o in enumerate(ops) if o["op"] in bad}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics, not_reached = with_units(result["metrics"], args.trace)
    context = dict(result["context"])
    context.update(heap=heap(), sf_dir=SF_DIR, check_sf_dir=CHECK_SF_DIR,
                   failed_ratio=len(failed) / len(ops), jvm_s=jvm_s,
                   check_s=time.monotonic() - start - jvm_s, run_s=time.monotonic() - start)
    if args.trace:
        context["not_reached"] = not_reached
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
