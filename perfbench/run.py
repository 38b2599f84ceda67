#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of the repository:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness (perfbench/build.sbt, which compiles the engine in
src/main as a source dependency) when its sources changed, runs one
workload in a fresh JVM, passes the harness's report lines through and
prints, as the last line, one JSON object with the metrics BENCHMARK.json
declares: the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1. Exits 1 when an output check failed, 2 when the run could not
complete.

Everything the run writes stays under .bench_build/ in the repository
root: the build record, per-run scratch space, span files and the
untraced results the traced runs compare against to report the tracing
overhead.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
WORKLOADS = ("hpv_bulk", "hpv_delta", "analytics_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "-Xmx3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads from the repository."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for base in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in base.glob("*") if p.is_file())
    for base in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def launch():
    """The harness classpath and JVM options (and the digest of the sources
    they were built from), building first when the sources changed."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("engine sources (build.sbt, src/main/scala) not found; run from the repository root")
    record = BUILD / "build.json"
    digest = source_digest()
    if record.is_file():
        built = json.loads(record.read_text())
        if built.get("digest") == digest:
            return built["launch"], digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false", "launch"]
    t0 = time.time()
    try:
        out = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True, text=True,
                             timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_TIMEOUT_S} s")
    found = [l for l in out.stdout.splitlines() if l.startswith("launch ")]
    if out.returncode != 0 or not found:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    spec = json.loads(found[-1][len("launch "):])
    BUILD.mkdir(exist_ok=True)
    record.write_text(json.dumps({"digest": digest, "launch": spec}))
    print(f"info build {time.time() - t0:.1f} s", flush=True)
    return spec, digest


def java(spec, main, args, timeout, log):
    """Run a harness main; returns (exit code, stdout lines). The JVM is
    killed when it overruns `timeout` or when this process is told to
    stop."""
    cmd = ["java", HEAP, *spec["java_options"], f"-Djava.io.tmpdir={log.parent / 'tmp'}",
           "-cp", spec["classpath"], main, *args]
    (log.parent / "tmp").mkdir(parents=True, exist_ok=True)
    # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir: keep its scratch here too
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(log.parent / "tmp"))
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)

        handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{main} did not finish within {timeout} s (log: {log})")
        finally:
            for s, h in handlers.items():
                signal.signal(s, h)
    return proc.returncode, out.splitlines()


def declared_metrics(traced):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]


def untraced_wall(workload, seed, digest):
    """wall_s of earlier untraced runs of the same build: the same seed's if
    recorded, else the median of all of the workload's."""
    path = BUILD / "results" / "untraced.jsonl"
    if not path.is_file():
        return None
    runs = [json.loads(l) for l in path.read_text().splitlines() if l.strip()]
    runs = [r for r in runs if r["workload"] == workload and r.get("digest") == digest]
    same = [r["wall_s"] for r in runs if r["seed"] == seed]
    walls = same or [r["wall_s"] for r in runs]
    return statistics.median(walls) if walls else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    traced = a.trace == "1"

    spec, digest = launch()
    t0 = time.time()
    work = BUILD / "work" / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    code, lines = java(spec, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", str(work / "run"), "--data", str(BENCH / "data"),
    ], RUN_TIMEOUT_S, work / "stderr.log")

    print(f"info jvm {time.time() - t0:.2f} s")
    result = None
    for line in lines:
        if line.startswith("result "):
            result = json.loads(line[len("result "):])
        else:
            print(line)
    if result is None:
        sys.stderr.write((work / "stderr.log").read_text()[-4000:])
        fail(f"no result (exit code {code}, log: {work / 'stderr.log'})")

    metrics = result["metrics"]
    wall = metrics["wall_s"]["value"]
    if traced:
        spans = BUILD / "traces" / f"{a.workload}-{a.seed}.jsonl"
        spans.parent.mkdir(exist_ok=True)
        shutil.copy(work / "run" / "spans.jsonl", spans)
        print(f"info spans {spans.relative_to(ROOT)}")
        base = untraced_wall(a.workload, a.seed, digest)
        if base is None:
            print("info tracing overhead unknown: no untraced run of this build recorded")
        else:
            print(f"metric trace.overhead_s {wall - base} s")
            print(f"metric trace.overhead_pct {100 * (wall - base) / base} %")
    elif code == 0:
        results = BUILD / "results"
        results.mkdir(exist_ok=True)
        with open(results / "untraced.jsonl", "a") as f:
            f.write(json.dumps({"digest": digest, "workload": a.workload, "seed": a.seed,
                                "wall_s": wall}) + "\n")

    names = declared_metrics(traced)
    missing = [n for n in names if n not in metrics]
    if missing:
        fail(f"metrics missing from the run: {', '.join(missing)}")
    for scratch in ("run", "tmp"):
        shutil.rmtree(work / scratch, ignore_errors=True)
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: metrics[n] for n in names},
    }), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
