#!/usr/bin/env python3
"""graft benchmark: build the program from source, run one workload, check it.

Usage (from the repository root):

    python3 perfbench/run.py --workload tool_session --seed 1 --seconds 10 --trace 0

Workloads: tool_session, ingest_gate, batch_pipeline (see perfbench/README.md).
The first run compiles the program and the benchmark with sbt (the
perfbench/build.sbt build depends on the repository's own build) and caches
the classpath under .bench_build/; later runs reuse it while no source file
changed. Each run starts one JVM at local[n] with n = min(4, nproc).

The last stdout line is one JSON object: correct, attempted, failed and the
metrics BENCHMARK.json names (end_to_end with --trace 0, per_layer with
--trace 1). The full result, with provenance, per-run extras and every
check, goes to .bench_build/results/. A failed output check makes the
command exit 1; a build or launch failure exits 2 without a result line.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
WORKLOADS = ("tool_session", "ingest_gate", "batch_pipeline")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "2g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


# The per-layer metrics each workload's traced run must produce; `spark.*`
# comes from every workload. A traced run missing one of its own fails.
LAYERS = {
    "tool_session": ("crm.", "vector.index_leg_", "vector.search_", "vector.index_files"),
    "ingest_gate": ("ops.minhash_pairs_ms", "text.", "vector.ivf_gate_", "multimodal.",
                    "sources.", "vector.read_after_write_"),
    "batch_pipeline": (),
}


def produces(workload, metric):
    return metric.startswith(("spark.",) + LAYERS[workload])


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the program's build and sources, and ours."""
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    files += sorted((ROOT / "project").glob("*.sbt")) + sorted((ROOT / "project").glob("*.properties"))
    files += sorted((BENCH / "project").glob("*.properties"))
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return [f for f in files if f.is_file()]


def build():
    """Compile once per source state; returns (runtime classpath, source stamp)."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        fail("the program's sources (build.sbt, src/main/scala/graft) are not in this checkout")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), stamp
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    log = BUILD / "build.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT, env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log})")
    lines = log.read_text().splitlines()
    cp = next((l for l in reversed(lines) if os.pathsep in l and "classes" in l and not l.startswith("[")), None)
    if code != 0 or cp is None:
        fail(f"build failed (exit {code}); see {log}")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp, stamp


def stop(proc):
    """Kill a child's whole process group and wait for it to end."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def launch(cp, args, work, out):
    """Run the benchmark JVM; its own output goes to a log, not our stdout."""
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", str(work), "--out", str(out),
            "--cores", str(min(4, nproc())), "--mode", args.mode]
    if args.workload:
        cmd += ["--workload", args.workload]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log = work.parent / f"{work.name}.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"run timed out after {RUN_TIMEOUT_S} s (log: {log})")
    if code != 0 or not out.is_file():
        tail = "\n".join(log.read_text(errors="replace").splitlines()[-15:])
        fail(f"benchmark process exited {code}; log {log}:\n{tail}")
    return json.loads(out.read_text())


def fmt(v):
    """A measured value at full useful precision, kept short for the summary line."""
    return float(f"{v:.7g}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mode", choices=("run", "gen"), default="run",
                    help="gen: only write the seed's generated inputs and print their digests")
    args = ap.parse_args()
    if args.mode == "run" and not args.workload:
        ap.error("--workload is required")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    cp, stamp = build()
    load_start = os.getloadavg()[0]
    tag = f"{args.workload or 'gen'}-seed{args.seed}-trace{args.trace}"
    work = BUILD / "work" / f"{tag}-{os.getpid()}"
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    try:
        res = launch(cp, args, work, work.parent / f"{work.name}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        (work.parent / f"{work.name}.json").unlink(missing_ok=True)
    load_end = os.getloadavg()[0]
    if args.mode == "gen":
        print(json.dumps(res["inputs"], sort_keys=True))
        return

    checks_ok = bool(res["correct"])
    # one seed must reproduce the batch pipeline's row counts and digests
    digests = res.get("sizes", {}).get("stage_digests")
    if digests:
        known = BUILD / "digests" / f"{args.workload}-seed{args.seed}.json"
        known.parent.mkdir(exist_ok=True)
        if known.is_file():
            same = json.loads(known.read_text()) == digests
            res["checks"]["batch_pipeline.digests_identical_across_runs"] = {
                "passed": int(same), "failed": int(not same),
                "first_failure": "" if same else f"digests differ from {known}"}
            checks_ok = checks_ok and same
        else:
            known.write_text(json.dumps(digests, sort_keys=True))

    res["provenance"].update({
        "seed": args.seed, "nproc": nproc(), "git_head": git_head(),
        "load_avg_start": load_start, "load_avg_end": load_end,
        "loaded_start": load_start >= 1.0, "run_seconds": args.seconds})
    history = results / "runs.jsonl"
    past = [json.loads(l) for l in history.read_text().splitlines()] if history.is_file() else []
    if args.trace:
        # tracing overhead: this traced run against the untraced runs of the
        # same build and workload
        base = [p["end_to_end"] for p in past if p["workload"] == args.workload
                and p["stamp"] == stamp and not p["trace"]]
        for m in ("op_mean_ms", "lookup_p50_ms", "write_amp"):
            if base and res["end_to_end"].get(m):
                res["per_layer"][f"trace.overhead.{m}"] = \
                    res["end_to_end"][m] / statistics.median(b[m] for b in base) - 1
        res["per_layer"]["trace.overhead_baseline_runs"] = len(base)
    section = "per_layer" if args.trace else "end_to_end"
    values = res[section] or {}
    metrics = {}
    for m in spec[section]:
        v = values.get(m["name"])
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            # a layer this workload does not run reads 0; any other gap is a fault
            if not args.trace or produces(args.workload, m["name"]):
                fail(f"the run did not measure {m['name']}")
            v = 0.0
        metrics[m["name"]] = {"value": fmt(v), "unit": m["unit"]}
    correct = checks_ok and res["failed"] == 0
    res["summary"] = {"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}
    when = time.strftime("%Y%m%dT%H%M%S")
    full = results / f"{tag}-{when}.json"
    full.write_text(json.dumps(res, indent=1, sort_keys=True))
    print(f"perfbench: full result in {full}", file=sys.stderr)
    with open(history, "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                            "stamp": stamp, "time": when, "correct": correct,
                            "end_to_end": res["end_to_end"], "summary": res["summary"],
                            "provenance": res["provenance"]}) + "\n")
    for name, c in res["checks"].items():
        if c["failed"]:
            print(f"perfbench: check {name} failed {c['failed']}x: {c['first_failure']}",
                  file=sys.stderr)
    for f in res["failures"][:10]:
        print(f"perfbench: operation {f['op']} failed: {f['error']}", file=sys.stderr)
    print(json.dumps(res["summary"], separators=(",", ":")))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
