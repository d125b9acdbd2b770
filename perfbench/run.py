#!/usr/bin/env python3
"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. It builds the engine and the
benchmark harness from source (once per checkout, under `.bench_build/`),
generates the seeded inputs, runs the workload in one JVM (closed loop, one
client, local[nproc]; see `src/main/scala/perfbench/Main.scala`), checks
the outputs, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones from the traced
passes. A line before it names every metric with its unit and sample
count, the failures with their causes, and the run's host context.

All inputs fit in memory: at the benchmark's scale (SF below) the ten
parquet tables are a few MB, and the heap is sized well above that.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen_data  # noqa: E402
import metrics  # noqa: E402
from workloads import SF, WORKLOADS, ingest_sequence  # noqa: E402

HEAP = "2g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# where the engine keeps on-disk memo state keyed by the data directory's name
ENGINE_STATE_DIRS = ["/tmp/graft_layout", "/tmp/graft_source_feed"]
CHECKPOINT_DIR, CHECKPOINT_PREFIX = "/dev/shm", "graft_ck_"


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the engine's main sources and build
    definition, and the harness's."""
    roots = [ROOT / "src" / "main", ROOT / "project", HERE / "src" / "main", HERE / "project"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file() and "target" not in p.parts]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(digest):
    """Compile engine + harness with the benchmark's sbt build (which builds
    the engine through the repository's own build definition), unless this
    checkout's sources (`digest`) were already built. Returns the runtime
    classpath and the engine build's JVM options."""
    stamp = BUILD / "build.stamp"
    cp, opts = BUILD / "sbt" / "classpath.txt", BUILD / "sbt" / "jvm_options.txt"

    def built():
        return cp.read_text().strip(), opts.read_text().split()

    if stamp.exists() and cp.exists() and opts.exists() and stamp.read_text() == digest:
        return built()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(BUILD / "build.log", "w") as log:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, stdout=log, stderr=subprocess.STDOUT, env=env,
                           timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not cp.exists() or not opts.exists():
        fail(f"build failed (exit {r.returncode}); see {BUILD / 'build.log'}")
    stamp.write_text(digest)
    return built()


def inputs(seed, run_dir):
    """Seeded tables, generated once per seed and hard-linked into a data
    directory private to this run, so the engine's memo state keyed by that
    directory's name starts empty every run."""
    gen = hashlib.sha256((HERE / "gen_data.py").read_bytes()).hexdigest()[:12]
    cache = BUILD / "data" / f"seed{seed}_sf{SF}_{gen}"
    if not cache.exists():
        cache.parent.mkdir(parents=True, exist_ok=True)
        gen_data.write(seed, SF, str(cache))
    data = run_dir / f"pb_{run_dir.name}"
    data.mkdir()
    for f in cache.iterdir():
        os.link(f, data / f.name)
    return data


def host_context(digest):
    def load():
        try:
            return Path("/proc/loadavg").read_text().split()[:3]
        except OSError:
            return None
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True).stdout.strip() or None
    except OSError:
        commit = None
    return {"commit": commit, "source_sha256": digest[:16],
            "nproc": len(os.sched_getaffinity(0)), "loadavg_start": load()}, load


def cleanup(run_dir, data_name, shm_before):
    # the engine names its state after the data directory, sometimes with a
    # digest suffix; the name is unique to this run
    for d in ENGINE_STATE_DIRS:
        for name in os.listdir(d) if os.path.isdir(d) else ():
            if name == data_name or name.startswith(data_name + "_"):
                shutil.rmtree(os.path.join(d, name), ignore_errors=True)
    if os.path.isdir(CHECKPOINT_DIR):
        for name in set(os.listdir(CHECKPOINT_DIR)) - shm_before:
            if name.startswith(CHECKPOINT_PREFIX):
                shutil.rmtree(os.path.join(CHECKPOINT_DIR, name), ignore_errors=True)
    shutil.rmtree(run_dir, ignore_errors=True)


def shm_names():
    return set(os.listdir(CHECKPOINT_DIR)) if os.path.isdir(CHECKPOINT_DIR) else set()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft" / "Registry.scala").is_file() or \
            not (ROOT / "tools" / "oracle_check.py").is_file():
        fail(f"no engine sources under {ROOT}; run from the root of a source checkout")

    digest = source_digest()
    context, load = host_context(digest)
    classpath, jvm_options = build(digest)
    wl = WORKLOADS[args.workload]
    cores = context["nproc"]
    run_dir = BUILD / "runs" / f"{args.workload}_{args.seed}_{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    shm_before = shm_names()
    data = inputs(args.seed, run_dir)
    try:
        result = run(args, wl, classpath, jvm_options, cores, run_dir, data)
    finally:
        cleanup(run_dir, data.name, shm_before)
    result["context"].update(context, loadavg_end=load())
    out = BUILD / "results"
    out.mkdir(exist_ok=True)
    (out / f"{args.workload}_seed{args.seed}_trace{args.trace}.json").write_text(
        json.dumps(result, indent=1, default=str))
    print(json.dumps({k: result[k] for k in ("summary", "context")}, default=str))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


def run(args, wl, classpath, jvm_options, cores, run_dir, data):
    rng = random.Random(args.seed)
    seq = ingest_sequence(rng) if "ingest" in wl["ops"] else None
    spec = {"cores": cores, "trace": bool(args.trace), "seconds": args.seconds,
            "seed": args.seed, "data_dir": str(data), "work_dir": str(run_dir),
            "ops": wl["ops"], "cache_tables": wl["cache_tables"], "ingest": seq,
            "warmup_passes": metrics.WARMUP_PASSES, "sample_passes": metrics.PASS_SAMPLES,
            "spans_path": str(run_dir / "spans.jsonl")}
    (run_dir / "spec.json").write_text(json.dumps(spec))
    # the engine build's options, with the benchmark's own fixed heap
    cmd = ["java", *[o for o in jvm_options if not o.startswith(("-Xmx", "-Xms"))],
           f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", classpath, "perfbench.Main",
           str(run_dir / "spec.json"), str(run_dir / "report.json")]
    with open(run_dir / "jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"workload did not finish within {JVM_TIMEOUT_S} s")
    if r.returncode != 0 or not (run_dir / "report.json").exists():
        sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
        fail(f"benchmark JVM exited with {r.returncode}")
    report = json.loads((run_dir / "report.json").read_text())

    dump = run_dir / "dump"
    registry_ops = [o for o in wl["ops"] if o != "ingest"]
    wrong = check.registry(str(ROOT), str(data), str(dump), report["oracle_sql"], registry_ops)
    live_rows = None
    if seq:
        w, live_rows = check.ingest(str(data), str(dump), seq, report["ingest"].get("results", {}))
        wrong.update(w)
    attempted, failed, causes = metrics.failures(report["ops"], wrong)
    for op, why in sorted(causes.items()):
        print(f"[perfbench] {op}: {why}", file=sys.stderr)

    if not any(r["ok"] for r in metrics.steady_ops(report)):
        fail("no operation of the workload succeeded in a steady pass")
    e2e, samples = metrics.end_to_end(report)
    summary = {"workload": args.workload, "failed_frac": failed / attempted,
               "failures": causes, "samples": samples,
               "oracled": sorted(set(report["oracle_sql"]) & set(registry_ops)),
               "end_to_end": e2e}
    if args.trace:
        spans = [json.loads(line) for line in (run_dir / "spans.jsonl").read_text().splitlines()]
        values = metrics.per_layer(report, spans, cores, live_rows)
        summary["pass_share"] = metrics.pass_shares(values)
    else:
        values = e2e
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": metrics.UNITS[k]} for k, v in values.items()},
        "summary": summary,
        "report": {k: report[k] for k in ("passes", "ops", "setup_s", "session_build_s",
                                           "tables_cache_s", "setup_jit_s", "setup_codegen_s")},
        "context": {"seed": args.seed, "cores": cores, "sf": SF,
                    "spark_version": report["spark_version"],
                    "jvm_version": report["jvm_version"]},
    }


if __name__ == "__main__":
    main()
