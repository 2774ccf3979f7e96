#!/usr/bin/env python3
"""graft benchmark: one closed-loop client on local[nproc/2], two workloads.

    python3 perfbench/run.py --workload analytics_mix|etl_ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (into .bench_build/); later runs reuse the build
while the sources are unchanged. Each run generates its inputs from --seed,
sets up a Spark session, makes an untimed pass whose outputs are checked
(DuckDB oracles for analytics_mix, sink invariants for etl_ingest), then
measures whole passes for --seconds, two at least. With --trace 1
the measured ops alternate between traced and untraced; the run reports
per-layer metrics from the traced ops and the tracing overhead from the
pairs. Human-readable lines go first; the last
line of stdout is the JSON result. The exit code is nonzero when a check
fails or the run cannot be made.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import gen, oracle, report  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
NPROC = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
# Spark gets half the cores; the driver thread, the JIT and the GC use the
# rest, so a run never asks for more cores than the machine has.
CORES = max(1, NPROC // 2)
JVM_HEAP = "3g"
# One C1 compiler thread and the serial collector. Under C2 the JIT compiled
# for most of every run (two thirds of the process CPU in the measured
# window) and raced the measured work for cores.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:CICompilerCount=1", "-XX:+UseSerialGC"]
GEN_REPEATS = 3

# analytics_mix: one non-benchSkip registry query per family, each with a
# DuckDB oracle that holds on every seed's fixture; the seed orders them.
MIX_POOL = {
    "relational": "q02_filter_pushdown",
    "etl": "q00_etl_lead_activity",
    "text": "x42_quality_score",
    "dedup": "x10_exact_dedup",
    "similarity": "x30_cosine_topk",
    "retrieval": "x83_mrr_eval",
    "graph": "x66_cosupply_projection",
    "streaming": "x132_stream_pages_parity",
    "multimodal": "x72_audio_windows",
    "pipeline": "x52_epoch_shuffle",
}
MIX_SF = 0.01
MIX_DOCS, MIX_VECS = 200, 200

# etl_ingest: page client shape (2500 items per page)
ETL = {"bulk_items": 10_000, "round_items": 2_500, "rounds": 3,
       "dup_per_page": 100, "bad_date_share": 0.03, "unauth_rate": 0.1}

WORKLOADS = ("analytics_mix", "etl_ingest")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


def source_stamp():
    """Digest of everything the build compiles and of the JVM flags the
    class-data-sharing archive is made with, to reuse an up-to-date build."""
    h = hashlib.sha256(" ".join(JVM_FLAGS).encode())
    files = (glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
             + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
             + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in sorted(p for p in files if os.path.isfile(p)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """sbt compile of engine + harness, then a class-data-sharing archive of the
    classes a run loads (it cuts JVM and session start-up). Returns the JVM
    classpath arguments."""
    stamp = source_stamp()
    out = os.path.join(BUILD, "out-" + stamp[:16])
    cp_file, cds = os.path.join(out, "classpath.txt"), os.path.join(out, "classes.jsa")
    if os.path.exists(cp_file) and os.path.exists(cds):
        with open(cp_file) as f:
            return [f"-XX:SharedArchiveFile={cds}", "-cp", f.read().strip()]
    for stale in glob.glob(os.path.join(BUILD, "out-*")):
        shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(out)
    target = os.path.join(BUILD, "perfbench-target")
    cmd = ["sbt", f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           "-Dsbt.server.autostart=false", f"-Dperfbench.target={target}",
           "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    log("building engine + harness with sbt (first run in a checkout only)")
    t0 = time.time()
    with open(os.path.join(out, "build.log"), "w") as err:
        r = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=err, text=True,
                           timeout=840, stdin=subprocess.DEVNULL)
        err.write(r.stdout)
    jar_dir = os.path.join(target, "scala-2.13")
    cp = [line.strip() for line in r.stdout.splitlines() if line.strip().startswith(jar_dir)]
    if r.returncode != 0 or not cp:
        fail(f"sbt build failed (see {os.path.relpath(out, ROOT)}/build.log)")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    # the archive is dumped at the exit of a short run over a tiny fixture
    train = os.path.join(out, "train")
    gen.fixture(os.path.join(train, "input"), 0, 0.001, 200, 200)
    plan = ",".join(f"{q}:{f}" for q, f in mix_plan(0))
    r = subprocess.run(jvm_base(os.path.join(train, "tmp")) + [
        f"-XX:ArchiveClassesAtExit={cds}", "-cp", cp[-1], "perfbench.Harness",
        "--mode", "queries", "--data", os.path.join(train, "input"), "--plan", plan,
        "--out", os.path.join(train, "raw.json"), "--work", train, "--seconds", "0",
        "--trace", "1", "--cores", str(CORES)],
        cwd=train, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=600)
    shutil.rmtree(train, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(cds):
        fail("class-data-sharing archive run failed")
    log(f"build done in {time.time() - t0:.1f} s")
    return [f"-XX:SharedArchiveFile={cds}", "-cp", cp[-1]]


def jvm_base(tmp):
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xss64m", f"-Xmx{JVM_HEAP}", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Duser.timezone=UTC", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")])


def mix_plan(seed):
    """Every pool query, in an order drawn from the seed."""
    plan = [(q, fam) for fam, q in MIX_POOL.items()]
    random.Random(seed).shuffle(plan)
    return plan


def generate(workload, seed, data_dir):
    """Input generation, repeated; returns (sizes, median seconds). The etl
    inputs come from the harness's seeded page client."""
    times, sizes = [], {}
    for _ in range(GEN_REPEATS):
        shutil.rmtree(data_dir, ignore_errors=True)
        t0 = time.perf_counter()
        if workload == "analytics_mix":
            sizes = gen.fixture(data_dir, seed, MIX_SF, MIX_DOCS, MIX_VECS)
        times.append(time.perf_counter() - t0)
    return sizes, statistics.median(times)


def run_harness(cp, args, work, data_dir):
    out = os.path.join(work, "raw.json")
    cmd = (jvm_base(os.path.join(work, "tmp")) + cp
           + ["perfbench.Harness", "--out", out, "--work", work,
              "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--cores", str(CORES)])
    if args.workload == "etl_ingest":
        cmd += ["--mode", "etl", "--seed", str(args.seed)]
        for k, v in ETL.items():
            cmd += ["--" + k.replace("_", "-"), str(v)]
    else:
        cmd += ["--mode", "queries", "--data", data_dir,
                "--plan", ",".join(f"{q}:{f}" for q, f in mix_plan(args.seed))]
    t0 = time.time()
    with open(os.path.join(work, "harness.log"), "w") as err:
        r = subprocess.run(cmd, cwd=work, stdout=err, stderr=subprocess.STDOUT, timeout=160,
                           stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "harness.log")) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited with {r.returncode}:\n{tail}")
    with open(out) as f:
        raw = json.load(f)
    return raw, t0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")

    cp = build()
    work = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data_dir = os.path.join(work, "input")
    os.makedirs(work)
    sizes, gen_s = generate(args.workload, args.seed, data_dir)
    raw, launched = run_harness(cp, args, work, data_dir)

    checks = raw["checks"]
    oracle_s = 0.0
    if args.workload == "analytics_mix":
        t0 = time.perf_counter()
        names = [n for n, _ in mix_plan(args.seed)]
        results = oracle.check_all(data_dir, os.path.join(work, "verify"),
                                   {n: raw["oracles"][n] for n in names},
                                   os.path.join(work, "duckdb-tmp"))
        oracle_s = time.perf_counter() - t0
        checks += [{"name": f"oracle:{n}", "ok": why is None, "detail": why or "match"}
                   for n, why in results.items()]
    bad = [c for c in checks if not c["ok"]]
    for c in bad:
        log(f"CHECK FAILED {c['name']}: {c['detail']}")

    inputs = dict(sizes)
    if args.workload == "etl_ingest":
        inputs = raw["etl"]["input"]
    boot_s = raw["setup"]["session_ready_us"] / 1e6 - launched
    # set-up is what a user waits for before the first checked result
    setup_s = gen_s + boot_s + raw["setup"]["checked_pass_s"] + oracle_s
    e2e, notes = report.e2e_metrics(raw, args.workload, setup_s)
    summary = {"workload": args.workload, "seed": args.seed, "cores": CORES,
               "loop": f"closed, 1 client, local[{CORES}]", "inputs": inputs,
               "setup": {"gen_median_s": gen_s, "gen_repeats": GEN_REPEATS, "jvm_boot_s": boot_s,
                         "session_s": raw["setup"]["session_s"],
                         "checked_pass_s": raw["setup"]["checked_pass_s"], "oracle_s": oracle_s},
               "checks": {"attempted": len(checks), "failed": len(bad)}, **notes}
    if args.trace:
        metrics, overhead = report.layer_metrics(raw, args.workload, CORES)
        units = dict(report.PER_LAYER)
        summary["trace_overhead"] = overhead
    else:
        metrics = e2e
        units = dict(report.END_TO_END)
    named = report.named_metrics(args.workload, e2e, notes, raw)
    for k, (v, unit, n) in named.items():
        log(f"{k} = {v:.6g} {unit}" + (f" (n={n})" if n is not None else ""))
    log(f"ops_failed_ratio = {len(bad) / max(1, len(checks)):.6g} ratio (n={len(checks)})")

    spans_file = os.path.join(BUILD, "spans", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(spans_file), exist_ok=True)
    raw["summary"] = summary
    raw["metrics"] = metrics
    raw["checks"] = checks
    with open(spans_file, "w") as f:
        json.dump(raw, f)
    log(f"span file: {os.path.relpath(spans_file, ROOT)}")
    log("summary: " + json.dumps(summary))
    shutil.rmtree(work, ignore_errors=True)

    result = {"correct": not bad, "attempted": len(checks), "failed": len(bad),
              "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}
    print(json.dumps(result), flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
