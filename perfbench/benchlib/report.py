"""Turns the harness's span file into the benchmark's metrics.

End-to-end metrics (untraced runs) are gated by the bounds in
BENCHMARK.json and use the same two names on both workloads: `setup_s` and
`cpu_per_op_s`, JVM process CPU seconds per op. What an "op" is depends on
the workload:

  workload       op                                   wall-time work rate (printed)
  analytics_mix  one registry query                   queries per second of query time
  etl_ingest     a bulk load or an incremental round  rows landed per second of load time

Wall-time figures (work rate, latency medians and tails) are printed under
the workload's descriptive names with their sample counts, but are not
gated: on a shared virtual machine they follow how busy the host is more
than the engine (see README.md).

Per-layer metrics (traced runs) are per traced op unless the unit says
otherwise. In a traced run the measured ops alternate between traced and
untraced; per-layer figures come from the traced ones, and the tracing
overhead compares the two kinds on the same op names.
"""
import statistics

from . import stats

FAMILIES = ["relational", "etl", "text", "dedup", "similarity", "retrieval",
            "graph", "streaming", "multimodal", "pipeline"]
OPERATOR_FAMILIES = ["dedup", "similarity", "text", "retrieval", "pipeline"]
SELF_LAYERS = ["op", "queries", "build", "execute", "sinks", "planner", "spark", "streaming"]
# where a listener-recorded span without a known parent may nest
OP_CHILD_LAYERS = ["queries", "build", "execute", "sinks", "op"]
PARENT_LAYERS = {
    "planner": OP_CHILD_LAYERS,
    "spark": ["streaming"] + OP_CHILD_LAYERS,
    "streaming": OP_CHILD_LAYERS,
}

END_TO_END = [("setup_s", "s"), ("cpu_per_op_s", "s")]

# per-layer metrics as (name, unit); all are better lower except these
HIGHER_IS_BETTER = {"spark.slot_util", "sources.useful_row_ratio", "sinks.rows_written"}
PER_LAYER = (
    [("queries.build_s", "s/op"), ("queries.eager_jobs", "count/op"),
     ("planner.analysis_s", "s/op"), ("planner.optimization_s", "s/op"),
     ("planner.planning_s", "s/op"),
     ("spark.jobs", "count/op"), ("spark.stages", "count/op"), ("spark.tasks", "count/op"),
     ("spark.driver_only_s", "s/op"), ("spark.driver_only_share", "ratio"),
     ("spark.sched_delay_s", "s/op"), ("spark.task_busy_s", "s/op"),
     ("spark.slot_util", "ratio"), ("spark.shuffle_bytes", "B/op"),
     ("spark.spill_bytes", "B/op"), ("spark.gc_s", "s/op"),
     ("tables.bytes_read", "B/op"), ("tables.rows_read", "count/op"),
     ("jvm.cpu_s", "s/op"), ("jvm.jit_s", "s/op"), ("jvm.gc_s", "s/op"),
     ("jvm.codegen_compiles", "count/op")]
    + [(f"operators.{f}_s", "s/op") for f in OPERATOR_FAMILIES]
    + [("sources.pages_fetched", "count/op"), ("sources.fetch_s", "s/op"),
       ("sources.bytes_fetched", "B/op"), ("sources.retries", "count/op"),
       ("sources.useful_row_ratio", "ratio"),
       ("sinks.write_s", "s/op"), ("sinks.rows_written", "count/op"),
       ("sinks.bytes_written", "B/op"), ("sinks.files", "count"),
       ("sinks.read_amp", "ratio"), ("sinks.bytes_per_row", "B"),
       ("streaming.batches", "count/op"), ("streaming.batch_p50_s", "s"),
       ("streaming.planning_s", "s/op"), ("streaming.wal_commit_s", "s/op")]
    + [(f"mix.family.{f}_s", "s/op") for f in FAMILIES]
    + [(f"self.{layer}_s", "s/op") for layer in SELF_LAYERS]
    + [("trace.overhead_pct", "%"), ("trace.overhead_latency_s", "s")]
)


def phase_window(raw, phase):
    for sp in raw["spans"]:
        if sp["layer"] == "phase" and sp["name"] == phase:
            return sp
    raise KeyError(f"no {phase} phase recorded")


def secs(us):
    return us / 1e6


def dur(s):
    return secs(s["end_us"] - s["start_us"])


def timed_phase(raw):
    """The sample phase end-to-end figures come from: the whole window of an
    untraced run, the untraced ops of a traced one."""
    return "untraced" if any(s["phase"] == "traced" for s in raw["samples"]) else "measure"


def op_samples(raw, phase):
    return [s for s in raw["samples"] if s["phase"] == phase]


def latency_samples(ops, workload):
    """The ops whose latency is reported: every query; the incremental
    rounds of etl_ingest."""
    return [s for s in ops if workload != "etl_ingest" or s["name"] == "round"]


def op_latency(ops):
    """Geometric mean, over the op names, of each name's median latency."""
    by_name = {}
    for s in ops:
        by_name.setdefault(s["name"], []).append(dur(s))
    return stats.geomean([statistics.median(v) for v in by_name.values()])


def e2e_metrics(raw, workload, setup_s):
    phase = timed_phase(raw)
    ops = op_samples(raw, phase)
    busy = sum(dur(s) for s in ops)
    if workload == "etl_ingest":
        rate = sum(s["rows"] for s in ops) / busy
    else:
        rate = len(ops) / busy
    lat = [dur(s) for s in latency_samples(ops, workload)]
    p, tail, n = stats.tail(lat)
    win = phase_window(raw, "measure")
    values = {"setup_s": setup_s,
              "cpu_per_op_s": sum(s["counters"]["process_cpu_ns"] for s in ops) / 1e9 / len(ops)}
    notes = {"work_rate": rate, "op_latency_s": op_latency(latency_samples(ops, workload)),
             "op_count": len(ops), "op_samples": n, "op_p50_s": statistics.median(lat),
             "op_tail_rank": p, "op_tail_s": tail, "window_s": dur(win),
             "passes": win["attrs"]["passes"], "steal_ticks": win["attrs"]["steal_ticks"]}
    return values, notes


def _per_op(total, n):
    return total / n if n else 0.0


def trace_overhead(raw):
    """Traced against untraced ops of the same names: the geometric means of
    their per-name median latencies. The harness times every name both ways."""
    by_name = {}
    for s in raw["samples"]:
        if s["phase"] in ("traced", "untraced"):
            by_name.setdefault(s["name"], {}).setdefault(s["phase"], []).append(dur(s))
    pairs = [(statistics.median(v["traced"]), statistics.median(v["untraced"]))
             for v in by_name.values()]
    t = stats.geomean([a for a, _ in pairs])
    u = stats.geomean([b for _, b in pairs])
    return {"traced_s": t, "untraced_s": u, "names": len(pairs)}


def layer_metrics(raw, workload, cores):
    """Per-layer metrics over the traced ops, plus the tracing overhead."""
    ops = op_samples(raw, "traced")
    n = len(ops)
    windows = {s["op"]: (s["start_us"], s["end_us"]) for s in ops}

    def owner(op, t_us):
        """The traced op an event belongs to: its job group's op, else (for
        jobs outside any group, such as streaming micro-batches) the traced
        op running at the time; None when it belongs to no traced op."""
        if op in windows:
            return op
        if op == -1:
            for k, (lo, hi) in windows.items():
                if lo <= t_us < hi:
                    return k
        return None

    spans = []
    for sp in raw["spans"]:
        if sp["layer"] in ("phase", "verify"):
            continue
        o = owner(sp["op"], sp["start_us"])
        if o is not None:
            spans.append(dict(sp, op=o))
    fields = {f: i for i, f in enumerate(raw["task_fields"])}
    tasks = []
    for t in raw["tasks"]:
        o = owner(t[fields["op"]], t[fields["launch_ms"]] * 1000)
        if o is not None:
            tasks.append((o, t))
    col = lambda f, sel=None: [t[fields[f]] for o, t in tasks if sel is None or o in sel]
    intervals = [(t[fields["launch_ms"]] * 1000, t[fields["finish_ms"]] * 1000) for _, t in tasks]
    by = lambda layer, name=None: [sp for sp in spans if sp["layer"] == layer
                                   and (name is None or sp["name"] == name)]
    spans_s = lambda sps: sum(dur(sp) for sp in sps)
    op_total = lambda key: sum(s["counters"].get(key, 0) for s in ops)

    m = {}
    build_end = {s["op"]: s["start_us"] + s["build_us"] for s in ops}
    jobs = by("spark", "job")
    m["queries.build_s"] = _per_op(sum(secs(s["build_us"]) for s in ops), n)
    m["queries.eager_jobs"] = _per_op(
        sum(1 for j in jobs if j["start_us"] < build_end[j["op"]]), n)
    for phase in ("analysis", "optimization", "planning"):
        m[f"planner.{phase}_s"] = _per_op(spans_s(by("planner", phase)), n)
    m["spark.jobs"] = _per_op(len(jobs), n)
    m["spark.stages"] = _per_op(len(by("spark", "stage")), n)
    m["spark.tasks"] = _per_op(len(tasks), n)
    idle = secs(stats.driver_only_windows(intervals, windows.values()))
    m["spark.driver_only_s"] = _per_op(idle, n)
    m["spark.driver_only_share"] = _per_op(idle, sum(dur(s) for s in ops))
    delay = [max(0, (t[fields["finish_ms"]] - t[fields["launch_ms"]]) - t[fields["run_ms"]]
                 - t[fields["deser_ms"]] - t[fields["ser_ms"]] - t[fields["getting_result_ms"]])
             for _, t in tasks]
    m["spark.sched_delay_s"] = _per_op(sum(delay) / 1000, n)
    m["spark.task_busy_s"] = _per_op(sum(secs(e - s) for s, e in intervals), n)
    m["spark.slot_util"] = stats.slot_util_windows(intervals, cores, windows.values())
    m["spark.shuffle_bytes"] = _per_op(sum(col("shuffle_write_bytes")), n)
    m["spark.spill_bytes"] = _per_op(sum(col("spill_mem_bytes")) + sum(col("spill_disk_bytes")), n)
    m["spark.gc_s"] = _per_op(sum(col("gc_ms")) / 1000, n)
    m["tables.bytes_read"] = _per_op(sum(col("input_bytes")), n)
    m["tables.rows_read"] = _per_op(sum(col("input_records")), n)
    m["jvm.cpu_s"] = _per_op(op_total("process_cpu_ns") / 1e9, n)
    m["jvm.jit_s"] = _per_op(op_total("jit_ms") / 1000, n)
    m["jvm.gc_s"] = _per_op(op_total("gc_ms") / 1000, n)
    m["jvm.codegen_compiles"] = _per_op(op_total("codegen_compiles"), n)

    # operator time is executor run time of the family's queries' tasks
    for f in OPERATOR_FAMILIES:
        fam_ops = {s["op"] for s in ops if s["family"] == f}
        m[f"operators.{f}_s"] = _per_op(sum(col("run_ms", fam_ops)) / 1000, len(fam_ops))

    rows_landed = sum(s["rows"] for s in ops if s["family"] == "etl")
    m["sources.pages_fetched"] = _per_op(op_total("pages"), n)
    m["sources.fetch_s"] = _per_op(op_total("fetch_ns") / 1e9, n)
    m["sources.bytes_fetched"] = _per_op(op_total("bytes_fetched"), n)
    m["sources.retries"] = _per_op(op_total("retries"), n)
    fetched = op_total("items_fetched")
    m["sources.useful_row_ratio"] = rows_landed / fetched if fetched else 0.0
    # executor time of the tasks that write sink files (Spark runs the
    # etl dedup window fused into the same stage)
    m["sinks.write_s"] = _per_op(sum(t[fields["run_ms"]] for _, t in tasks
                                     if t[fields["output_bytes"]] > 0) / 1000, n)
    m["sinks.rows_written"] = _per_op(rows_landed, n)
    m["sinks.bytes_written"] = _per_op(sum(col("output_bytes")), n)
    sink = raw.get("etl", {})
    m["sinks.files"] = sink.get("files", 0)
    rounds = [s for s in ops if s["name"] == "round"]
    appended = sum(r["rows"] for r in rounds)
    in_rounds = sum(col("input_records", {r["op"] for r in rounds}))
    m["sinks.read_amp"] = in_rounds / appended if appended else 0.0
    m["sinks.bytes_per_row"] = sink["bytes"] / sink["rows"] if sink.get("rows") else 0.0

    batches = by("streaming", "batch")
    m["streaming.batches"] = _per_op(len(batches), n)
    m["streaming.batch_p50_s"] = (statistics.median(dur(b) for b in batches)
                                  if batches else 0.0)
    m["streaming.planning_s"] = _per_op(
        sum(b["attrs"]["query_planning_ms"] for b in batches) / 1000, n)
    m["streaming.wal_commit_s"] = _per_op(
        sum(b["attrs"]["wal_commit_ms"] for b in batches) / 1000, n)

    # family wall time from the untraced ops, which tracing does not slow
    untraced = op_samples(raw, "untraced")
    for f in FAMILIES:
        fam = [dur(s) for s in untraced if s["family"] == f]
        m[f"mix.family.{f}_s"] = _per_op(sum(fam), len(fam))

    parents = stats.assign_parents(spans, PARENT_LAYERS)
    selfs = stats.layer_self_times(spans, parents)
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = _per_op(secs(selfs.get(layer, 0)), n)

    over = trace_overhead(raw)
    m["trace.overhead_pct"] = (over["traced_s"] / over["untraced_s"] - 1) * 100
    m["trace.overhead_latency_s"] = over["traced_s"] - over["untraced_s"]
    return m, over


def named_metrics(workload, e2e, notes, raw):
    """The workload's end-to-end figures under their descriptive names:
    {name: (value, unit, sample count or None)}."""
    n, p, tail = notes["op_samples"], notes["op_tail_rank"], notes["op_tail_s"]
    out = {"setup_s": (e2e["setup_s"], "s", None),
           "cpu_per_op_s": (e2e["cpu_per_op_s"], "s", notes["op_count"]),
           "mem_peak_mb": (raw["mem"]["peak_exec_bytes"] / 2**20, "MB", None),
           "jvm_rss_peak_mb": (raw["mem"]["vm_hwm_kb"] / 1024, "MB", None)}
    if workload == "analytics_mix":
        out["mix_qpm"] = (notes["work_rate"] * 60, "1/min", n)
        out["mix_query_geomean_s"] = (notes["op_latency_s"], "s", n)
        out["mix_query_p50_s"] = (notes["op_p50_s"], "s", n)
        out[f"mix_query_p{p}_s"] = (tail, "s", n)
    else:
        sink = raw["etl"]
        bulks = [s for s in op_samples(raw, timed_phase(raw)) if s["name"] == "bulk"]
        out["etl_rows_landed_per_s"] = (notes["work_rate"], "1/s", None)
        out["etl_bulk_rows_per_s"] = (
            sum(s["rows"] for s in bulks) / sum(dur(s) for s in bulks), "1/s", len(bulks))
        out["etl_incr_round_p50_s"] = (notes["op_p50_s"], "s", n)
        out[f"etl_incr_round_p{p}_s"] = (tail, "s", n)
        out["etl_sink_bytes_per_row"] = (sink["bytes"] / sink["rows"], "B", None)
    return out
