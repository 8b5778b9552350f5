"""Metrics from one harness record (the JSON the JVM side writes).

A pass's time is the sum of its ops' times. Per-layer metrics are taken
per pass, then the median over passes; a layer a workload does not
exercise reads 0.
"""
from stats import adopt_orphans, median, self_times, tail

MIB = 1048576.0
PHASES = ("build", "plan", "exec")


def end_to_end(record):
    """The end-to-end metrics, and the op latency figures printed beside
    them: op_p50_s, and op_tail_s with its percentile. The op figures are
    not gated: a pass has only 13-14 ops of very different cost, so their
    median jumps between neighbouring ops (its spread over ten runs on a
    contended machine was 0.3), and the tail rule picks that median too."""
    passes = record["passes"]
    ops = [o["wall_s"] for p in passes for o in p["ops"]]
    tail_s, tail_p = tail(ops)
    metrics = {
        "pass_s": (median([p["wall_s"] for p in passes]), "s", len(passes)),
        "peak_rss_mb": (record["peak_rss_mb"], "MiB", 1),
        "setup_s": (record["setup_s"], "s", 1),
    }
    op_latency = {"op_p50_s": {"value": median(ops), "samples": len(ops)},
                  "op_tail_s": {"value": tail_s, "percentile": tail_p, "samples": len(ops)}}
    return metrics, op_latency


def _pass_layers(p, spans, layer_of, cpus):
    ops = p["ops"]
    by_id = {s["id"]: s for s in spans}
    selfs = self_times(spans)

    def phase_of(s):
        """(op name, phase kind) of the phase a span ran under."""
        while s is not None and s["kind"] not in PHASES:
            s = by_id.get(s["parent"])
        return (s["name"], s["kind"]) if s else (None, None)

    # only work inside an op's timed phases counts; the untimed output
    # writes for the oracle check run between ops
    job_at = [(j, phase_of(j)) for j in spans if j["kind"] == "job"]
    job_at = [(j, at) for j, at in job_at if at[0] is not None]
    jobs = [j for j, _ in job_at]
    batches = [s for s in spans if s["kind"] == "batch" and phase_of(s)[0] is not None]
    calls = {}
    for s in spans:
        if s["kind"] == "call":
            calls[s["name"]] = calls.get(s["name"], 0.0) + (s["end"] - s["start"]) / 1e9

    def jsum(key):
        return sum(j["attrs"][key] for j in jobs)

    def op_sum(key, layer=None):
        return sum((o[key] for o in ops if layer is None or layer_of[o["name"]] == layer), 0.0)

    walls = {o["name"]: o["wall_s"] for o in ops}
    run_s = jsum("task_run_s")
    deltas = [o for o in ops if o["name"].startswith("delta_round_")]
    build_spans = [s for s in spans if s["kind"] == "build"]
    return {
        "spark.exec_s": op_sum("exec_s"),
        "spark.task_cpu_s": jsum("task_cpu_s"),
        "spark.shuffle_write_mb": jsum("shuffle_write_b") / MIB,
        "spark.shuffle_read_mb": jsum("shuffle_read_b") / MIB,
        "plans.exchanges": sum(o["plan"].get("exchanges", 0.0) for o in ops),
        "plans.sorts": sum(o["plan"].get("sorts", 0.0) for o in ops),
        "ext.build_s": op_sum("build_s", "ext"),
        "ext.build_jobs": float(sum(1 for _, (op, phase) in job_at
                                    if phase == "build" and layer_of.get(op) == "ext")),
        "ext.build_self_s": sum(selfs[s["id"]] for s in build_spans
                                if layer_of.get(s["name"]) == "ext") / 1e9,
        "queries.build_s": op_sum("build_s", "queries"),
        "spark.jobs": float(len(jobs)),
        "spark.stages": jsum("stages"),
        "spark.tasks": jsum("tasks"),
        "spark.core_util": run_s / (p["wall_s"] * cpus),
        "spark.cpu_share": jsum("task_cpu_s") / run_s if run_s else 0.0,
        "matview.create_s": calls.get("matview.create", 0.0),
        "matview.refresh_s": calls.get("matview.refresh", 0.0),
        "matview.files_written": sum((o["extra"].get("files_written", 0) for o in deltas), 0.0),
        "matview.build_s": sum((j["end"] - j["start"]) / 1e9 for j, at in job_at
                               if at[1] == "build" and j["attrs"]["output_b"] > 0),
        "spark.output_mb": jsum("output_b") / MIB,
        "spark.input_mb": jsum("input_b") / MIB,
        "spark.spill_mb": jsum("spill_b") / MIB,
        "spark.task_gc_s": jsum("task_gc_s"),
        "plans.plan_s": op_sum("plan_s"),
        "plans.nodes": sum(o["plan"].get("nodes", 0) for o in ops),
        "plans.mv_scans": sum(o["plan"].get("mv_scans", 0) for o in ops),
        "bookorders.build_s": calls.get("bookorders.build", 0.0),
        "bookorders.raw_over_view": (walls["q4a_raw"] / walls["q4a_view1"]
                                     if "q4a_raw" in walls else 0.0),
        "streaming.build_s": op_sum("build_s", "streaming"),
        "streaming.batches": float(len(batches)),
        "streaming.batch_p50_s": (median([(b["end"] - b["start"]) / 1e9 for b in batches])
                                  if batches else 0.0),
    }


UNITS = {"_s": "s", "_mb": "MiB", "_share": "ratio", "_util": "ratio",
         "_over_view": "ratio", "write_amp": "ratio"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer(record, cpus):
    layer_of = {o["name"]: o["layer"] for o in record["ops"]}
    spans = adopt_orphans([dict(s) for s in record["spans"]])
    passes = record["passes"]
    rows = [_pass_layers(p, [s for s in spans if s["pass"] == p["pass"]], layer_of, cpus)
            for p in passes]
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    deltas = [o for p in passes for o in p["ops"] if o["name"].startswith("delta_round_")]
    out["refresh_p50_s"] = median([o["wall_s"] for o in deltas]) if deltas else 0.0
    delta_b = sum(o["extra"].get("delta_bytes", 0) for o in deltas)
    out["write_amp"] = (sum(o["extra"].get("written_bytes", 0) for o in deltas) / delta_b
                        if delta_b else 0.0)
    return {k: (v, unit_of(k), len(passes)) for k, v in out.items()}
