"""Arithmetic of the benchmark: turns the raw record a run writes into the
metrics perfbench/run.py prints. Kept free of I/O so test_stats.py can pin
every formula.
"""
import statistics
from statistics import median

# (name, unit) of every metric the result line carries, in BENCHMARK.json order.
END_TO_END = [
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("tps_4", "1/s"),
]

PER_LAYER = [
    ("pair.tps_1", "1/s"),
    ("pair.scaling_eff_1_4", "ratio"),
    ("core.kernel_tps_1", "1/s"),
    ("core.kernel_tps_4", "1/s"),
    ("core.envelope_eff", "ratio"),
    ("core.tokenize_ns", "ns"),
    ("core.segment_ns", "ns"),
    ("core.alloc_bytes_per_turn", "B"),
    ("functions.utf8_decode_ns", "ns"),
    ("functions.stats_fold_ns", "ns"),
    ("functions.decode_share_of_wall", "ratio"),
    ("pipeline.scan_s", "s"),
    ("pipeline.payload_ns", "ns"),
    ("pipeline.manifest_commit_ms", "ms"),
    ("pipeline.parquet_bytes", "B"),
    ("pipeline.write_amp", "ratio"),
    ("pipeline.convorder_s", "s"),
    ("pipeline.resume_s", "s"),
    ("spark.jobs_per_op", "count"),
    ("spark.stages_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.task_busy_share", "ratio"),
    ("spark.gc_share", "ratio"),
    ("spark.task_skew", "ratio"),
    ("spark.shuffle_write_bytes_per_op", "B"),
    ("spark.shuffle_read_bytes_per_op", "B"),
    ("spark.spill_bytes_per_op", "B"),
    ("pair_over_envelope", "ratio"),
    ("spark_overhead_share", "ratio"),
    ("self.workload_ms_per_op", "ms"),
    ("self.functions_ms_per_op", "ms"),
    ("self.pipeline_ms_per_op", "ms"),
    ("self.spark_job_ms_per_op", "ms"),
    ("self.spark_stage_ms_per_op", "ms"),
    ("trace.overhead_share", "ratio"),
]


def iqr_share(xs):
    """Distance between the first and third quartile over the median."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


def self_times(nodes):
    """Self time of every node of a span tree: its duration minus the part
    of its interval that its children cover (overlapping children counted
    once). nodes: dicts with id, parent, start, end."""
    children = {}
    for n in nodes:
        children.setdefault(n["parent"], []).append(n)
    out = {}
    for n in nodes:
        lo, hi = n["start"], n["end"]
        ivs = sorted((max(lo, c["start"]), min(hi, c["end"]))
                     for c in children.get(n["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[n["id"]] = (hi - lo) - covered
    return out


def span_tree(raw, phase):
    """The nodes under every benchmark span named `phase`: benchmark spans,
    then the Spark jobs and stages the ledger parented to them."""
    spans = raw.get("spans", [])
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    roots = [s for s in spans if s["name"] == phase]
    nodes, todo = [], list(roots)
    while todo:
        s = todo.pop()
        nodes.append({"id": s["id"], "parent": s["parent"], "layer": s["layer"],
                      "name": s["name"], "start": s["start_ms"], "end": s["end_ms"]})
        todo += by_parent.get(s["id"], [])
    ids = {n["id"] for n in nodes}
    root_id = roots[0]["id"] if roots else 0
    ledger = raw.get("ledger." + phase, {"jobs": [], "stages": []})
    for j in ledger["jobs"]:
        nodes.append({"id": "job:%d" % j["id"],
                      "parent": j["span"] if j["span"] in ids else root_id,
                      "layer": "spark.job", "name": "job %d" % j["id"],
                      "start": j["start_ms"], "end": j["end_ms"]})
    jobs = {"job:%d" % j["id"] for j in ledger["jobs"]}
    for s in ledger["stages"]:
        parent = "job:%d" % s["job"]
        nodes.append({"id": "stage:%d.%d" % (s["id"], s["attempt"]),
                      "parent": parent if parent in jobs else root_id,
                      "layer": "spark.stage", "name": s["name"],
                      "start": s["start_ms"], "end": s["end_ms"]})
    return nodes


def self_by_layer(nodes):
    st = self_times(nodes)
    out = {}
    for n in nodes:
        out[n["layer"]] = out.get(n["layer"], 0.0) + st[n["id"]]
    return out


def spark_summary(ledger, busy_wall_s, cores, ops):
    """Spark's task metrics over `ops` operations that together took
    `busy_wall_s` of wall time on `cores` task threads."""
    stages = ledger["stages"]
    run_ms = sum(s["run_ms"] for s in stages)
    skews = [max(s["task_ms"]) / median(s["task_ms"]) for s in stages
             if len(s["task_ms"]) >= 2 and median(s["task_ms"]) > 0]
    return {
        "spark.jobs_per_op": len(ledger["jobs"]) / ops,
        "spark.stages_per_op": len(stages) / ops,
        "spark.tasks_per_op": sum(len(s["task_ms"]) for s in stages) / ops,
        "spark.task_busy_share": run_ms / (busy_wall_s * 1000.0 * cores),
        "spark.gc_share": sum(s["gc_ms"] for s in stages) / run_ms if run_ms else 0.0,
        "spark.task_skew": max(skews) if skews else 1.0,
        "spark.shuffle_write_bytes_per_op":
            sum(s["shuffle_write_bytes"] for s in stages) / ops,
        "spark.shuffle_read_bytes_per_op":
            sum(s["shuffle_read_bytes"] for s in stages) / ops,
        "spark.spill_bytes_per_op": sum(s["spill_bytes"] for s in stages) / ops,
    }


def end_to_end(raw):
    return {
        "setup_s": median(raw["setup_s"]),
        "peak_rss_mb": raw["peak_rss_mb"],
        "tps_4": median(raw["e2e.4.tps"]),
    }


def per_layer(raw):
    e2e = end_to_end(raw)
    m = {"pair.tps_1": median(raw["pair.1.tps"])}
    m["pair.scaling_eff_1_4"] = e2e["tps_4"] / (4.0 * m["pair.tps_1"])
    m.update({k: median(raw["micro." + k.split(".", 1)[1]]) for k in (
        "core.kernel_tps_1", "core.kernel_tps_4", "core.tokenize_ns",
        "core.segment_ns", "core.alloc_bytes_per_turn",
        "functions.utf8_decode_ns", "functions.stats_fold_ns",
        "pipeline.scan_s", "pipeline.payload_ns", "pipeline.manifest_commit_ms")})
    m["core.envelope_eff"] = m["core.kernel_tps_4"] / (4.0 * m["core.kernel_tps_1"])
    kernel_share = e2e["tps_4"] / m["core.kernel_tps_4"]
    m["functions.decode_share_of_wall"] = (
        m["functions.utf8_decode_ns"] / m["functions.stats_fold_ns"] * kernel_share)
    written = raw.get("e2e.4.parquet_bytes")
    m["pipeline.parquet_bytes"] = median(written) if written else 0.0
    m["pipeline.write_amp"] = m["pipeline.parquet_bytes"] / raw["input_text_bytes"]
    for k in ("convorder_s", "resume_s"):
        xs = raw.get("e2e.4." + k)
        m["pipeline." + k] = median(xs) if xs else 0.0
    ops = len(raw["traced.4.tps"])
    m.update(spark_summary(raw["ledger.traced.4"], sum(raw["traced.4.op_s"]), 4, ops))
    m["pair_over_envelope"] = m["pair.scaling_eff_1_4"] / m["core.envelope_eff"]
    m["spark_overhead_share"] = 1.0 - kernel_share
    layers = self_by_layer(span_tree(raw, "traced.4"))
    for name, layer in (("workload", "workload"), ("functions", "functions"),
                        ("pipeline", "pipeline"), ("spark_job", "spark.job"),
                        ("spark_stage", "spark.stage")):
        m["self.%s_ms_per_op" % name] = layers.get(layer, 0.0) / ops
    m["trace.overhead_share"] = 1.0 - median(raw["traced.4.tps"]) / e2e["tps_4"]
    return m


def workload_view(raw):
    """The end-to-end metrics under the names ROADMAP and the issues use,
    for the human-readable table (the result line uses END_TO_END)."""
    e = end_to_end(raw)
    scan = raw["workload"] == "extract-scan"
    rows = [("setup_s", e["setup_s"], "s"), ("peak_rss_mb", e["peak_rss_mb"], "MB"),
            ("fail_share", raw["failed"] / raw["attempted"], "ratio"),
            ("extract_tps_4" if scan else "write_tps", e["tps_4"], "turns/s")]
    if not scan:
        rows += [("write_amp", median(raw["e2e.4.parquet_bytes"])
                  / raw["input_text_bytes"], "ratio"),
                 ("convorder_s", median(raw["e2e.4.convorder_s"]), "s"),
                 ("resume_s", median(raw["e2e.4.resume_s"]), "s")]
    if "pair.1.tps" in raw:
        tps1 = median(raw["pair.1.tps"])
        rows += [("extract_tps_1" if scan else "write_tps_1", tps1, "turns/s"),
                 ("scaling_eff_1_4", e["tps_4"] / (4.0 * tps1), "ratio")]
    return rows
