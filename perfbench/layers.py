"""Per-layer metrics of a traced run, derived from its spans.

Every value is per traced op (the sum over the traced ops divided by
their number), except the ``trace.*`` medians.  A layer a workload does
not exercise reports 0.  The tracing overhead is ``trace.tracer_s``, the
tracer's own time inside the op (job-group calls and span hooks); the
traced run's op time less the untraced runs' ``op_s`` bounds it from
the outside (BASELINE.md).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

LAYERS = [
    "bench", "tableio", "pipeline", "extract", "rollup", "gorilla", "gapfill",
    "series", "api", "daemon", "graphite", "prometheus", "curation", "text",
    "dedup",
]
SPARK = [
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"),
]
PIPELINE_CALLS = ["run", "ingest_raw", "retention"]
TABLEIO_CALLS = ["write_partitioned", "append_lineage", "read", "list_partitions", "drop_partition"]
TIERS = ["1m", "5m", "1h", "1d"]
SURVIVORS = ["input", "quality_filter", "exact_dedup", "near_dedup"]
PY = [("py_run_s", "s"), ("py_bytes_sent", "B"), ("py_bytes_returned", "B")]


def metric_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    m = {
        "trace.ops": "count",
        "trace.op_s_traced": "s",
        "trace.tracer_s": "s",
        "trace.top_span_s": "s",
        "trace.unattributed_s": "s",
    }
    for layer in LAYERS:
        m[f"{layer}.self_s"] = "s"
        m[f"{layer}.spark_jobs"] = "count"
    m["spark.executor_cpu_s"] = "s"
    for k, u in SPARK:
        m[f"spark.{k}"] = u
    for call in PIPELINE_CALLS:
        m[f"pipeline.{call}.wall_s"] = "s"
        for k, u in SPARK:
            m[f"pipeline.{call}.{k}"] = u
    m["pipeline.pending_units.calls"] = "count"
    m["pipeline.pending_units.wall_s"] = "s"
    for call in TABLEIO_CALLS:
        m[f"tableio.{call}.calls"] = "count"
        m[f"tableio.{call}.self_s"] = "s"
    m["tableio.files_written"] = "count"
    m["tableio.bytes_written"] = "B"
    m["extract.points_emitted"] = "count"
    for t in TIERS:
        m[f"rollup.rows_{t}"] = "count"
    for side, rows in (("encode", "chunks_out"), ("decode", "points_decoded")):
        for k, u in PY:
            m[f"gorilla.{side}.{k}"] = u
        m[f"gorilla.{side}.{rows}"] = "count"
    m["gorilla.chunk_bytes_per_point"] = "B"
    m["query.close_s"] = "s"
    m["query.query_s"] = "s"
    m["api.py_run_s"] = "s"
    m["api.lines_sent"] = "count"
    m["api.points_returned"] = "count"
    m["api.matched_line_ratio"] = "ratio"
    m["daemon.process_lines.wall_s"] = "s"
    m["daemon.compact.calls"] = "count"
    m["daemon.compact.wall_s"] = "s"
    m["daemon.jobs_per_flush"] = "count"
    m["daemon.generator_late_s"] = "s"
    m["graphite.lines_received"] = "count"
    m["graphite.bytes_received"] = "B"
    m["graphite.send_s"] = "s"
    m["prometheus.refresh_s"] = "s"
    m["curation.jobs"] = "count"
    m["curation.stages"] = "count"
    for s in SURVIVORS:
        m[f"curation.survivors.{s}"] = "count"
    m["dedup.verify_s"] = "s"
    m["dedup.lsh_candidates"] = "count"
    m["dedup.verified_pairs"] = "count"
    m["dedup.verified_per_candidate"] = "ratio"
    m["dedup.near_dup_recall"] = "ratio"
    return m


def per_layer(tracer, harvest: dict, results: dict, traced_ops: list[int]) -> dict:
    units = metric_units()
    val: dict[str, float] = defaultdict(float)
    spans = [s for s in tracer.spans if s["op"] in set(traced_ops)]
    by_id = {s["id"]: s for s in tracer.spans}
    n = max(1, len(traced_ops))
    spark = harvest["per_span"]

    # a child's interval and the job-group reset after it are both
    # outside its parent's self time; so is the tracer's own time
    children = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]] += s["end"] - s["start"] + s.get("group_out_s", 0.0)

    def self_s(s) -> float:
        return s["end"] - s["start"] - children[s["id"]] - s.get("hook_s", 0.0) - s.get("group_in_s", 0.0)

    def subtree_spark(root_id: int) -> dict:
        out = defaultdict(float)
        stack = [root_id]
        while stack:
            sid = stack.pop()
            for k, v in spark.get(sid, {}).items():
                out[k] += v
            stack.extend(c["id"] for c in spans if c["parent"] == sid)
        return out

    def ancestors(sid):
        while sid is not None:
            yield by_id[sid]
            sid = by_id[sid]["parent"]

    for s in spans:
        dur = s["end"] - s["start"]
        layer = s["layer"]
        name = s["name"].split(".", 1)[1]
        if f"{layer}.self_s" in units:
            val[f"{layer}.self_s"] += self_s(s)
            val[f"{layer}.spark_jobs"] += spark.get(s["id"], {}).get("jobs", 0)
        for k, v in spark.get(s["id"], {}).items():
            val[f"spark.{k}"] += v
        if layer == "pipeline" and name in PIPELINE_CALLS:
            val[f"pipeline.{name}.wall_s"] += dur
            for k, v in subtree_spark(s["id"]).items():
                if f"pipeline.{name}.{k}" in units:
                    val[f"pipeline.{name}.{k}"] += v
        if s["name"] == "pipeline.pending_units":
            val["pipeline.pending_units.calls"] += 1
            val["pipeline.pending_units.wall_s"] += dur
        if layer == "tableio":
            val[f"tableio.{name}.calls"] += 1
            val[f"tableio.{name}.self_s"] += self_s(s)
            val["tableio.files_written"] += s.get("files_written", 0)
            val["tableio.bytes_written"] += s.get("bytes_written", 0)
        if s["name"] == "daemon.process_lines":
            val["daemon.process_lines.wall_s"] += dur
            val["daemon.jobs_per_flush"] += subtree_spark(s["id"]).get("jobs", 0)
        if s["name"] == "daemon.compact":
            val["daemon.compact.calls"] += 1
            val["daemon.compact.wall_s"] += dur
        if s["name"] == "graphite.send_graphite_tcp":
            val["graphite.send_s"] += dur
        if s["name"] == "prometheus.refresh_prometheus":
            val["prometheus.refresh_s"] += dur
        if s["name"] == "curation.curate":
            sub = subtree_spark(s["id"])
            val["curation.jobs"] += sub.get("jobs", 0)
            val["curation.stages"] += sub.get("stages", 0)
        if s["name"] == "dedup.ngram_jaccard_pairs":
            val["dedup.verify_s"] += dur - s.get("hook_s", 0.0)
            val["dedup.lsh_candidates"] += s.get("lsh_candidates", 0)
            val["dedup.verified_pairs"] += s.get("verified_pairs", 0)

    traced_ids = {s["id"] for s in spans}
    for node in harvest["nodes"]:
        if node["span"] not in traced_ids:
            continue
        rows = node.get("number of output rows", 0.0)
        names = {a["name"] for a in ancestors(node["span"])}
        layers = {a["layer"] for a in ancestors(node["span"])}
        if node["node"] == "Generate":
            # the extract explode runs inside the rollup job's tier write
            if "pipeline.run" in names:
                val["extract.points_emitted"] += rows
            continue
        if node["node"].startswith("FlatMapGroupsInPandas"):
            side = "encode"
        elif layers & {"daemon", "api"}:
            val["api.py_run_s"] += node.get("time to run Python workers", 0.0)
            val["api.points_returned"] += rows
            continue
        elif "gorilla" in layers or "pipeline.read_tier_from_chunks" in names:
            side = "decode"
        else:
            continue
        out = "chunks_out" if side == "encode" else "points_decoded"
        val[f"gorilla.{side}.py_run_s"] += node.get("time to run Python workers", 0.0)
        val[f"gorilla.{side}.py_bytes_sent"] += node.get("data sent to Python workers", 0.0)
        val[f"gorilla.{side}.py_bytes_returned"] += node.get("data returned from Python workers", 0.0)
        val[f"gorilla.{side}.{out}"] += rows

    for i in traced_ops:
        res = results[i]
        for t, c in res.get("tier_rows", {}).items():
            val[f"rollup.rows_{t}"] += c
        val["gorilla.chunk_bytes_per_point"] += res.get("chunk_bytes_per_point", 0.0)
        val["api.lines_sent"] += res.get("lines", 0)
        val["api.matched_line_ratio"] += res.get("matched_ratio", 0.0)
        val["graphite.lines_received"] += res.get("graphite_lines", 0)
        val["graphite.bytes_received"] += res.get("graphite_bytes", 0)
        val["daemon.generator_late_s"] += res.get("late_s", 0.0)
        val["query.close_s"] += res.get("close_s", 0.0)
        val["query.query_s"] += res.get("query_s", 0.0)
        for st in SURVIVORS:
            val[f"curation.survivors.{st}"] += res.get("stats", {}).get(st, 0)
        val["dedup.near_dup_recall"] += res.get("near_dup_recall", 0.0)

    out = {k: val.get(k, 0.0) / n for k in units}
    c = out["dedup.lsh_candidates"]
    out["dedup.verified_per_candidate"] = out["dedup.verified_pairs"] / c if c else 0.0

    traced = [results[i]["wall_s"] for i in traced_ops]
    top, tracer_s = [], []
    for i in traced_ops:
        own = [s for s in spans if s["op"] == i]
        top.append(sum(s["end"] - s["start"] for s in own if s["parent"] is None))
        tracer_s.append(sum(s.get("hook_s", 0.0) + s.get("group_in_s", 0.0) + s.get("group_out_s", 0.0) for s in own))
    med = statistics.median
    out["trace.ops"] = float(len(traced_ops))
    out["trace.op_s_traced"] = med(traced) if traced else 0.0
    out["trace.tracer_s"] = med(tracer_s) if tracer_s else 0.0
    out["trace.top_span_s"] = med(top) if top else 0.0
    out["trace.unattributed_s"] = out["trace.op_s_traced"] - out["trace.top_span_s"]
    return {k: (v, units[k]) for k, v in out.items()}
