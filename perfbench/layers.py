"""The metrics a run prints.

End-to-end metrics come from an untraced run. Per-layer metrics come from a
traced run's spans and op records; unless noted, a per-layer metric is the
median over the run's ops of the op's total for that layer (0 when the layer
does not appear in an op), so each one can be read beside the end-to-end
``op_p50_s`` it should move.
"""

from __future__ import annotations

import json
from collections import defaultdict

from perfbench import stats
from perfbench.workloads.report_reads import CORPUS_OPS, MIX

#: Per-op duration totals: metric name -> span name.
SPAN_SECONDS = {
    "sources.fetch_s": "sources.fetch",
    "pipeline.run_tick_s": "pipeline.run_tick",
    "merge.write_s": "merge.write",
    "checkpoints.warm_s": "checkpoints.warm",
    "checkpoints.flush_s": "checkpoints.flush",
    "io.lock_wait_s": "io.lock_acquire",
    "llm_ops.maintain_vector_index_s": "llm_ops.maintain_vector_index",
    "llm_ops.maintain_band_index_s": "llm_ops.maintain_band_index",
    "llm_ops.ann_probe_s": "llm_ops.ann_probe",
}
#: Per-op span counts: metric name -> span name.
SPAN_COUNTS = {
    "checkpoints.flushes": "checkpoints.flush",
    "io.lock_acquires": "io.lock_acquire",
    "snapshots.commits": "snapshots.publish",
}
#: Per-op sums of a span attribute: metric name -> (span name, attribute).
SPAN_ATTRS = {
    "sources.http_requests": ("sources.fetch", "http_requests"),
    "sources.logins": ("sources.fetch", "logins"),
    "sources.rows_fetched": ("sources.fetch", "rows_fetched"),
}


def _med(values) -> float:
    values = list(values)
    return float(stats.median(values)) if values else 0.0


def _outermost(spans: list[dict], name: str) -> list[dict]:
    """Spans called ``name`` with no ancestor of the same name."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        p = by_id.get(s["parent"])
        while p is not None and p["name"] != name:
            p = by_id.get(p["parent"])
        if p is None:
            out.append(s)
    return out


def end_to_end_metrics(setup_s: float, latencies: list[float], reads: list[float],
                       rows: int, wall_s: float, peak_rss_mb: float) -> dict[str, float]:
    """The end-to-end metrics of an untraced run."""
    return {
        "setup_s": setup_s,
        "op_p50_s": stats.median(latencies),
        "op_tail_s": stats.tail(latencies)["value"],
        "ops_per_s": len(latencies) / wall_s,
        "ingest_rows_per_s": rows / wall_s,
        "read_p50_s": stats.median(reads),
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer_metrics(tracer, ops: list[dict], session_s: float,
                      meta_bytes: list[int]) -> dict[str, float]:
    op_ids = [o["id"] for o in ops]
    in_ops = [s for s in tracer.spans if s["op"] in set(op_ids)]
    per_op: dict[int, list[dict]] = defaultdict(list)
    for s in in_ops:
        per_op[s["op"]].append(s)

    def dur(s):
        return s["end"] - s["start"]

    m: dict[str, float] = {"session.start_s": session_s}
    for metric, name in SPAN_SECONDS.items():
        m[metric] = _med(sum(dur(s) for s in per_op[i] if s["name"] == name) for i in op_ids)
    for metric, name in SPAN_COUNTS.items():
        m[metric] = _med(sum(1 for s in per_op[i] if s["name"] == name) for i in op_ids)
    for metric, (name, attr) in SPAN_ATTRS.items():
        m[metric] = _med(sum(s.get(attr, 0) for s in per_op[i] if s["name"] == name)
                         for i in op_ids)
    fetched = sum(s.get("rows_fetched", 0) for s in in_ops if s["name"] == "sources.fetch")
    useful = sum(s.get("rows_useful", 0) for s in in_ops if s["name"] == "sources.fetch")
    m["sources.useful_ratio"] = useful / fetched if fetched else 0.0

    commits = _outermost(in_ops, "snapshots.commit")
    m["snapshots.commit_s"] = _med(dur(s) for s in commits)
    m["py4j.calls_per_commit"] = (
        sum(s["py4j_thread"] for s in commits) / len(commits) if commits else 0.0)
    m["snapshots.read_s"] = _med(dur(s) for s in in_ops if s["name"] == "snapshots.read")
    publishes = [sum(1 for s in per_op[i] if s["name"] == "snapshots.publish") for i in op_ids]
    m["snapshots.meta_bytes_per_commit"] = _med(
        b / n for b, n in zip(meta_bytes, publishes) if n)

    for q in MIX:
        m[f"queries.{q}_s"] = _med(dur(s) for s in in_ops if s["name"] == f"queries.{q}")
    m["llm_ops.corpus_s"] = _med(
        dur(s) for s in in_ops if s["name"] in {f"queries.{q}" for q in CORPUS_OPS})

    m["spark.jobs"] = _med(o["jobs"] for o in ops)
    m["spark.tasks"] = _med(o["tasks"] for o in ops)
    m["spark.executor_run_s"] = _med(o["executor_run_ms"] / 1000.0 for o in ops)
    m["spark.shuffle_write_bytes"] = _med(o["shuffle_write_bytes"] for o in ops)
    m["py4j.calls_per_op"] = _med(o["py4j"] for o in ops)
    m["trace.op_p50_s"] = _med(o["latency_s"] for o in ops)
    return m


def layer_self_times(tracer) -> dict[str, float]:
    """Total self time per span name over the timed ops."""
    selfs = tracer.self_times()
    out: dict[str, float] = defaultdict(float)
    for s in tracer.spans:
        if s["op"] is not None:
            out[s["name"]] += selfs[s["id"]]
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))


def write_trace(path: str, tracer, metrics: dict, summary: dict) -> None:
    selfs = tracer.self_times()
    spans = [{**s, "self_s": selfs[s["id"]]} for s in tracer.spans]
    with open(path, "w") as fh:
        json.dump({"summary": summary, "metrics": metrics,
                   "self_s_by_layer": layer_self_times(tracer),
                   "ops": tracer.ops, "spans": spans}, fh, indent=1, default=str)
