"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The last test starts a local Spark session (about ten seconds).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
import threading

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from perfbench import gen, layers, stats  # noqa: E402
from perfbench.trace import Py4jCounter, Tracer, self_times  # noqa: E402
from perfbench.workloads.report_reads import MIX, mix_order  # noqa: E402


# ------------------------------------------------------------ determinism
def _fingerprint(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()


def _callio_inputs(seed):
    feed = gen.CallioFeed(seed)
    return [feed.initial(), feed.delta(), feed.delta()]


def _index_inputs(seed):
    feed = gen.IndexFeed(seed)
    return [sorted(feed.vectors.items()), sorted(feed.docs.items()),
            feed.delta(), feed.delta(), feed.query_vector()]


@pytest.mark.parametrize("make", [
    lambda s: {k: t.to_pylist() for k, t in gen.report_tables(s).items()},
    _callio_inputs,
    _index_inputs,
    mix_order,
], ids=["report_tables", "callio_feed", "index_feed", "mix_order"])
def test_same_seed_same_inputs_other_seed_other_inputs(make):
    assert _fingerprint(make(7)) == _fingerprint(make(7))
    assert _fingerprint(make(7)) != _fingerprint(make(8))


def test_mix_order_permutes_only_the_named_list():
    for seed in range(5):
        assert sorted(mix_order(seed)) == sorted(MIX)


def test_callio_late_rows_land_inside_the_overlap_window():
    feed = gen.CallioFeed(3)
    feed.initial()
    before = dict(feed.max_ts)
    delta = feed.delta()
    for entity, rows in delta.items():
        for r in rows:
            ck = before[(entity, r["tenant"])]
            assert r["ts_ms"] > ck - gen.OVERLAP_MS


# ------------------------------------------------------------ tail rule
@pytest.mark.parametrize("n,pct", [(1, 100.0), (19, 100.0), (20, 50.0), (40, 75.0),
                                   (100, 90.0), (200, 95.0), (1000, 99.0),
                                   (10_000, 99.9)])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    values = [float(i) for i in range(n)]
    random.Random(n).shuffle(values)
    t = stats.tail(values)
    assert t["percentile"] == pct and t["n"] == n
    beyond = sum(1 for v in values if v > t["value"])
    if pct == 100.0:
        assert t["value"] == max(values) and t["beyond"] == 0
    else:
        assert beyond == t["beyond"] >= stats.MIN_BEYOND
        higher = [p for p in stats.TAIL_LADDER if p > pct]
        for p in higher:  # no higher rung keeps ten samples beyond it
            assert sum(1 for v in values if v > stats.percentile(values, p)) < stats.MIN_BEYOND


# -------------------------------------------------------------- self time
def test_self_time_subtracts_merged_clipped_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},   # overlaps 2
        {"id": 4, "parent": 1, "start": 8.0, "end": 12.0},  # runs past 1
        {"id": 5, "parent": 2, "start": 2.0, "end": 3.0},
    ]
    got = self_times(spans)
    assert got[1] == pytest.approx(10.0 - 5.0 - 2.0)
    assert got[2] == pytest.approx(3.0 - 1.0)
    assert got[3] == pytest.approx(3.0)
    assert got[4] == pytest.approx(4.0)
    assert got[5] == pytest.approx(1.0)


def test_threaded_spans_nest_under_the_op():
    tr = Tracer(True)
    with tr.op("x"):
        with tr.span("outer"):
            def worker():
                with tr.span("pool"):
                    pass

            t = threading.Thread(target=worker)
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["pool"]["parent"] == by_name["outer"]["id"]
    assert by_name["pool"]["op"] == by_name["outer"]["op"] == 1


# ------------------------------------------------ probes count themselves?
class _FakeClient:
    def __init__(self):
        self.sent = 0

    def send_command(self, command, *args, **kwargs):
        self.sent += 1
        return "ok"


class _FakeProbe:
    """Stands in for SparkProbe: every call is a py4j round trip."""

    def __init__(self, client, counter):
        self.client, self.counter = client, counter

    def watermark(self):
        with self.counter.paused():
            self.client.send_command("wm")
        return (0, 0)

    def stage_totals(self, after, upto, skip=()):
        with self.counter.paused():
            self.client.send_command("stages")
        return {"stages": 0, "tasks": 0, "executor_run_ms": 0, "shuffle_write_bytes": 0}


def test_empty_span_and_probes_record_zero_calls():
    client = _FakeClient()
    counter = Py4jCounter(client)
    tr = Tracer(True, counter, _FakeProbe(client, counter))
    with tr.op("x") as rec:
        with tr.span("empty") as sp:
            pass
        with tr.probe():
            client.send_command("benchmark's own listing")
        with tr.span("one_call") as one:
            client.send_command("engine")
    assert sp["py4j"] == sp["py4j_thread"] == 0
    assert one["py4j"] == one["py4j_thread"] == 1
    assert rec["py4j"] == 1
    assert client.sent > 1  # the probes did talk to the gateway
    counter.close()


# -------------------------------------------- printed names are declared
def _declared():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"] for m in spec["end_to_end"]},
            {m["name"] for m in spec["per_layer"]})


def test_every_printed_metric_is_declared():
    e2e, per_layer = _declared()
    got = layers.end_to_end_metrics(
        setup_s=1.0, latencies=[1.0, 2.0], reads=[0.5], rows=10, wall_s=3.0,
        peak_rss_mb=100.0)
    assert set(got) == e2e

    tr = Tracer(True)
    ops = [{"id": 1, "latency_s": 1.0, "jobs": 2, "tasks": 3, "executor_run_ms": 10,
            "shuffle_write_bytes": 5, "py4j": 100}]
    tr.spans = [{"id": 1, "name": "op.etl_ticks", "parent": None, "op": 1,
                 "start": 0.0, "end": 1.0, "py4j": 100, "py4j_thread": 100},
                {"id": 2, "name": "snapshots.commit", "parent": 1, "op": 1,
                 "start": 0.2, "end": 0.5, "py4j": 40, "py4j_thread": 30},
                {"id": 3, "name": "snapshots.publish", "parent": 2, "op": 1,
                 "start": 0.4, "end": 0.5, "py4j": 5, "py4j_thread": 5},
                {"id": 4, "name": "llm_ops.ann_probe", "parent": 1, "op": 1,
                 "start": 0.6, "end": 0.9, "py4j": 20, "py4j_thread": 20},
                {"id": 5, "name": "snapshots.read", "parent": 4, "op": 1,
                 "start": 0.6, "end": 0.65, "py4j": 4, "py4j_thread": 4}]
    got = layers.per_layer_metrics(tr, ops, 2.0, [1000])
    assert set(got) == per_layer
    assert got["snapshots.commits"] == 1 and got["py4j.calls_per_commit"] == 30
    assert got["snapshots.meta_bytes_per_commit"] == 1000
    # the snapshot layer's read, not the probe query around it
    assert got["snapshots.read_s"] == pytest.approx(0.05)
    assert got["llm_ops.ann_probe_s"] == pytest.approx(0.3)


# ----------------------------------------------------- against real Spark
def test_spark_probe_counts_real_jobs_and_not_itself(tmp_path, monkeypatch):
    from pyspark.sql import SparkSession

    from perfbench.trace import SparkProbe

    monkeypatch.setenv("JAVA_TOOL_OPTIONS", f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_path}")
    spark = (SparkSession.builder.master("local[2]").appName("perfbench-test")
             .config("spark.ui.enabled", "false")
             .config("spark.local.dir", str(tmp_path))
             .config("spark.sql.warehouse.dir", str(tmp_path)).getOrCreate())
    try:
        counter = Py4jCounter(spark.sparkContext._gateway._gateway_client)
        tr = Tracer(True, counter, SparkProbe(spark, counter))
        with tr.op("x") as rec:
            with tr.span("empty") as empty:
                pass
            with tr.probe():
                spark.range(5).count()  # the benchmark's own job: left out
            with tr.span("job") as job:
                spark.range(0, 1000, 1, 2).selectExpr("id % 7 AS g").groupBy("g").count().collect()
        assert empty["py4j"] == 0
        assert job["py4j"] > 0
        assert rec["jobs"] >= 1 and rec["tasks"] >= 2
        assert rec["shuffle_write_bytes"] > 0
        counter.close()
    finally:
        spark.stop()
