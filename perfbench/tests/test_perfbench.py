"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os

import numpy as np
import pytest

from perfbench import cdc_tail, gen, layers, run, sfgen, stats
from perfbench.trace import (
    EventLog, Job, Span, Tracer, driver_time, self_time, span_stats,
    union_length,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------------------------------------------------------- generator
def _events(seed):
    return gen.initial_events(np.random.default_rng(seed), 50, 6.0, 2.0, 0.1)


def test_generator_is_deterministic_per_seed(tmp_path):
    a, ta = _events(7)
    b, tb = _events(7)
    c, _ = _events(8)
    for f in ("conv", "turn", "ver", "delete", "ts_ms", "payload"):
        assert np.array_equal(getattr(a, f), getattr(b, f))
    assert np.array_equal(ta, tb)
    assert len(a) != len(c) or not np.array_equal(a.ts_ms, c.ts_ms)
    fo = np.arange(len(ta)) % 3
    gen.write_files(str(tmp_path / "x"), a, fo, "p-")
    gen.write_files(str(tmp_path / "y"), b, fo, "p-")
    for name in sorted(os.listdir(tmp_path / "x")):
        assert (tmp_path / "x" / name).read_bytes() == (tmp_path / "y" / name).read_bytes()


def test_ts_strictly_increases_per_key():
    ev, _ = _events(3)
    order = np.lexsort((ev.ver, ev.key_id()))
    k, ts = ev.key_id()[order], ev.ts_ms[order]
    same = k[1:] == k[:-1]
    assert (ts[1:][same] > ts[:-1][same]).all()


def test_lines_are_json_with_the_change_event_fields():
    ev, _ = _events(1)
    lines = gen.jsonl_lines(ev.take(np.arange(5))).to_pylist()
    for i, line in enumerate(lines):
        assert line.endswith("\n")
        rec = json.loads(line)
        assert set(rec) == {"op", "conv_id", "turn_idx", "role", "text", "tool", "ts"}
        assert rec["text"] == gen.text_of(ev, i)
        assert rec["op"] == ("delete" if ev.delete[i] else "upsert")
        assert (rec["tool"] is None) == (rec["role"] != "tool")


def test_iso_ms_matches_numpy():
    ts = np.array([gen.BASE_MS, gen.BASE_MS + 86_399_999, gen.BASE_MS + 40 * gen.DAY_MS + 61_001])
    want = list(np.datetime_as_string(ts.astype("datetime64[ms]"), unit="ms"))
    assert gen.iso_ms(ts).to_pylist() == want


def test_sf_tables_are_deterministic_and_typed():
    a = sfgen.tables(5, 0.001)
    b = sfgen.tables(5, 0.001)
    assert set(a) == {
        "region", "nation", "customer", "part", "supplier", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    for name in a:
        assert a[name].equals(b[name]), name
    assert str(a["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(a["nation"].schema.field("n_nationkey").type) == "int32"


# ------------------------------------------------------------------- oracle
def test_oracle_on_a_hand_checked_case():
    # key (1,0): v0 then v1 -> v1 wins; key (1,1): upsert then delete -> gone;
    # key (2,0): later ts listed first -> the later ts still wins
    ev = gen.Events(
        conv=np.array([1, 1, 1, 1, 2, 2]),
        turn=np.array([0, 0, 1, 1, 0, 0]),
        ver=np.array([0, 1, 0, 1, 5, 4]),
        delete=np.array([False, False, False, True, False, False]),
        ts_ms=gen.BASE_MS + np.array([10, 20, 10, 20, 50, 40]),
        payload=np.array([0, 1, 2, 3, 4, 5]),
    )
    t = gen.oracle_table(ev).to_pydict()
    rows = sorted(zip(t["conv_id"], t["turn_idx"], t["ts_ms"], t["text"]))
    assert rows == [
        ("conv_0000001", 0, gen.BASE_MS + 20, gen.text_of(ev, 1)),
        ("conv_0000002", 0, gen.BASE_MS + 50, gen.text_of(ev, 4)),
    ]


def test_tail_chunk_probes_and_window():
    rng = np.random.default_rng(4)
    ev = gen.Events(
        conv=np.array([1, 1, 2]), turn=np.array([0, 0, 3]), ver=np.array([1, 1, 1]),
        delete=np.array([False, True, False]),
        ts_ms=gen.BASE_MS + np.array([1, 2, 3]), payload=np.array([0, 1, 2]),
    )
    # (1,0) was upserted then deleted; (2,3) upserted
    assert cdc_tail.window_count(ev) == 1
    got = cdc_tail.probes(ev, rng)
    assert (2, 3, gen.text_of(ev, 2)) in got
    assert (1, 0, None) in got


# -------------------------------------------------------------- percentiles
def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_pct(5) == 50.0
    assert stats.tail_pct(19) == 50.0
    assert stats.tail_pct(20) == 50.0
    assert stats.tail_pct(39) == 50.0
    assert stats.tail_pct(40) == 75.0
    assert stats.tail_pct(100) == 90.0
    assert stats.tail_pct(199) == 90.0
    assert stats.tail_pct(200) == 95.0
    assert stats.tail_pct(1000) == 99.0
    assert stats.tail_pct(10_000) == 99.9
    assert stats.tail(list(range(100))) == (90.0, pytest.approx(89.1))


# --------------------------------------------------------- span arithmetic
def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert union_length([], 0, 1) == 0


def test_self_time_subtracts_children_once():
    parent = Span(0, "p", None, 0.0, 10.0)
    kids = [Span(1, "a", 0, 1.0, 4.0), Span(2, "b", 0, 3.0, 5.0), Span(3, "c", 0, 8.0, 9.0)]
    assert self_time(parent, kids) == pytest.approx(10 - 4 - 1)


def test_driver_time_is_span_minus_union_of_jobs():
    sp = Span(0, "s", None, 100.0, 110.0)
    jobs = [
        Job(0, 99.0, 101.0, set(), []),  # starts before the span: clipped
        Job(1, 102.0, 104.0, set(), []),
        Job(2, 103.0, 105.0, set(), []),  # overlaps job 1
    ]
    assert driver_time(sp, jobs) == pytest.approx(10 - 1 - 3)


def test_event_log_joins_jobs_to_span_tags(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.job.tags": "pb-span-0,pb-span-1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 300, "Executor CPU Time": 2e8, "JVM GC Time": 10,
            "Input Metrics": {"Bytes Read": 100},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 50}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 200, "Output Metrics": {"Bytes Written": 70}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2100},
    ]
    (tmp_path / "app").write_text("".join(json.dumps(e) + "\n" for e in events))
    log = EventLog.load(str(tmp_path))
    assert [j.id for j in log.jobs_with_tag("pb-span-1")] == [0]
    assert log.jobs_with_tag("pb-span-9") == []
    spans = [Span(0, "outer", None, 0.5, 2.5), Span(1, "inner", 0, 0.9, 1.7)]
    st = {s.span.name: s for s in span_stats(spans, log)}
    inner = st["inner"]
    assert (inner.jobs, inner.stages, inner.tasks) == (1, 2, 2)
    assert inner.task_s == pytest.approx(0.5)
    assert inner.map_task_s == pytest.approx(0.3)
    assert inner.result_task_s == pytest.approx(0.2)
    assert (inner.input_bytes, inner.shuffle_write_bytes, inner.output_bytes) == (100, 50, 70)
    assert inner.driver_s == pytest.approx(0.8 - 0.6)
    assert st["outer"].self_s == pytest.approx(2.0 - 0.8)


def test_spans_after_reset_do_not_join_warm_up_jobs():
    tr = Tracer(enabled=True)
    with tr.span("warm-up"):
        pass
    warm_tag = tr.spans[0].tag
    tr.reset()
    with tr.span("measured"):
        pass
    assert tr.spans[0].tag != warm_tag
    log = EventLog({0: Job(0, 0.0, 1.0, {warm_tag}, [0])}, {})
    (st,) = span_stats(tr.spans, log)
    assert st.jobs == 0


# ------------------------------------------------------------ BENCHMARK.json
def test_benchmark_json_mirrors_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (n, u, b) for n, u, b, _ in layers.METRICS
    ]
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in bench["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
