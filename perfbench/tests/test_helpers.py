"""Tests for the benchmark's own helpers (no Spark session needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import statistics

import pyarrow as pa
import pytest

from perfbench import checks, eventlog, stats, udfprof
from perfbench.spans import Tracer


# --- medians, quartiles, supported percentiles ---------------------------

def test_quartiles_match_statistics_quantiles():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    q1, med, q3 = stats.quartiles(xs)
    assert (q1, med, q3) == tuple(statistics.quantiles(xs, n=4))
    assert med == statistics.median(xs)


def test_single_sample_is_its_own_quartiles():
    assert stats.quartiles([2.5]) == (2.5, 2.5, 2.5)
    assert stats.spread([2.5]) == 0.0
    with pytest.raises(ValueError):
        stats.quartiles([])


def test_spread_is_iqr_over_median():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert stats.spread(xs) == pytest.approx((q3 - q1) / med)


def test_p90_needs_ten_samples_beyond_it():
    assert stats.supported_percentile(list(range(1, 100)), 90) is None
    xs = list(range(1, 101))  # 90th value is 90; 91..100 lie above it
    assert stats.supported_percentile(xs, 90) == 90
    assert stats.supported_percentile(xs, 95) is None
    assert stats.supported_percentile([], 90) is None


def test_highest_supported_percentile_falls_back():
    xs = [float(x) for x in range(1, 41)]
    # p75 of 40 has exactly 10 samples above it; p90 has only 4
    assert stats.highest_supported_percentile(xs) == (75, 30.0)
    assert stats.highest_supported_percentile(xs[:5]) is None
    d = stats.describe(xs)
    assert d["n"] == 40 and d["p75"] == 30.0 and "p90" not in d


def test_ties_do_not_count_as_beyond():
    xs = [1.0] * 50 + [2.0] * 5
    assert stats.supported_percentile(xs, 50) is None


# --- span arithmetic -------------------------------------------------------

def _span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 2.0, 5.0),  # overlaps its sibling: covered once
        _span(4, 3, 2.5, 4.0),  # grandchild: only its parent subtracts it
        _span(5, 1, 9.0, 12.0),  # runs past the parent: clipped
    ]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[3] == pytest.approx(3.0 - 1.5)
    assert st[2] == pytest.approx(2.0)
    assert st[5] == pytest.approx(3.0)


def test_self_plus_sequential_children_equals_wall():
    spans = [_span(1, None, 0.0, 6.0)] + [
        _span(i + 2, 1, float(i), i + 0.5) for i in range(5)
    ]
    children = sum(s["end"] - s["start"] for s in spans[1:])
    assert stats.self_times(spans)[1] + children == pytest.approx(6.0)


def test_descendants_and_union_length():
    spans = [_span(1, None, 0, 9), _span(2, 1, 0, 1), _span(3, 2, 0, 1), _span(4, None, 0, 1)]
    assert sorted(s["id"] for s in stats.descendants(spans, 1)) == [2, 3]
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(0, 2), (1, 3)], lo=2.5, hi=10) == 0.5


def test_tracer_nests_and_inherits_round():
    tr = Tracer()
    with tr.span("round", round_no=3) as outer:
        with tr.span("tables.write_fetched") as inner:
            pass
    assert inner["parent"] == outer["id"] and inner["round"] == 3
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert [s["name"] for s in tr.spans] == ["tables.write_fetched", "round"]


class _FakeSc:
    def __init__(self):
        self.calls = []

    def setJobGroup(self, group, desc):
        self.calls.append(group)

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.calls.append(value)


def test_tracer_tags_and_restores_job_groups():
    tr, sc = Tracer(), _FakeSc()
    tr.tag_jobs(sc)
    with tr.span("round"):
        with tr.span("tables.read"):
            pass
    assert sc.calls == [None, "pb-1", "pb-2", "pb-1", None]
    tr.tag_jobs(None)  # untraced rounds: no more tagging
    with tr.span("round.untraced"):
        pass
    assert sc.calls == [None, "pb-1", "pb-2", "pb-1", None, None]


# --- event-log parser ------------------------------------------------------

def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


CANNED_LOG = "\n".join([
    _ev("SparkListenerLogStart", **{"Spark Version": "4.1.2"}),
    _ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000,
        "Stage Infos": [], "Properties": {"spark.jobGroup.id": "pb-7"}}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 0},
        "Properties": {"spark.jobGroup.id": "pb-7"}}),
    _ev("SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 120, "Executor CPU Time": 50_000_000, "JVM GC Time": 4,
        "Memory Bytes Spilled": 99, "Disk Bytes Spilled": 10,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 300},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 700}}}),
    _ev("SparkListenerTaskEnd", **{"Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 80, "Executor CPU Time": 30_000_000, "JVM GC Time": 0,
        "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 0},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 0}}}),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
    _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1500}),
    "",
    _ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 2000,
        "Stage Infos": [], "Properties": {}}),
    _ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1}}),
    _ev("SparkListenerTaskEnd", **{"Stage ID": 1, "Task Metrics": {"Executor Run Time": 5}}),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1}}),
    _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 2250}),
])


def test_event_log_parser_attributes_by_job_group():
    s = eventlog.summarize(CANNED_LOG.splitlines())
    g = s["groups"]["pb-7"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 1, 2)
    assert g["run_ms"] == 200 and g["cpu_ns"] == 80_000_000 and g["gc_ms"] == 4
    assert g["shuffle_read_bytes"] == 305 and g["shuffle_write_bytes"] == 700
    assert g["spill_bytes"] == 10
    assert s["groups"][None]["tasks"] == 1
    assert s["jobs"] == [(1.0, 1.5, "pb-7"), (2.0, 2.25, None)]
    both = eventlog.totals(s, ["pb-7", None, "pb-missing"])
    assert both["tasks"] == 3 and both["run_ms"] == 205


def test_find_log_skips_unfinished(tmp_path):
    (tmp_path / "local-1.inprogress").write_text("")
    assert eventlog.find_log(str(tmp_path)) is None
    (tmp_path / "local-2").write_text(CANNED_LOG)
    assert eventlog.find_log(str(tmp_path)).endswith("local-2")


# --- UDF profile grouping --------------------------------------------------

def test_udf_profile_groups_by_outermost_function():
    table = {
        ("extract.py", 539, "extract_udf"): (1, 1, 0.0, 0.9, {}),
        ("fastparse.py", 90, "fast_parse"): (9, 9, 0.5, 0.6, {}),
        ("canon.py", 34, "canonicalize_url"): (9, 9, 0.1, 0.1, {}),
    }
    assert udfprof.classify(table) == ("extract", 0.9)
    assert udfprof.classify({("robots.py", 1, "f"): (1, 1, 0, 0.2, {})}) == ("other", 0.2)
    assert udfprof.classify({}) == ("other", 0.0)


# --- fingerprints ------------------------------------------------------------

def _table(n=200):
    return pa.table({
        "url": [f"https://h{i % 7}.example/p/{i}" for i in range(n)],
        "n": pa.array([None if i % 5 == 0 else i for i in range(n)], pa.int32()),
        "ts": pa.array([i * 1_000_000 for i in range(n)], pa.timestamp("us")),
        "ok": [i % 3 == 0 for i in range(n)],
    })


def test_fingerprint_is_stable_across_partitionings(tmp_path):
    import pyarrow.parquet as pq

    t = _table()
    whole = checks.fingerprint(t)
    # reversed rows, column order changed, split into uneven files
    one = tmp_path / "one"
    one.mkdir()
    pq.write_table(t, one / "part-0.parquet")
    many = tmp_path / "many"
    many.mkdir()
    idx = list(range(t.num_rows))[::-1]
    shuffled = t.take(idx).select(["ts", "ok", "url", "n"])
    for k, (a, b) in enumerate([(0, 13), (13, 120), (120, 200)]):
        pq.write_table(shuffled.slice(a, b - a), many / f"part-{k}.parquet")
    (many / "_SUCCESS").write_text("")
    assert checks.fingerprint(pq.read_table(one)) == whole
    assert checks.fingerprint(pq.read_table(many)) == whole
    # a slice without nulls in `n` hashes the same rows the same way
    assert checks.fingerprint(t.slice(1, 4))["hash"] == checks.fingerprint(
        pa.concat_tables([t.slice(3, 2), t.slice(1, 2)]))["hash"]


def test_fingerprint_sees_content_changes():
    t = _table()
    base = checks.fingerprint(t)
    changed = t.set_column(1, "n", pa.array([1] * t.num_rows, pa.int32()))
    assert checks.fingerprint(changed) != base
    assert checks.fingerprint(t.slice(1))["rows"] == t.num_rows - 1
    assert checks.fingerprint(t, exclude=("ok",)) != base


def test_compare_rounds_reports_only_shared_rounds():
    got = {"1": {"x": 1}, "2": {"x": 2}}
    want = {"2": {"x": 3}, "5": {"x": 5}}
    problems = checks.compare_rounds("ref", got, want)
    assert len(problems) == 1 and checks.round_of(problems[0]) == 2
