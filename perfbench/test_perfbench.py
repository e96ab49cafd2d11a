"""Self-tests of the benchmark's own logic (no Spark session needed).

Run: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
from collections import Counter
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import corpus  # noqa: E402
from tracing import Span, Tracer, read_event_log, self_time, spark_layer  # noqa: E402
from workloads import multiset_diff, wrong_rows  # noqa: E402

GOLDEN = {"u1": "alpha beta", "u2": "gamma", "u3": ""}


def test_wrong_rows_accepts_the_reference():
    assert wrong_rows(GOLDEN, GOLDEN.items()) == 0
    assert wrong_rows(GOLDEN, reversed(list(GOLDEN.items()))) == 0


@pytest.mark.parametrize("got", [
    [("u1", "alpha beta!"), ("u2", "gamma"), ("u3", "")],  # wrong text
    [("u1", "alpha beta"), ("u3", "")],  # missing url
    [("u1", "alpha beta"), ("u2", "gamma"), ("u2", "gamma"), ("u3", "")],  # dup
    [("u1", "alpha beta"), ("u2", "gamma"), ("u3", ""), ("u4", "x")],  # extra
])
def test_wrong_rows_counts_each_defect_once(got):
    assert wrong_rows(GOLDEN, got) == 1


def test_multiset_diff():
    assert multiset_diff(Counter([1, 2, 2]), Counter([2, 1, 2])) == 0
    assert multiset_diff(Counter([1, 2, 2]), Counter([1, 2])) == 1
    assert multiset_diff(Counter([1]), Counter([3])) == 2


def _span(i, start, end, parent=None):
    return Span(f"s{i}", i, parent, "r", start, end)


def test_self_time_subtracts_the_union_of_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 5.0, 0), _span(3, 8.0, 12.0, 0)]
    # children cover [1, 5] and [8, 10] inside the parent: 6 of 10 seconds
    assert self_time(parent, kids) == pytest.approx(4.0)
    assert self_time(parent, []) == pytest.approx(10.0)
    assert self_time(parent, [_span(4, 11.0, 12.0, 0)]) == pytest.approx(10.0)


def test_tracer_nests_spans_and_labels_jobs():
    class FakeSc:
        def __init__(self):
            self.calls = []

        def setJobGroup(self, group, desc):
            self.calls.append(group)

        def setLocalProperty(self, key, value):
            if key == "spark.jobGroup.id":
                self.calls.append(value)

    sc = FakeSc()
    tr = Tracer("run", sc)
    with tr.span("pass") as outer:
        with tr.span("layer") as inner:
            pass
    assert inner.parent == outer.span_id and outer.parent is None
    assert sc.calls == ["run:0", "run:1", "run:0", None]
    assert [s.name for s in tr.descendants(outer)] == ["pass", "layer"]
    off = Tracer("run", sc, enabled=False)
    with off.span("pass") as s:
        assert s is None
    assert off.spans == []


def test_event_log_attaches_tasks_to_job_groups(tmp_path):
    def task(stage, run, failed=False, sw=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Failed": failed},
                "Task Metrics": {"Executor Run Time": run, "JVM GC Time": 1,
                                 "Disk Bytes Spilled": 0,
                                 "Shuffle Read Metrics": {"Local Bytes Read": 5},
                                 "Shuffle Write Metrics":
                                     {"Shuffle Bytes Written": sw}}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 7,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "r:3"}},
        task(0, 100, sw=1 << 20), task(1, 300), task(1, 50, failed=True),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 9,
         "Stage IDs": [2], "Properties": {}},
        task(2, 10),
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = read_event_log(log)
    assert [(j.group, len(j.tasks)) for j in jobs] == [("r:3", 3), (None, 1)]
    m = spark_layer(jobs[0].tasks, wall_s=0.5, cores=2)
    assert m["spark.failed_tasks"] == 1
    assert m["spark.task_ms_max"] == 300
    assert m["spark.task_ms_p50"] == 100
    assert m["spark.shuffle_write_mb"] == 1.0
    assert m["spark.slot_busy_ratio"] == pytest.approx(0.45 / 1.0)


def test_cpu_seconds_counts_live_processes_only():
    import os

    import run

    hz = os.sysconf("SC_CLK_TCK")
    before = {1: 10 * hz, 2: 5 * hz, 3: 7 * hz}
    # 1 kept running, 2 ended, 4 started
    after = {1: 12 * hz, 4: 3 * hz}
    assert run.cpu_seconds(before, after) == pytest.approx(5.0)
    assert run.cpu_seconds({}, after) == pytest.approx(15.0)
    tree = run.engine_cpu(os.getpid())
    assert os.getpid() in tree and all(t >= 0 for t in tree.values())
    assert run.engine_cpu(None) == {}


def test_speed_scale_uses_the_samples_inside_the_interval():
    import run

    assert run.ref_loop_s() > 0
    speed = run.SpeedSampler()
    speed.samples = [(1.0, 0.003), (2.0, 0.001), (5.0, 1.0)]
    assert speed.scale(0.5, 2.5) == pytest.approx(run.REF_NOMINAL_S / 0.002)
    assert speed.scale(3.0, 4.0) == pytest.approx(1.0)


def _text_bytes(rows, col):
    return sum(len(r[col]) for r in rows)


def test_seed_changes_the_corpus_but_not_its_size():
    a, b = corpus.uniform_rows(1, 2), corpus.uniform_rows(2, 2)
    assert a != b and len(a) == len(b) == 2 * corpus.BASE_DOCS
    assert _text_bytes(a, 2) == pytest.approx(_text_bytes(b, 2), rel=0.03)
    assert corpus.uniform_rows(1, 2) == a

    (ra, ga), (rb, gb) = corpus.skewed_rows(1, 4000), corpus.skewed_rows(2, 4000)
    assert ra != rb and len(ra) == len(rb) and len(ga) == len(gb) == 4000
    assert _text_bytes(ra, 2) == pytest.approx(_text_bytes(rb, 2), rel=0.05)

    (ca, fa), (cb, fb) = corpus.curate_rows(1, 2, 300), corpus.curate_rows(2, 2, 300)
    assert ca != cb and len(ca) == len(cb) == 600 and len(fa) == len(fb)
    assert _text_bytes(ca, 1) == pytest.approx(_text_bytes(cb, 1), rel=0.05)


def test_skewed_corpus_has_dups_with_other_text_and_huge_pages():
    rows, golden = corpus.skewed_rows(3, 2000)
    by_url: dict[str, list] = {}
    for url, ts, text in rows:
        by_url.setdefault(url, []).append((ts, text))
    dups = [v for v in by_url.values() if len(v) == 2]
    assert len(dups) == int(2000 * corpus.DUP_SHARE)
    for url, caps in by_url.items():
        latest = max(caps)
        assert golden[url] == latest[1]
        assert all(t != latest[1] for ts, t in caps if ts != latest[0])
    pages = sorted(len(t) + corpus.SHELL_BYTES for t in golden.values())
    median = pages[len(pages) // 2]
    huge = [p for p in pages if p >= 100 * median]
    assert len(huge) == corpus.HUGE_PAGES
    assert max(huge) <= 1001 * median


def test_benchmark_json_matches_what_the_run_reports():
    import run
    import workloads

    bench = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == run.END_TO_END_UNITS
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert layers == {n: run.layer_unit(n) for n in run.PER_LAYER}
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s")
