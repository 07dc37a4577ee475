"""Tests of the benchmark itself (no Spark session needed).

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, os.path.join(ROOT, "scripts")]

import datagen  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, covered, self_times  # noqa: E402
from workloads import expected_windows  # noqa: E402


def _write_all(d: str, seed: int) -> None:
    datagen.write_tables(os.path.join(d, "tables"), seed, 0.001)
    datagen.write_word_files(os.path.join(d, "words"), seed, 3, 4000)
    datagen.write_event_files(os.path.join(d, "events"), seed, 3, 1500, 50, 60, 30)


def _files(d: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs
    )


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    _write_all(a, 7)
    _write_all(b, 7)
    _write_all(c, 8)
    names = _files(a)
    assert names == _files(b) == _files(c)
    assert len(names) == 10 + 3 + 3
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert mismatch == [] and errors == []
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert len(differ) >= 12  # every seeded file changes with the seed


def test_word_truth_counts_every_word(tmp_path):
    truth = datagen.write_word_files(str(tmp_path), 3, 4, 5000)
    words = []
    for f in sorted(os.listdir(tmp_path)):
        text = open(tmp_path / f).read()
        # each file ends at the first word that reaches the byte target
        last = text.split()[-1]
        assert 5000 <= len(text) < 5000 + len(last) + 1
        words += text.split()
    assert sum(truth.values()) == len(words)
    assert truth == {w: words.count(w) for w in set(words)}
    assert len(truth) <= 126


def test_event_files_split_the_events_evenly(tmp_path):
    import pyarrow.parquet as pq

    events = datagen.write_event_files(str(tmp_path), 5, 4, 1002, 50, 60, 30)
    sizes = [pq.read_metadata(tmp_path / f).num_rows for f in sorted(os.listdir(tmp_path))]
    assert sizes == [251, 251, 250, 250]
    assert events.num_rows == 1002


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    for m in spec["end_to_end"]:
        assert m["unit"] == run.END_TO_END[m["name"]]
    for m in spec["per_layer"]:
        assert m["unit"] == run.PER_LAYER[m["name"]]
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run_workloads())


def run_workloads() -> list[str]:
    from workloads import WORKLOADS

    return list(WORKLOADS)


@pytest.mark.parametrize("trace", [False, True])
def test_report_prints_exactly_the_declared_metrics(trace):
    declared = run.PER_LAYER if trace else run.END_TO_END
    out = run.report({k: 1.5 for k in declared}, trace)
    assert list(out) == list(declared)
    assert all(v == {"value": 1.5, "unit": declared[k]} for k, v in out.items())
    with pytest.raises(KeyError):
        run.report({k: 1.0 for k in list(declared)[1:]}, trace)
    with pytest.raises(KeyError):
        run.report({**{k: 1.0 for k in declared}, "undeclared": 1.0}, trace)


def test_per_layer_values_fail_on_an_unmeasured_layer():
    measured = ("spark.", "streaming.", "memory.", "trace.")
    layers = {k: 2.0 for k in run.PER_LAYER if k.startswith(measured)}
    out = run.per_layer_values(layers, measured)
    assert list(out) == list(run.PER_LAYER)
    assert out["spark.jobs"] == 2.0 and out["streaming.batches"] == 2.0
    assert out["queries.build_s"] == 0.0 and out["catalog.load_calls"] == 0.0
    del layers["streaming.state_rows"]
    with pytest.raises(KeyError, match="streaming.state_rows"):
        run.per_layer_values(layers, measured)


def test_each_workload_measures_layers_that_are_declared():
    from workloads import WORKLOADS

    for wl in WORKLOADS.values():
        for prefix in wl.layers + run.ALWAYS_MEASURED:
            assert any(k.startswith(prefix) for k in run.PER_LAYER), (wl.name, prefix)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_on_a_synthetic_trace():
    # pass [0, 10]: query [1, 9] -> build [1, 4] (operator [2, 3.5] with
    # job [3, 3.5]) and action [4, 9] with two overlapping jobs [4.5, 7]
    # and [6, 8.5]
    spans = [
        Span(0, None, "queries", "pass", 0, 10),
        Span(1, 0, "queries", "q", 1, 9),
        Span(2, 1, "queries", "build", 1, 4),
        Span(3, 2, "operators.dedup", "op", 2, 3.5),
        Span(4, 3, "spark", "job 1", 3, 3.5),
        Span(5, 1, "queries", "action", 4, 9),
        Span(6, 5, "spark", "job 2", 4.5, 7),
        Span(7, 5, "spark", "job 3", 6, 8.5),
    ]
    got = self_times(spans)
    want = {0: 2.0, 1: 0.0, 2: 1.5, 3: 1.0, 4: 0.5, 5: 1.0, 6: 2.5, 7: 2.5}
    assert got == pytest.approx(want)


def test_tracer_nests_spans_and_finds_the_deepest_open_one():
    t = Tracer()
    with t.span("queries", "q") as q:
        with t.span("queries", "build") as b:
            with t.span("operators.text", "tokens") as op:
                pass
    assert (q.parent, b.parent, op.parent) == (None, q.id, b.id)
    assert q.start <= b.start <= op.start <= op.end <= b.end <= q.end
    assert t.deepest_open_at(q, op.start) is op
    assert t.deepest_open_at(q, q.end + 1) is q


def test_window_replay_applies_the_previous_batch_watermark():
    import pyarrow as pa

    base = 1_704_067_200_000_000  # 2024-01-01 in us, a multiple of 20 s
    s = 1_000_000
    # batch 0: events at 5 s and 50 s; batch 1: 110 s, plus one at 10 s
    # (late: wm(1) = 50-30 = 20 s, but the late rule uses wm(0) = 0, so it
    # still counts); batch 2: 170 s plus one at 15 s, dropped from the
    # windows ending at or before wm(1) = 20 s, kept in [0, 60) whose end
    # is after it.
    ts = [5, 50, 110, 10, 170, 15]
    batch = [0, 0, 1, 1, 2, 2]
    events = pa.table({
        "ts": pa.array([base + t * s for t in ts], pa.timestamp("us", tz="UTC")),
        "key": ["k"] * 6,
        "batch": pa.array(batch, pa.int32()),
    })
    got = expected_windows(events, 3, 60, 20, 30)
    b = base // s
    # final watermark 170-30 = 140 s: windows ending at or before 140 s
    want = [
        (b - 40, b + 20, "k", 2),  # 5 and the late 10; the later 15 is dropped
        (b - 20, b + 40, "k", 3),  # 5, 10, 15
        (b, b + 60, "k", 4),       # 5, 50, 10, 15
        (b + 20, b + 80, "k", 1),  # 50
        (b + 40, b + 100, "k", 1),  # 50
        (b + 60, b + 120, "k", 1),  # 110
        (b + 80, b + 140, "k", 1),  # 110
    ]
    assert got == want


def test_percentile_interpolates_between_ranks():
    xs = [float(x) for x in range(10, 0, -1)]
    assert run._percentile(xs, 0.5) == pytest.approx(5.5)
    assert run._percentile(xs, 0.9) == pytest.approx(9.1)
    assert run._percentile([7.0], 0.9) == 7.0
    assert run._percentile([], 0.5) == 0.0
