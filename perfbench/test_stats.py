"""Tests of the benchmark's own arithmetic and bookkeeping (no Spark).

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import stats  # noqa: E402
from perfbench.batch import pass_order  # noqa: E402
from perfbench.data import EventSource, make_documents, make_embeddings  # noqa: E402
from perfbench.stream import committed_offsets  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


# -- percentile rule ----------------------------------------------------------


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    assert stats.percentile(list(range(101)), 99) == pytest.approx(99.0)


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n,p,beyond",
    [(100, 90, 10), (101, 90, 10), (99, 90, 10), (19, 50, 9), (20, 50, 10),
     (92, 90, 10), (91, 90, 9), (902, 99, 10), (901, 99, 9), (1, 50, 0)],
)
def test_samples_beyond(n, p, beyond):
    assert stats.samples_beyond(n, p) == beyond
    # the count is literal: samples strictly above the percentile value
    xs = list(range(n))
    assert sum(x > stats.percentile(xs, p) for x in xs) == beyond


def test_tail_needs_ten_samples_beyond():
    assert stats.tail(list(range(92)), 90) is not None
    assert stats.tail(list(range(91)), 90) is None  # only 9 beyond p90
    assert stats.tail(list(range(902)), 99) is not None
    assert stats.tail(list(range(901)), 99) is None
    # a pass of 9 query samples supports no tail percentile
    assert not stats.supported(9, 50)
    assert stats.tail([], 50) is None


def test_geomean_of_medians_weighs_each_kind_equally():
    cheap, dear = [1.0, 2.0, 9.0], [100.0, 200.0, 500.0]
    assert stats.geomean_of_medians([cheap, dear]) == pytest.approx(20.0)
    # more samples of one kind do not pull the estimate towards it
    assert stats.geomean_of_medians([cheap * 5, dear]) == pytest.approx(20.0)
    assert stats.geomean_of_medians([[], [3.0]]) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        stats.geomean_of_medians([[], []])


# -- latency join -------------------------------------------------------------


def test_join_commit_latency():
    commits = {3: 100.0, 4: 101.5}  # epoch seconds
    rows = [(3, 99_000), (4, 100_000), (4, 101_499)]
    assert stats.join_commit_latency(rows, commits) == [1000.0, 1500.0, 1.0]


def test_join_commit_latency_rejects_unknown_batch():
    with pytest.raises(KeyError):
        stats.join_commit_latency([(7, 0)], {3: 1.0})


# -- backlog sampling ---------------------------------------------------------


def test_backlog_counts_uncommitted_events_per_partition():
    assert stats.backlog({0: 10, 1: 5}, {0: 4, 1: 5}) == 6
    assert stats.backlog({0: 10, 1: 5}, {}) == 15  # nothing committed yet
    with pytest.raises(ValueError):
        stats.backlog({0: 3}, {0: 4})


def test_committed_offsets_reads_newest_committed_batch(tmp_path):
    ck = tmp_path
    assert committed_offsets(str(ck)) == {}
    (ck / "offsets").mkdir()
    (ck / "commits").mkdir()
    for b, offs in ((0, {"0": 5, "1": 7}), (1, {"0": 9, "1": 7}), (2, {"0": 12, "1": 8})):
        (ck / "offsets" / str(b)).write_text(
            "v1\n" + json.dumps({"batchWatermarkMs": 0}) + "\n" + json.dumps(offs)
        )
    (ck / "commits" / "0").write_text("v1\n{}")
    (ck / "commits" / "1").write_text("v1\n{}")
    # batch 2 is planned (offsets written) but not committed
    assert committed_offsets(str(ck)) == {0: 9, 1: 7}


# -- span self time -----------------------------------------------------------


def test_self_times_subtract_children():
    spans = [
        {"id": 0, "parent": None, "name": "pass", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "query", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "name": "build", "start": 1.0, "end": 2.0},
        {"id": 3, "parent": 0, "name": "query", "start": 5.0, "end": 9.0},
    ]
    own = stats.self_times(spans)
    assert own["pass"] == pytest.approx(10.0 - 3.0 - 4.0)
    assert own["query"] == pytest.approx(2.0 + 4.0)
    assert own["build"] == pytest.approx(1.0)


# -- SQL metric strings -------------------------------------------------------


@pytest.mark.parametrize(
    "text,value",
    [
        ("1,234", 1234.0),
        ("500", 500.0),
        ("63.5 KiB", 63.5 * 1024),
        ("total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 3.0: task 7))",
         2.0 * 1024**2),
        ("total (min, med, max (stageId: taskId))\n1.9 s (0 ms, 0 ms, 1.9 s (stage 1.0: task 1))", 1900.0),
        ("386 ms", 386.0),
    ],
)
def test_parse_sql_metric(text, value):
    assert stats.parse_sql_metric(text) == pytest.approx(value)


def test_parse_sql_metric_rejects_garbage():
    with pytest.raises(ValueError):
        stats.parse_sql_metric("n/a")


# -- seeded inputs ------------------------------------------------------------


def test_inputs_are_a_function_of_the_seed():
    assert make_documents(3, 50).equals(make_documents(3, 50))
    assert not make_documents(3, 50).equals(make_documents(4, 50))
    assert make_embeddings(3, 20).equals(make_embeddings(3, 20))
    a, b = EventSource(5, n_users=1000), EventSource(5, n_users=1000)
    assert a.take([1, 2, 3]) == b.take([1, 2, 3])
    assert pass_order(5, 0, "abcdef") == pass_order(5, 0, "abcdef")
    assert sorted(pass_order(5, 1, "abcdef")) == list("abcdef")
    assert len({tuple(pass_order(s, 0, "abcdefgh")) for s in range(5)}) > 1


def test_event_tally_matches_the_events():
    src = EventSource(7, n_users=50)
    events = src.take(list(range(400)))
    tally: dict[int, list] = {}
    for user, key, value in events:
        ev = json.loads(value)
        assert ev["user_id"] == user and key == str(user).encode()
        t = tally.setdefault(user, [0, 0.0, -1])
        t[0] += 1
        t[1] += ev["amount"]
        t[2] = max(t[2], ev["created_ms"])
    assert tally == src.tally
    assert sum(t[0] for t in src.tally.values()) == src.next_id == 400


# -- BENCHMARK.json agrees with what the command prints ------------------------


def test_benchmark_json_matches_the_command():
    from perfbench import metrics, run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])
