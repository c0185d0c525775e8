"""Self-tests for the benchmark's own measurement code.

    python3 -m pytest perfbench/tests -q

``data/eventlog_small.jsonl`` is a real Spark 4.1 event log trimmed to
the fields ``evlog`` reads, captured from a local[2] session with two
spans: ``span-a`` ran a shuffle job twice (the second job lists the
map stage again but skips it) with a 0.3 s driver-side sleep between
the jobs; an untraced job followed; ``span-b`` ran one job under the
alias group ``run-123``, as a streaming query's micro-batches do.
Expected values below are worked out by hand from that file.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import evlog  # noqa: E402

DATA = os.path.join(HERE, "data")


@pytest.fixture(scope="module")
def attributed():
    log = evlog.load(os.path.join(DATA, "eventlog_small.jsonl"))
    with open(os.path.join(DATA, "spans_small.json")) as f:
        spans = [evlog.Span(d["name"], d["span_id"], d["start"], d["end"],
                            groups=d["groups"]) for d in json.load(f)]
    return log, evlog.attribute(log, spans)


def test_span_takes_its_jobs_tasks(attributed):
    _, c = attributed
    a = c["span-a"]
    assert a["n_jobs"] == 2
    # stages 0 and 1 (first job) and 3 (second job); stage 2 was skipped
    assert a["n_stages"] == 3
    assert a["task_s"] == pytest.approx((1337 + 1337 + 170 + 259 + 198
                                         + 202) / 1000)
    assert a["shuffle_mb"] == pytest.approx(2 * 161 / 2**20)


def test_driver_gap_is_wall_minus_task_union(attributed):
    _, c = attributed
    a = c["span-a"]
    busy = (665.124 - 663.675) + (665.477 - 665.171) + (666.072 - 665.841)
    assert a["wall_s"] == pytest.approx(666.09026 - 663.3850436, abs=1e-6)
    assert a["driver_gap_s"] == pytest.approx(a["wall_s"] - busy, abs=1e-6)
    assert a["driver_gap_s"] > 0.3  # at least the sleep between the jobs


def test_alias_group_and_untraced_jobs(attributed):
    log, c = attributed
    b = c["span-b"]
    assert b["n_jobs"] == 1 and b["n_stages"] == 2
    assert b["task_s"] == pytest.approx((114 + 112 + 39 + 45) / 1000)
    assert b["driver_gap_s"] == pytest.approx(
        (668.8829143 - 668.1884453) - (0.127 + 0.056), abs=1e-6)
    attributed_ms = sum(sum(x["task_ms"]) for x in c.values())
    untraced_ms = 47 + 51 + 24
    assert sum(t.run_ms for t in log.tasks) == attributed_ms + untraced_ms
    assert evlog.totals(log) == {"failed_tasks": 0, "spill_mb": 0.0}


@pytest.mark.parametrize("intervals,lo,hi,expected", [
    ([], 0, 10, 0.0),
    ([(1, 3), (2, 5)], 0, 10, 4.0),      # overlapping
    ([(1, 5), (2, 3)], 0, 10, 4.0),      # nested
    ([(1, 2), (4, 6)], 0, 10, 3.0),      # disjoint
    ([(1, 2), (2, 3)], 0, 10, 2.0),      # touching
    ([(-5, 2), (8, 20)], 0, 10, 4.0),    # clipped to the span
    ([(11, 12), (-3, -1)], 0, 10, 0.0),  # wholly outside
])
def test_union_length(intervals, lo, hi, expected):
    assert evlog.union_length(intervals, lo, hi) == pytest.approx(expected)


def test_percentile_rule():
    v = list(range(1, 101))  # 1..100
    assert evlog.percentile(v, 0.5) == 50
    assert evlog.percentile(v, 0.9, min_tail=10) == 90
    with pytest.raises(ValueError):
        evlog.percentile(v, 0.95, min_tail=10)  # only 5 beyond p95
    assert evlog.percentile(list(range(60)), 0.8, min_tail=10) == 47
    with pytest.raises(ValueError):
        evlog.percentile(list(range(49)), 0.8, min_tail=10)
    with pytest.raises(ValueError):
        evlog.percentile([], 0.5)


def test_seed_guard_and_union_find():
    pytest.importorskip("duckdb")
    sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
    import corpus
    lo, hi = corpus.doc_range(3, 100, 50)
    assert (lo, hi) == (3 * corpus.SLOT + 100, 3 * corpus.SLOT + 150)
    # every seed, however large or negative, stays inside the conv_id space
    for seed in (-1, 0, corpus.N_SLOTS - 1, corpus.N_SLOTS, 2**63 + 5):
        lo, hi = corpus.doc_range(seed, 0, corpus.SLOT)
        assert 0 <= lo and hi <= corpus.DOC_ID_LIMIT
    assert corpus.doc_range(corpus.N_SLOTS + 3, 100, 50) == \
        corpus.doc_range(3, 100, 50)
    with pytest.raises(corpus.SeedError):
        corpus.doc_range(0, corpus.SLOT - 1, 2)
    labels = corpus.components([("e2", "", "", ["a", "e3"]),
                                ("e1", "", "", ["a"]),
                                ("e9", "", "", ["z"])])
    assert labels == {"e1": "a", "e2": "a", "e3": "a", "a": "a",
                      "e9": "e9", "z": "e9"}
