"""The event-log fold, pinned on a small hand-written log.

tests/fixtures/eventlog_small.jsonl holds:
- job 3: no job group (set-up), 1 task: ignored;
- pagerank#0, span 100-110 s: job 0 (101-103 s, stages 0 and 1), job 1
  (102.5-106 s, stage 2) and job 4 (109-111 s, stage 5). The jobs cover
  101-106 s and 109-110 s inside the span, so the driver gap is 10 - 6 = 4 s;
- lpa#1, span 110-115 s: job 2 (111-112 s) lists stage 3 and the already
  run stage 1, whose task stays with job 0; gap 5 - 1 = 4 s;
- read#2: a group with no span in the fold: ignored.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench import eventlog  # noqa: E402

SPANS = [("pagerank#0", 100.0, 110.0), ("lpa#1", 110.0, 115.0)]


@pytest.fixture(scope="module")
def folded():
    return eventlog.fold_file(os.path.join(HERE, "fixtures", "eventlog_small.jsonl"), SPANS)


def test_only_spanned_layers(folded):
    assert sorted(folded) == ["lpa", "pagerank"]


def test_pagerank_counters(folded):
    pr = folded["pagerank"]
    assert pr["jobs"] == 3
    assert pr["tasks"] == 5  # stages 0 (2), 1 (1), 2 (1), 5 (1)
    assert pr["driver_gap_s"] == pytest.approx(4.0)
    assert pr["task_run_s"] == pytest.approx(4.6)  # 1 + 1 + 2 + 0.5 + 0.1
    assert pr["task_cpu_s"] == pytest.approx(2.35)  # 0.5 + 0.5 + 1 + 0.25 + 0.1
    assert pr["cpu_per_run"] == pytest.approx(2.35 / 4.6)
    assert pr["gc_s"] == pytest.approx(0.02)
    assert pr["shuffle_read_bytes"] == 200  # remote 50 + local 150
    assert pr["shuffle_write_bytes"] == 500  # 100 + 100 + 300


def test_lpa_counters(folded):
    lpa = folded["lpa"]
    assert lpa["jobs"] == 1
    assert lpa["tasks"] == 2
    assert lpa["driver_gap_s"] == pytest.approx(4.0)
    assert lpa["task_run_s"] == pytest.approx(0.8)
    assert lpa["cpu_per_run"] == pytest.approx(0.25)
    assert lpa["shuffle_read_bytes"] == 140
    assert lpa["shuffle_write_bytes"] == 60
    assert lpa["gc_s"] == 0


def test_two_calls_of_one_layer_add_up():
    spans = [("pagerank#0", 100.0, 110.0), ("pagerank#7", 200.0, 203.0)]
    with open(os.path.join(HERE, "fixtures", "eventlog_small.jsonl")) as f:
        out = eventlog.fold(f, spans)
    # the second call ran no job: its whole span is driver gap
    assert out["pagerank"]["driver_gap_s"] == pytest.approx(4.0 + 3.0)
    assert out["pagerank"]["jobs"] == 3
