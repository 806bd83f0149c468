"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The span arithmetic is checked on hand-made spans. The count metrics
(jobs, stages and tasks per op, per-layer job counts, candidate pairs,
files rewritten per verb) must repeat exactly: two traced runs of one seed
per workload must print the same ``counts:`` line.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

from harness import quartiles, tail  # noqa: E402
from tracing import Attribution, Job, Span, Stage  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _spans(rows):
    return [Span(i, name, parent, "t", a, b) for i, (name, parent, a, b) in enumerate(rows)]


def test_self_time_sequential_children_is_duration_minus_children():
    spans = _spans([("op", None, 0.0, 10.0), ("a", 0, 1.0, 4.0), ("b", 0, 5.0, 6.0), ("c", 1, 2.0, 3.0)])
    att = Attribution(spans, {}, {})
    assert att.self_time[0] == pytest.approx(10.0 - 3.0 - 1.0)
    assert att.self_time[1] == pytest.approx(3.0 - 1.0)
    assert att.self_time[3] == pytest.approx(1.0)
    assert att.closure_error(0) == pytest.approx(0.0, abs=1e-12)


def test_self_time_of_overlapping_pool_spans_sums_to_wall():
    # two pool threads under one op, overlapping on [3, 5]
    spans = _spans([("op", None, 0.0, 8.0), ("w1", 0, 1.0, 5.0), ("w2", 0, 3.0, 7.0)])
    att = Attribution(spans, {}, {})
    assert att.self_time[0] == pytest.approx(2.0)
    assert att.self_time[1] == pytest.approx(2.0 + 1.0)
    assert att.self_time[2] == pytest.approx(1.0 + 2.0)
    assert att.closure_error(0) == pytest.approx(0.0, abs=1e-12)


def test_jobs_go_to_their_group_or_the_deepest_open_span():
    spans = _spans([("op", None, 0.0, 10.0), ("child", 0, 2.0, 4.0)])
    jobs = {
        0: Job(0, 1.0, "perfbench-span-1", 1.5),  # grouped: child, though outside it in time
        1: Job(1, 3.0, None, 3.5),  # ungrouped, inside child
        2: Job(2, 6.0, None, 7.0),  # ungrouped, only op open
        3: Job(3, 11.0, None, 12.0),  # outside every span
    }
    st = Stage(0, 3.0, None, True)
    st.c["tasks"] = 4
    att = Attribution(spans, jobs, {0: st})
    assert [j.jid for j in att.jobs_of[1]] == [0, 1]
    assert [j.jid for j in att.jobs_of[0]] == [2]
    assert att.unattributed_jobs == 1
    c = att.counters(0)
    assert c["jobs"] == 3 and c["tasks"] == 4
    assert att.counters(0, python=False)["tasks"] == 0
    # op wall 10 s, jobs cover [1.5..] clipped: [1,1.5]->[1,1.5], [3,3.5], [6,7] = 2 s
    assert c["driver_gap_ms"] == pytest.approx(8000.0)


def test_order_statistics():
    assert quartiles([2.0]) == (2.0, 2.0, 2.0)
    assert quartiles([1.0, 2.0, 3.0, 4.0, 5.0])[1] == 3.0
    assert tail(list(range(19))) is None
    p, _, beyond = tail([float(i) for i in range(200)])
    assert p == 95.0 and beyond == 10


def _traced_counts(workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    assert json.loads(lines[-1])["correct"]
    counts = [line for line in lines if line.startswith("counts: ")]
    assert len(counts) == 1
    return json.loads(counts[0][len("counts: "):])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_count_metrics_repeat_for_one_seed(workload):
    first = _traced_counts(workload, 7)
    second = _traced_counts(workload, 7)
    assert first, "no count metrics"
    assert first == second
