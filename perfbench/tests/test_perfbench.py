"""Tests of the benchmark's own helpers: the event-log fold on a small
recorded log, span self times, the percentile helper and the sample-count
rule. No Spark session is started.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.

``data/eventlog_small.jsonl`` was recorded from a local[2] session with the
benchmark's event-log settings: span 0 (root) held span 1, a pandas-UDF
projection written to parquet as two files, and span 2, a read-back with a
grouped count. Events and fields the fold does not read were dropped.
"""

import os
import random
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402
import stats  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def folded():
    return spans.fold(LOG)


def test_fold_attributes_jobs_to_innermost_span(folded):
    by = folded["spans"]
    assert set(by) == {"1", "2"}  # the root span launched no job itself
    assert by["1"]["jobs"] == 1 and by["2"]["jobs"] == 3
    assert by["1"]["stages"] == 1 and by["2"]["stages"] == 3
    assert by["1"]["tasks"] == 2 and by["2"]["tasks"] == 4
    assert len(folded["jobs"]) == 4
    assert all(end >= start for _, start, end in folded["jobs"])


def test_fold_python_worker_metrics(folded):
    w = folded["spans"]["1"]
    # 1000 rows crossed into the pandas UDF; timings are ms in the log
    assert w["python_rows"] == 1000
    assert w["bytes_to_python"] == 8416 and w["bytes_from_python"] == 8288
    assert w["python_run_s"] == pytest.approx(4.18)
    assert w["python_start_s"] == pytest.approx(2.526)
    assert "python_rows" not in folded["spans"]["2"]


def test_fold_sink_io(folded):
    w, r = folded["spans"]["1"], folded["spans"]["2"]
    assert w["files_written"] == 2
    assert w["records_written"] == 1000 and w["bytes_written"] == 5175
    assert r["records_read"] == 1000 and r["bytes_read"] == 1264
    assert r["shuffle_write_bytes"] == 269
    # each span ran one SQL execution, so nothing counts as a read-back
    assert "readback_bytes_read" not in w and "readback_bytes_read" not in r


def test_union_length():
    assert spans.union_length([]) == 0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert spans.union_length([(0, 10), (2, 3)]) == pytest.approx(10)


def test_self_times_reconcile_with_root():
    tr = spans.Tracer()
    with tr.span("root", "unattributed") as root:
        with tr.span("a", "pipeline"):
            with tr.span("b", "sortblocks"):
                pass
        with tr.span("c", "extract"):
            pass
    assert sum(s.self_time() for s in tr.spans) == pytest.approx(root.dur)
    assert [s.parent for s in tr.spans] == [None, 0, 1, 0]


def test_wrap_patches_and_restores():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    tr = spans.Tracer()
    seen = []
    tr.wrap(Owner, "f", "owner.f", "pipeline", on_result=lambda t, r: seen.append(r))
    assert Owner.f(1) == 2 and seen == [2]
    assert tr.by_name("owner.f")[0].layer == "pipeline"
    tr.uninstall()
    Owner.f(1)
    assert len(tr.spans) == 1


@pytest.mark.parametrize("n", [1, 2, 7, 100, 101])
@pytest.mark.parametrize("p", [0, 10, 50, 90, 99, 100])
def test_percentile_matches_numpy(n, p):
    r = random.Random(n)
    xs = [r.random() for _ in range(n)]
    assert stats.percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def test_percentile_interpolates_by_hand():
    # position (4 - 1) * 0.9 = 2.7: 3 + 0.7 * (4 - 3)
    assert stats.percentile([4, 1, 3, 2], 90) == pytest.approx(3.7)
    assert stats.percentile([4, 1, 3, 2], 50) == pytest.approx(2.5)
    assert stats.percentile([5], 90) == 5


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_cycle_median():
    # cycles of 2: sums 3, 7, 30 -> median 7; cycle 1 is the plain median
    assert stats.cycle_median([1, 2, 3, 4, 10, 20], 2) == 7
    assert stats.cycle_median([5, 1, 3], 1) == 3


def test_sample_count_rule():
    assert stats.min_samples(90) == 100
    assert stats.min_samples(50) == 20
    assert stats.min_samples(99) == 1000
    assert not stats.supported(99, 90) and stats.supported(100, 90)
    assert stats.highest_supported(19) is None
    assert stats.highest_supported(40) == 75
    assert stats.highest_supported(100) == 90
    assert stats.highest_supported(5000) == 99
