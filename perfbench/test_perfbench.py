"""Tests of the benchmark's own helpers (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import sys
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import cells  # noqa: E402
import checks  # noqa: E402
from probes import MemoCounter  # noqa: E402
from spans import Span, Tracer, self_times, union_length  # noqa: E402


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "r")


# ------------------------------------------------------------ self time


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], 2, 5) == 3
    assert union_length([]) == 0
    assert union_length([(3, 1)]) == 0


def test_self_time_with_overlapping_children():
    # parent 0..10; children 1..4 and 3..6 overlap (covered 1..6 = 5 s),
    # child 9..12 sticks out of the parent (covered 9..10 = 1 s)
    spans = [_span(0, 0, 10), _span(1, 1, 4, 0), _span(2, 3, 6, 0), _span(3, 9, 12, 0), _span(4, 2, 3, 1)]
    own = self_times(spans)
    assert own[0] == pytest.approx(10 - 6)
    assert own[1] == pytest.approx(3 - 1)  # minus its own child 2..3
    assert own[2] == pytest.approx(3)
    assert own[3] == pytest.approx(3)


def test_tracer_nests_and_reports_layers():
    clock = iter(range(100)).__next__
    tr = Tracer("run", clock=clock)
    with tr.span("op:fit"):  # 0..5
        with tr.span("algorithm.run"):  # 1..4
            with tr.span("kmeans.init"):  # 2..3
                pass
    assert [s.parent for s in tr.spans] == [None, 0, 1]
    table = tr.layer_table()
    assert table["op"]["self_s"] == 5 - 3
    assert table["algorithm.run"]["self_s"] == 3 - 1
    assert table["kmeans.init"] == {"spans": 1, "total_s": 1, "self_s": 1}


def test_disabled_tracer_records_nothing():
    tr = Tracer("run", enabled=False)
    with tr.span("op:fit") as s:
        assert s is None
    assert tr.spans == []


# ------------------------------------------------------------ memo counting


class _Built:
    def localCheckpoint(self, eager):
        return self


@pytest.mark.parametrize("memo_on, builds, hits", [("1", 2, 3), ("", 5, 0)])
def test_memo_counter_counts_builds_and_hits(monkeypatch, memo_on, builds, hits):
    from harmony_spark import io

    monkeypatch.setenv("HARMONY_CACHE_TABLES", memo_on)
    monkeypatch.setattr(io, "_DERIVED_MEMO", {})
    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-1"))
    counter = MemoCounter(Tracer("run"))
    memo = counter.wrap(io.session_memo)
    for key in [("a",), ("a",), ("b",), ("a",), ("b",)]:
        memo(spark, key, _Built)
    assert (counter.builds, counter.calls - counter.builds) == (builds, hits)
    assert len(counter.tracer.spans) == builds


# ------------------------------------------------------------ result hash


def test_hash_ignores_row_and_column_order():
    rows = [(1, "x", 0.5), (2, "y", 1.25)]
    a = checks.result_hash(["id", "name", "score"], rows)
    b = checks.result_hash(["score", "id", "name"], [(1.25, 2, "y"), (0.5, 1, "x")])
    assert a == b


def test_hash_check_fails_on_perturbed_result():
    rows = [(1, "x", 0.5), (2, "y", 1.25)]
    expected = checks.result_hash(["id", "name", "score"], rows)
    perturbed = [(1, "x", 0.5), (2, "y", 1.2500001)]
    assert checks.result_hash(["id", "name", "score"], perturbed) != expected
    assert checks.result_hash(["id", "name", "score"], rows[:1]) != expected


def test_canon_matches_oracle_rendering():
    assert checks._canon(3.0) == "3"
    assert checks._canon(None) == "NULL"
    assert checks._canon(True) == "1"
    assert checks._canon(0.1234567891234) == repr(0.123456789)


# ------------------------------------------------------------ quality


def test_quality_metrics_on_toy_input():
    # two types 10 apart on axis 0; batch b shifts every cell by b on axis 1
    cell_type = np.array([0, 0, 1, 1])
    batch = np.array([0, 1, 0, 1])
    before = np.array([[0, 0], [0, 2], [10, 0], [10, 2]], dtype=float)
    # correction halves the batch shift and leaves the types in place
    after = np.array([[0, 0.5], [0, 1.5], [10, 0.5], [10, 1.5]], dtype=float)
    assert checks.batch_residual(before, after, cell_type, batch) == pytest.approx(0.5)
    assert checks.type_separation(before, after, cell_type) == pytest.approx(1.0)
    # pulling the types together to 5 apart halves the separation
    merged = after.copy()
    merged[2:, 0] = 5
    assert checks.type_separation(before, merged, cell_type) == pytest.approx(0.5)


def test_batch_residual_skips_single_batch_types():
    cell_type = np.array([0, 0, 1, 1])
    batch = np.array([0, 1, 2, 2])  # type 1 lives in one batch only
    before = np.array([[0.0], [4.0], [9.0], [9.0]])
    after = np.array([[1.0], [3.0], [7.0], [9.0]])
    assert checks.batch_residual(before, after, cell_type, batch) == pytest.approx(0.5)


def test_rows_ok():
    z = np.zeros((3, 2))
    assert checks.rows_ok(np.arange(3), np.array([2, 0, 1]), z, 2)
    assert not checks.rows_ok(np.arange(3), np.array([0, 0, 1]), z, 2)
    bad = z.copy()
    bad[1, 1] = np.nan
    assert not checks.rows_ok(np.arange(3), np.arange(3), bad, 2)


# ------------------------------------------------------------ generator


def test_generator_depends_only_on_seed_and_id():
    ids = np.arange(3 * cells.CHUNK + 17)
    whole = cells.draw(5, ids)
    part = cells.draw(5, ids[::-1][:500])  # another order, crossing a chunk edge
    np.testing.assert_array_equal(part.z, whole.z[::-1][:500])
    np.testing.assert_array_equal(part.batch, whole.batch[::-1][:500])
    assert not np.array_equal(cells.draw(6, ids).z, whole.z)


def test_generator_plants_mixture_design():
    quick = cells.draw(1, np.arange(9_478))
    # dataset 0 holds only type 0, dataset 1 only type 1, dataset 2 both
    assert set(quick.cell_type[quick.batch == 0]) == {0}
    assert set(quick.cell_type[quick.batch == 1]) == {1}
    assert set(quick.cell_type[quick.batch == 2]) == {0, 1}
    assert abs(np.mean(quick.batch == 2) - cells.MIXED_SHARE) < 0.02
