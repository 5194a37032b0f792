"""Unit tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
from decimal import Decimal

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from checks import (  # noqa: E402
    approx_equal, canonical_rows, floats_close, jaccard, percentile, result_hash,
    shingles, tail_percentile,
)
from datagen import make_documents, make_events  # noqa: E402
from spans import Job, Span, attribute_jobs, parse_description, self_times, union_length  # noqa: E402
from workloads import same_rows  # noqa: E402


# -- percentile rule -----------------------------------------------------------

def test_tail_percentile_needs_ten_samples_beyond():
    # 19 samples: even p50 has only 9.5 beyond it
    assert tail_percentile([float(i) for i in range(19)]) == {"p": None, "value": None, "n": 19}
    # 20 samples: p50 qualifies (10 beyond), p75 does not (5 beyond)
    t = tail_percentile([float(i) for i in range(20)])
    assert (t["p"], t["n"]) == (50.0, 20)
    # 100 samples: p90 has exactly 10 beyond, p95 only 5
    t = tail_percentile([float(i) for i in range(100)])
    assert (t["p"], t["value"], t["n"]) == (90.0, percentile(list(map(float, range(100))), 90.0), 100)
    # 1000 samples: p99 has 10 beyond
    assert tail_percentile([float(i) for i in range(1000)])["p"] == 99.0


def test_percentile_interpolates():
    assert percentile([1.0, 2.0, 3.0, 4.0], 50.0) == 2.5
    assert percentile([5.0], 90.0) == 5.0
    with pytest.raises(ValueError):
        percentile([], 50.0)


# -- self time -------------------------------------------------------------------

def _span(i, parent, t0, t1, op=1):
    return Span(id=i, parent=parent, name=f"s{i}", layer="x", op=op, t0=t0, t1=t1)


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert union_length([(1, 3), (2, 5)], 2.5, 4) == 1.5
    assert union_length([], 0, 10) == 0


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),   # overlaps span 2
        _span(4, 1, 5.0, 12.0),  # overlaps span 3 and outlives its parent
        _span(5, 2, 1.5, 2.0),   # grandchild: covered by span 2 already
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 9.0)   # children cover [1, 10]
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[5] == pytest.approx(0.5)


def test_self_time_ignores_concurrent_spans_of_other_clients():
    # two clients' statements overlap in time; neither is the other's child
    spans = [
        _span(1, None, 0.0, 4.0, op=1), _span(2, 1, 0.0, 1.0, op=1),
        _span(3, None, 0.5, 3.0, op=3), _span(4, 3, 0.5, 3.0, op=3),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.0)


# -- job attribution -------------------------------------------------------------

def _job(desc, submit=0):
    return Job(span=parse_description(desc), submit_ms=submit, first_task_ms=submit + 1,
               tasks=2, run_ms=4, shuffle_bytes=0, spill_bytes=0)


def test_jobs_attributed_by_description():
    spans = [_span(7, None, 0, 1), _span(8, 7, 0, 1)]
    jobs = [_job("pb:7"), _job("pb:8"), _job("pb:8"), _job(None), _job("other"), _job("pb:99")]
    got = attribute_jobs(jobs, spans)
    assert {k: len(v) for k, v in got.items()} == {7: 1, 8: 2}
    assert parse_description("pb:x") is None


# -- result hash -----------------------------------------------------------------

def test_hash_is_order_insensitive_and_width_independent():
    a = pa.table({"k": pa.array([1, 2], pa.int32()), "v": pa.array([0.5, 1.25], pa.float32()),
                  "d": pa.array([Decimal("35.00"), Decimal("1.10")], pa.decimal128(10, 2))})
    b = pa.table({"v": pa.array([1.25, 0.5], pa.float64()), "k": pa.array([2, 1], pa.int64()),
                  "d": pa.array([Decimal("1.1000"), Decimal("35.0000")], pa.decimal128(38, 4))})
    assert result_hash(a) == result_hash(b)


def test_hash_separates_float_and_decimal_classes():
    f = pa.table({"x": pa.array([35.0], pa.float64())})
    d = pa.table({"x": pa.array([Decimal("35.00")], pa.decimal128(10, 2))})
    assert result_hash(f) != result_hash(d)
    assert not approx_equal(canonical_rows(f), canonical_rows(d))


def test_hash_sees_values_and_duplicates():
    base = pa.table({"x": [1, 1, 2]})
    assert result_hash(base) != result_hash(pa.table({"x": [1, 2, 2]}))
    assert result_hash(base) != result_hash(pa.table({"x": [1, 2]}))


def test_date_and_timestamp_share_a_class():
    import datetime

    d = pa.table({"day": pa.array([datetime.date(2024, 1, 2)])})
    t = pa.table({"day": pa.array([datetime.datetime(2024, 1, 2)], pa.timestamp("us"))})
    assert result_hash(d) == result_hash(t)


def test_float_noise_passes_only_the_fallback():
    spark_side = pa.table({"k": [1, 2], "avg": [0.04986213167074646, 161.940937]})
    duck_side = pa.table({"k": [2, 1], "avg": [161.940938, 0.04986213167074449]})
    assert result_hash(spark_side) != result_hash(duck_side)
    assert approx_equal(canonical_rows(spark_side), canonical_rows(duck_side))
    wrong = pa.table({"k": [2, 1], "avg": [161.94, 0.04986213167074449]})
    assert not approx_equal(canonical_rows(spark_side), canonical_rows(wrong))


def test_floats_close_bounds():
    assert floats_close(1.0, 1.0 + 1e-12)
    assert floats_close(2.123457, 2.123456)          # one unit of a 6-dp rounding
    assert not floats_close(2.123458, 2.123456)      # two units
    assert not floats_close(1.0000001, 1.0)          # not rounded, beyond 1e-9


def test_same_rows_ignores_order_and_timestamp_zone():
    ts = pa.array([0, 86_400_000_000], pa.timestamp("us"))
    a = pa.table({"event_id": [1, 2], "ts": ts, "v": [1.0, 2.0]})
    b = pa.table({"v": [2.0, 1.0], "event_id": [2, 1],
                  "ts": pa.array([86_400_000_000, 0], pa.timestamp("us", tz="UTC"))})
    assert same_rows(a, b, "event_id")
    assert not same_rows(a, b.set_column(0, "v", pa.array([2.0, 1.5])), "event_id")


def test_shingles_and_jaccard():
    assert shingles("  a b  c d ", 3) == {"a b c", "b c d"}
    assert shingles("a b", 3) == frozenset()
    assert shingles("a b c a b c", 3) == {"a b c", "b c a", "c a b"}
    long = " ".join(f"w{i}" for i in range(60))
    changed = long.rsplit(" ", 1)[0] + " other"
    # the last word touches one shingle of 58
    assert jaccard(shingles(long, 3), shingles(changed, 3)) == pytest.approx(57 / 59)
    assert jaccard(frozenset(), frozenset()) == 0.0


# -- inputs ------------------------------------------------------------------------

def test_generators_are_seeded():
    import numpy as np

    def docs_and_events(seed):
        rng = np.random.default_rng(seed)
        return make_documents(rng, 200), make_events(rng, 300)

    (da, ea), (db, eb), (dc, ec) = docs_and_events(3), docs_and_events(3), docs_and_events(4)
    assert da.equals(db) and ea.equals(eb)
    assert not ea.equals(ec) and not da.equals(dc)
    assert ea.column("event_id").to_pylist() == list(range(300))
