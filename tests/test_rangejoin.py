"""Bucketed range-lookup join unit tests: the equi-bucket
decomposition must agree with naive interval semantics (inclusive
bounds, overlaps, unmatched keys) and must NOT plan a nested-loop
join — the reason it exists."""

import pytest
from pyspark.sql import functions as F

from surfactant_spark.operators.rangejoin import bucketed_range_join


def _dims(spark, rows):
    return spark.createDataFrame(rows, "lo long, hi long, label string")


def _facts(spark, keys):
    return spark.createDataFrame([(i, k) for i, k in enumerate(keys)], "fid long, key long")


def test_matches_naive_semantics_inclusive_bounds_and_overlap(spark):
    dims = _dims(
        spark,
        [
            (0, 99_999, "a"),  # within one bucket
            (100_000, 400_000, "b"),  # spans multiple 2^16 buckets
            (350_000, 500_000, "c"),  # overlaps b: both must match
        ],
    )
    keys = [0, 99_999, 100_000, 360_000, 500_000, 500_001, 999_999]
    got = sorted(
        (r.fid, r.key, r.label)
        for r in bucketed_range_join(_facts(spark, keys), dims, "key").collect()
    )
    # python naive replay
    drows = [(0, 99_999, "a"), (100_000, 400_000, "b"), (350_000, 500_000, "c")]
    want = []
    for i, k in enumerate(keys):
        hits = [lb for lo, hi, lb in drows if lo <= k <= hi]
        for lb in hits or [None]:
            want.append((i, k, lb))
    assert got == sorted(want)
    # and there are both an overlap double-match and a null miss in it
    assert (3, 360_000, "b") in got and (3, 360_000, "c") in got
    assert (6, 999_999, None) in got


def test_inner_mode_drops_unmatched(spark):
    dims = _dims(spark, [(10, 20, "x")])
    got = bucketed_range_join(
        _facts(spark, [15, 25]), dims, "key", how="inner"
    ).collect()
    assert [(r.key, r.label) for r in got] == [(15, "x")]


def test_fanout_guard_raises_on_missized_buckets(spark):
    wide = _dims(spark, [(0, (1 << 16) * 5000, "huge")])
    with pytest.raises(ValueError, match="max_fanout"):
        bucketed_range_join(_facts(spark, [1]), wide, "key", max_fanout=4096)
    with pytest.raises(ValueError, match="bucket_bits"):
        bucketed_range_join(_facts(spark, [1]), wide, "key", bucket_bits=0)


def test_negative_keys_and_bounds_match_naive(spark):
    """Intervals with lo < 0 <= hi, wholly negative ones and an empty
    one (hi < lo) give exactly the naive BETWEEN join's rows."""
    drows = [
        (-70_000, 5, "straddle"),  # lo < 0 <= hi, two buckets below zero
        (-200_000, -100_000, "negative"),
        (-3, -3, "point"),
        (50, 10, "empty"),  # hi < lo: matches nothing
        (131_072, 200_000, "positive"),
    ]
    keys = [-250_000, -150_000, -70_001, -70_000, -65_537, -3, 0, 5, 6, 10, 30, 150_000]
    got = sorted(
        (r.fid, r.key, r.label)
        for r in bucketed_range_join(_facts(spark, keys), _dims(spark, drows), "key").collect()
    )
    want = []
    for i, k in enumerate(keys):
        hits = [lb for lo, hi, lb in drows if lo <= k <= hi]
        for lb in hits or [None]:
            want.append((i, k, lb))
    assert got == sorted(want, key=lambda r: (r[0], r[1], r[2] or ""))
    assert (3, -70_000, "straddle") in got and (7, 5, "straddle") in got
    # the guard counts bucket ids, below zero too
    wide = _dims(spark, [(-(1 << 16) * 5000, 0, "huge")])
    with pytest.raises(ValueError, match="max_fanout"):
        bucketed_range_join(_facts(spark, [1]), wide, "key", max_fanout=4096)


def test_plan_is_equi_join_not_nested_loop(spark):
    dims = _dims(spark, [(0, 99_999, "a"), (100_000, 400_000, "b")])
    df = bucketed_range_join(_facts(spark, [5, 150_000]), dims, "key")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert any(
        j in plan for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )
