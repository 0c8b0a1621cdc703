"""Equivalence sweep for the r15 two-level series-window decompositions
(operators/serieswin.py): for every n_ranges the decomposed moving-frame
and gap-neighbor operators must reproduce the naive single-window results
exactly — including sparse order domains, buckets holding fewer rows than
the frame, all-null buckets, leading/trailing null runs, and keys whose
series is shorter than the frame."""

import random

import pytest

from pyspark.sql import functions as F

from unravelsports_spark.operators.serieswin import gap_neighbors, moving_sum_count


def _series_df(spark, seed=11, n=400, sparse=True):
    rng = random.Random(seed)
    ids = sorted(rng.sample(range(0, 1_000_000 if sparse else n * 2), n))
    rows = []
    for i, oid in enumerate(ids):
        part = f"t{i % 3}"
        # null runs: every value whose id hits the mask, plus a leading run
        v = None if (oid % 5 == 0 or i < 4) else round(rng.uniform(0, 100), 2)
        rows.append((part, oid, v))
    # one key with fewer rows than any frame/bucket interaction
    rows += [("tiny", 7, 1.5), ("tiny", 900_001, None)]
    return spark.createDataFrame(rows, "event_type string, event_id bigint, value double")


def _canon(df, cols):
    # multiset compare via repr: rows may hold None, which Python can't sort
    return sorted(
        repr(tuple(round(x, 9) if isinstance(x, float) else x for x in r))
        for r in df.select(*cols).collect()
    )


@pytest.mark.parametrize("n_ranges", [1, 4, 64, 1000])
def test_moving_sum_count_equals_single_window(spark, n_ranges):
    df = _series_df(spark).filter(F.col("value").isNotNull())
    cols = ["event_type", "event_id", "win_sum", "win_n"]
    base = _canon(
        moving_sum_count(
            df, "event_type", "event_id", F.col("value").cast("decimal(18,2)"),
            lookback=3, n_ranges=None,
        ).withColumn("win_sum", F.col("win_sum").cast("double")),
        cols,
    )
    got = _canon(
        moving_sum_count(
            df, "event_type", "event_id", F.col("value").cast("decimal(18,2)"),
            lookback=3, n_ranges=n_ranges,
        ).withColumn("win_sum", F.col("win_sum").cast("double")),
        cols,
    )
    assert got == base, n_ranges


def test_moving_sum_count_null_values_across_buckets(spark):
    """NULL values (non-null order keys) at the head of a bucket: the frame
    sum there comes only from the carry, so a NULL in-bucket sum must not
    swallow it. Ids 5 and 6 are NULL; the frame at id 6 is ids 3..6 -> 7.0."""
    rows = [("a", i, None if i in (5, 6) else float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "event_type string, event_id bigint, value double")
    cols = ["event_type", "event_id", "win_sum", "win_n"]
    base = moving_sum_count(df, "event_type", "event_id", F.col("value"), 3, n_ranges=None)
    got = moving_sum_count(df, "event_type", "event_id", F.col("value"), 3, n_ranges=5)
    assert _canon(got, cols) == _canon(base, cols)
    assert got.filter("event_id = 6").first()["win_sum"] == 7.0


@pytest.mark.parametrize("n_ranges", [1, 4, 64, 1000])
def test_gap_neighbors_equals_single_window(spark, n_ranges):
    df = _series_df(spark)
    cols = ["event_type", "event_id", "rn", "prev_v", "prev_rn", "next_v", "next_rn"]
    base = _canon(gap_neighbors(df, "event_type", "event_id", "value", n_ranges=None), cols)
    got = _canon(gap_neighbors(df, "event_type", "event_id", "value", n_ranges=n_ranges), cols)
    assert got == base, n_ranges


def test_serieswin_null_order_falls_back(spark):
    """A NULL order value makes the bucket arithmetic undefined — the
    operators must take the naive path and still agree with it."""
    rows = [("a", 1, 1.0), ("a", None, 2.0), ("a", 3, None), ("b", 2, 4.0)]
    df = spark.createDataFrame(rows, "event_type string, event_id bigint, value double")
    cols = ["event_type", "event_id", "rn", "prev_v", "prev_rn", "next_v", "next_rn"]
    base = _canon(gap_neighbors(df, "event_type", "event_id", "value", n_ranges=None), cols)
    got = _canon(gap_neighbors(df, "event_type", "event_id", "value", n_ranges=64), cols)
    assert got == base
    mcols = ["event_type", "event_id", "win_sum", "win_n"]
    mbase = _canon(
        moving_sum_count(df, "event_type", "event_id", F.col("value"), 3, n_ranges=None), mcols
    )
    mgot = _canon(
        moving_sum_count(df, "event_type", "event_id", F.col("value"), 3, n_ranges=64), mcols
    )
    assert mgot == mbase
