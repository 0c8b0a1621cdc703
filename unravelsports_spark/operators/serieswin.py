"""Two-level decompositions for ordered-series windows over LOW-CARDINALITY
series keys (VERDICT r14 #3; guide §2.5 skew/funnel).

``Window.partitionBy(series_key)`` plans ONE reducer per key value: with a
handful of event types, three tasks sort the entire table at any scale —
the same funnel the r14 w7/w8/pack_sequences rewrites removed for global
windows. Both operators here shard each series into fixed-boundary ranges
of the (integral) order column — ``bucket = (order - min) div width``, a
pure projection, no sampling — run the window WITHIN (key, bucket), and
restore exactness across bucket boundaries with O(#buckets)-sized carry
state:

- :func:`moving_sum_count` (w10 shape — ROWS [k PRECEDING, CURRENT]): a
  frame reaches at most ``lookback`` rows behind, so the only cross-bucket
  state is each bucket's last ``lookback`` rows. Those tail rows (≤ k per
  bucket) are numbered per key, and each bucket's entry carry is the sum /
  count of the ≤ k tail rows immediately preceding its first row — joined
  back broadcast and added to the in-bucket running frame for the first
  ``k`` rows of every bucket. A non-tail row can never be among the k rows
  preceding a later bucket (its own bucket holds ≥ k rows after it), so
  the tail table is sufficient.
- :func:`gap_neighbors` (w9 shape — nearest non-null neighbor + global row
  number): per bucket, an in-bucket IGNORE-NULLS running pass resolves
  neighbors for rows whose nearest non-null lies inside the bucket; a
  per-bucket aggregate (row count, first/last non-null with local row
  number) feeds a bucket-table-sized prefix pass (per key, ordered by
  bucket) that produces each bucket's row-number offset and its
  entry/exit carries — the nearest non-null BEFORE the bucket and AFTER
  it. ``coalesce(in_bucket, carry)`` is then exact for every row, and
  ``rn = offset + local_rn`` reproduces the global row number.

Both fall back to the naive single window when the order column is not an
integral type, holds NULLs, or the frame is empty — the decomposition's
bucket arithmetic is only defined there (same guard discipline as
``operators/packing.py``). Every step is either exact integer arithmetic
or evaluates the SAME IEEE/decimal expressions on the same operands, so
results are bit-identical to the single-window form (equivalence-swept in
``tests/test_serieswin.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}

#: fixed prefix-sum fan-out; reducers per series key = min(n_ranges, span).
#: Like packing.py this only controls parallelism — results are invariant.
DEFAULT_RANGES = 64


def _bucketed(df: DataFrame, order_col: str, n_ranges: int):
    """Attach the fixed-boundary range bucket ``_skb``; returns ``None``
    when the decomposition's preconditions fail (caller falls back)."""
    if dict(df.dtypes).get(order_col) not in _INTEGRAL:
        return None
    mm = df.agg(
        F.min(order_col).alias("lo"),
        F.max(order_col).alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.count(order_col).alias("nn"),
    ).first()
    if mm["lo"] is None or mm["n"] != mm["nn"]:
        return None  # empty input or NULL order values: take the naive path
    lo, span = int(mm["lo"]), int(mm["hi"]) - int(mm["lo"]) + 1
    width = max(1, -(-span // int(n_ranges)))
    qcol = "`" + order_col.replace("`", "``") + "`"
    return df.withColumn(
        "_skb", F.expr(f"(CAST({qcol} AS BIGINT) - {lo}L) div {width}L")
    )


def moving_sum_count(
    df: DataFrame,
    part_col: str,
    order_col: str,
    value: Column,
    lookback: int,
    out_sum: str = "win_sum",
    out_n: str = "win_n",
    n_ranges: int | None = DEFAULT_RANGES,
) -> DataFrame:
    """``SUM(value) / COUNT(*) OVER (PARTITION BY part ORDER BY order ROWS
    BETWEEN lookback PRECEDING AND CURRENT ROW)`` without a per-key-value
    reducer funnel. Output columns ride on the input rows."""
    w_naive = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(-lookback, Window.currentRow)
    )

    def naive():
        return df.withColumn(out_sum, F.sum(value).over(w_naive)).withColumn(
            out_n, F.count(F.lit(1)).over(w_naive)
        )

    b = _bucketed(df, order_col, n_ranges) if n_ranges else None
    if b is None:
        return naive()
    d = b.withColumn("_sv", value)
    keys = [part_col, "_skb"]
    w_frame = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(-lookback, Window.currentRow)
    )
    w_rn = Window.partitionBy(*keys).orderBy(order_col)
    w_drn = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    rows = (
        d.withColumn("_lsum", F.sum("_sv").over(w_frame))
        .withColumn("_lcnt", F.count(F.lit(1)).over(w_frame))
        .withColumn("_lrn", F.row_number().over(w_rn))
        .withColumn("_tdrn", F.row_number().over(w_drn))
    )
    # per-bucket tails (≤ lookback rows each) numbered across buckets per key
    tails = rows.filter(F.col("_tdrn") <= lookback).select(
        part_col, "_skb", order_col, "_sv"
    )
    w_t = Window.partitionBy(part_col).orderBy("_skb", order_col)
    tails = tails.withColumn("_trn", F.row_number().over(w_t))
    ft = tails.groupBy(part_col, "_skb").agg(F.min("_trn").alias("_ft"))
    t2, f2 = tails.alias("t"), ft.alias("f")
    prev = t2.join(
        f2,
        (F.col(f"t.{part_col}") == F.col(f"f.{part_col}"))
        & (F.col("t._trn") >= F.col("f._ft") - lookback)
        & (F.col("t._trn") <= F.col("f._ft") - 1),
    ).select(
        F.col(f"f.{part_col}").alias("_p"),
        F.col("f._skb").alias("_b"),
        F.col("t._trn").alias("_trn"),
        F.col("t._sv").alias("_sv"),
    )
    w_r = Window.partitionBy("_p", "_b").orderBy(F.col("_trn").desc())
    prev = prev.withColumn("_r", F.row_number().over(w_r))
    carry = prev.groupBy("_p", "_b").agg(
        *[
            F.sum(F.when(F.col("_r") <= m, F.col("_sv"))).alias(f"_cs{m}")
            for m in range(1, lookback + 1)
        ],
        *[
            F.count(F.when(F.col("_r") <= m, F.lit(1))).alias(f"_cc{m}")
            for m in range(1, lookback + 1)
        ],
    )
    joined = rows.join(
        F.broadcast(carry),
        (F.col(part_col) == F.col("_p")) & (F.col("_skb") == F.col("_b")),
        "left",
    )
    m = F.lit(lookback) - (F.col("_lrn") - 1)  # rows missing from the frame
    cs = F.lit(None)
    cc = F.lit(None)
    for k in range(1, lookback + 1):
        cs = F.when(m == k, F.col(f"_cs{k}")).otherwise(cs)
        cc = F.when(m == k, F.col(f"_cc{k}")).otherwise(cc)
    zero_n = F.lit(0).cast("long")
    return (
        joined.withColumn(
            out_sum,
            # NULL only when the in-bucket frame and the carry both are
            F.when(m <= 0, F.col("_lsum")).otherwise(
                F.coalesce(F.col("_lsum") + cs, F.col("_lsum"), cs)
            ),
        )
        .withColumn(
            out_n,
            F.when(m <= 0, F.col("_lcnt")).otherwise(
                F.col("_lcnt") + F.coalesce(cc, zero_n)
            ),
        )
        .drop(
            "_skb", "_sv", "_lsum", "_lcnt", "_lrn", "_tdrn", "_p", "_b",
            *[f"_cs{k}" for k in range(1, lookback + 1)],
            *[f"_cc{k}" for k in range(1, lookback + 1)],
        )
    )


def gap_neighbors(
    df: DataFrame,
    part_col: str,
    order_col: str,
    value_col: str,
    n_ranges: int | None = DEFAULT_RANGES,
) -> DataFrame:
    """Attach ``rn`` (row number per key over the order column) and the
    nearest non-null neighbors ``prev_v/prev_rn/next_v/next_rn`` — the w9
    interpolation inputs — without a per-key-value reducer funnel."""

    def naive():
        w_rn = Window.partitionBy(part_col).orderBy(order_col)
        wp = w_rn.rowsBetween(Window.unboundedPreceding, -1)
        wn = (
            Window.partitionBy(part_col)
            .orderBy(F.col(order_col).desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        v = F.col(value_col)
        # bigint like the decomposed path (offset sums are long there)
        out = df.withColumn("rn", F.row_number().over(w_rn).cast("bigint"))
        rn_if = F.when(v.isNotNull(), F.col("rn"))
        return (
            out.withColumn("prev_v", F.last(value_col, ignorenulls=True).over(wp))
            .withColumn("prev_rn", F.last(rn_if, ignorenulls=True).over(wp))
            .withColumn("next_v", F.last(value_col, ignorenulls=True).over(wn))
            .withColumn("next_rn", F.last(rn_if, ignorenulls=True).over(wn))
        )

    b = _bucketed(df, order_col, n_ranges) if n_ranges else None
    if b is None:
        return naive()
    v = F.col(value_col)
    keys = [part_col, "_skb"]
    w_asc = Window.partitionBy(*keys).orderBy(order_col)
    w_asc_prec = w_asc.rowsBetween(Window.unboundedPreceding, -1)
    w_desc = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    w_desc_prec = w_desc.rowsBetween(Window.unboundedPreceding, -1)
    rows = b.withColumn("_lrn", F.row_number().over(w_asc))
    lrn_if = F.when(v.isNotNull(), F.col("_lrn"))
    rows = (
        rows.withColumn("_pv", F.last(value_col, ignorenulls=True).over(w_asc_prec))
        .withColumn("_pl", F.last(lrn_if, ignorenulls=True).over(w_asc_prec))
        .withColumn("_nv", F.last(value_col, ignorenulls=True).over(w_desc_prec))
        .withColumn("_nl", F.last(lrn_if, ignorenulls=True).over(w_desc_prec))
    )
    # O(#buckets) state per key: row count + first/last non-null with local rn
    bk = rows.groupBy(part_col, "_skb").agg(
        F.count(F.lit(1)).alias("_c"),
        F.max(F.when(v.isNotNull(), F.struct(F.col("_lrn"), v.alias("_v")))).alias(
            "_lastnn"
        ),
        F.min(F.when(v.isNotNull(), F.struct(F.col("_lrn"), v.alias("_v")))).alias(
            "_firstnn"
        ),
    )
    w_b_asc = Window.partitionBy(part_col).orderBy("_skb")
    w_b_asc_prec = w_b_asc.rowsBetween(Window.unboundedPreceding, -1)
    w_b_desc_prec = (
        Window.partitionBy(part_col)
        .orderBy(F.col("_skb").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bk = bk.withColumn(
        "_off", F.coalesce(F.sum("_c").over(w_b_asc_prec), F.lit(0)).cast("bigint")
    )
    gl_last = F.when(
        F.col("_lastnn").isNotNull(),
        F.struct(
            (F.col("_off") + F.col("_lastnn._lrn")).alias("rn"),
            F.col("_lastnn._v").alias("v"),
        ),
    )
    gl_first = F.when(
        F.col("_firstnn").isNotNull(),
        F.struct(
            (F.col("_off") + F.col("_firstnn._lrn")).alias("rn"),
            F.col("_firstnn._v").alias("v"),
        ),
    )
    bk = bk.withColumn("_gl_last", gl_last).withColumn("_gl_first", gl_first)
    bk = bk.withColumn(
        "_carry_prev", F.last("_gl_last", ignorenulls=True).over(w_b_asc_prec)
    ).withColumn(
        "_carry_next", F.last("_gl_first", ignorenulls=True).over(w_b_desc_prec)
    )
    bk = bk.select(
        F.col(part_col).alias("_p"),
        F.col("_skb").alias("_b"),
        "_off",
        "_carry_prev",
        "_carry_next",
    )
    joined = rows.join(
        F.broadcast(bk),
        (F.col(part_col) == F.col("_p")) & (F.col("_skb") == F.col("_b")),
    )
    return (
        joined.withColumn("rn", (F.col("_off") + F.col("_lrn")))
        .withColumn("prev_v", F.coalesce(F.col("_pv"), F.col("_carry_prev.v")))
        .withColumn(
            "prev_rn",
            F.coalesce(F.col("_off") + F.col("_pl"), F.col("_carry_prev.rn")),
        )
        .withColumn("next_v", F.coalesce(F.col("_nv"), F.col("_carry_next.v")))
        .withColumn(
            "next_rn",
            F.coalesce(F.col("_off") + F.col("_nl"), F.col("_carry_next.rn")),
        )
        .drop(
            "_skb", "_lrn", "_pv", "_pl", "_nv", "_nl", "_p", "_b", "_off",
            "_carry_prev", "_carry_next",
        )
    )
