"""Kinematics stage: velocity / acceleration via window lag-differences (W1),
optional Savitzky–Golay smoothing (W6), speed/acceleration caps (P6).

Re-expresses /root/reference/unravel/soccer/dataset/kloppy_polars.py:313-491
and unravel/soccer/dataset/utils.py:6-39 Spark-first: the diff/divide/fill
chain is pure Catalyst window work (whole-stage codegen, one shuffle on the
(id, period) partition key shared by both stages); only the polynomial
smoothing needs Python, as an Arrow grouped-map over (id, period) series. Its
output carries no partitioning, so smoothing costs the acceleration window one
more (id, period) shuffle.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.savgol import savgol_filter
from ..schema import BALL, Column, Group

#: reference defaults (kloppy_polars.py:31-32)
DEFAULT_PLAYER_SMOOTHING = {"window_length": 7, "polyorder": 1}
DEFAULT_BALL_SMOOTHING = {"window_length": 3, "polyorder": 1}

def _obj_window():
    return Window.partitionBy(Column.OBJECT_ID, Column.PERIOD_ID).orderBy(
        F.asc_nulls_last(Column.TIMESTAMP), F.asc_nulls_last(Column.TEAM_ID)
    )


def add_velocity(
    df: DataFrame,
    player_smoothing: dict | None = DEFAULT_PLAYER_SMOOTHING,
    ball_smoothing: dict | None = DEFAULT_BALL_SMOOTHING,
) -> DataFrame:
    """vx/vy/vz/v from per-object lag differences; keeps the `dt` column for
    the acceleration stage (dropped by `finalize_kinematics`)."""
    w = _obj_window()
    lag = lambda c: F.lag(c).over(w)  # noqa: E731
    secs = F.col(Column.TIMESTAMP) / 1000.0
    df = (
        df.withColumn("dx", F.col(Column.X) - lag(Column.X))
        .withColumn("dy", F.col(Column.Y) - lag(Column.Y))
        .withColumn("dz", F.col(Column.Z) - lag(Column.Z))
        .withColumn("dt", secs - F.lag(secs).over(w))
        .withColumn(Column.VX, F.coalesce(F.col("dx") / F.col("dt"), F.lit(0.0)))
        .withColumn(Column.VY, F.coalesce(F.col("dy") / F.col("dt"), F.lit(0.0)))
        .withColumn(Column.VZ, F.coalesce(F.col("dz") / F.col("dt"), F.lit(0.0)))
    )
    if player_smoothing or ball_smoothing:
        df = _smooth_velocity(df, player_smoothing, ball_smoothing)
    return df.withColumn(
        Column.SPEED,
        F.sqrt(F.col(Column.VX) ** 2 + F.col(Column.VY) ** 2 + F.col(Column.VZ) ** 2),
    )


def _smooth_velocity(df: DataFrame, player_smoothing, ball_smoothing) -> DataFrame:
    for params in (player_smoothing, ball_smoothing):
        if params and ("window_length" not in params or "polyorder" not in params):
            raise ValueError("smoothing params require 'window_length' and 'polyorder'")
    out_schema = df.schema

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(Column.TIMESTAMP, kind="stable")
        params = ball_smoothing if (pdf[Column.TEAM_ID].iloc[0] == BALL) else player_smoothing
        if params:
            for c in (Column.VX, Column.VY, Column.VZ):
                pdf[c] = savgol_filter(
                    pdf[c].to_numpy(), params["window_length"], params["polyorder"]
                )
        return pdf

    return df.groupBy(Column.OBJECT_ID, Column.PERIOD_ID).applyInPandas(smooth, out_schema)


def add_acceleration(df: DataFrame) -> DataFrame:
    """ax/ay/az/a from velocity lag differences over the same window; reuses
    the `dt` column computed by `add_velocity`."""
    w = _obj_window()
    lag = lambda c: F.lag(c).over(w)  # noqa: E731
    return (
        df.withColumn(Column.AX, F.coalesce((F.col(Column.VX) - lag(Column.VX)) / F.col("dt"), F.lit(0.0)))
        .withColumn(Column.AY, F.coalesce((F.col(Column.VY) - lag(Column.VY)) / F.col("dt"), F.lit(0.0)))
        .withColumn(Column.AZ, F.coalesce((F.col(Column.VZ) - lag(Column.VZ)) / F.col("dt"), F.lit(0.0)))
        .withColumn(
            Column.ACCELERATION,
            F.sqrt(F.col(Column.AX) ** 2 + F.col(Column.AY) ** 2 + F.col(Column.AZ) ** 2),
        )
    )


def apply_speed_acceleration_filters(
    df: DataFrame,
    max_ball_speed: float,
    max_player_speed: float,
    max_ball_acceleration: float,
    max_player_acceleration: float,
) -> DataFrame:
    """P6 conditional caps (soccer/dataset/utils.py:6-39)."""
    is_ball = F.col(Column.OBJECT_ID) == BALL
    df = df.withColumn(
        Column.SPEED,
        F.when(is_ball & (F.col(Column.SPEED) > max_ball_speed), max_ball_speed)
        .when(~is_ball & (F.col(Column.SPEED) > max_player_speed), max_player_speed)
        .otherwise(F.col(Column.SPEED)),
    )
    return df.withColumn(
        Column.ACCELERATION,
        F.when(is_ball & (F.col(Column.ACCELERATION) > max_ball_acceleration), max_ball_acceleration)
        .when(~is_ball & (F.col(Column.ACCELERATION) > max_player_acceleration), max_player_acceleration)
        .otherwise(F.col(Column.ACCELERATION)),
    )


def finalize_kinematics(df: DataFrame) -> DataFrame:
    """Drop the temp diff columns (reference kloppy_polars.py:893) and rows
    where both x and y are null (P2, :894)."""
    df = df.drop("dx", "dy", "dz", "dt")
    return df.filter(~(F.col(Column.X).isNull() & F.col(Column.Y).isNull()))
