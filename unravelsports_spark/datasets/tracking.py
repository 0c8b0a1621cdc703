"""TrackingDataset: the full ingest pipeline + ML dataset utilities.

`load_wide` mirrors KloppyPolarsDataset.load() (/root/reference/unravel/
soccer/dataset/kloppy_polars.py:813-921) as a linear Spark pipeline:
melt → velocity → acceleration → caps → cleanup → possession/carrier
inference → orientation flip → GK inference → dedup + sort. Every stage
except Savitzky–Golay smoothing is pure Catalyst.

Dataset utilities mirror unravel/utils/utils.py:41-78 and
unravel/utils/objects/graph_dataset.py:120-384:

- add_dummy_labels / add_graph_ids
- leakage-safe splits. The reference shuffles distinct graph ids on the
  driver and greedily fills buckets; at 100 TB that list doesn't fit — we
  split by seeded hash of graph_id instead, which is leakage-safe by
  construction, deterministic, and needs no driver materialization
  (documented divergence: same guarantees, different RNG).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.kinematics import (
    DEFAULT_BALL_SMOOTHING,
    DEFAULT_PLAYER_SMOOTHING,
    add_acceleration,
    add_velocity,
    apply_speed_acceleration_filters,
    finalize_kinematics,
)
from ..operators.melt import TrackedObject, melt_wide_tracking
from ..operators.orientation import convert_orientation_to_ball_owning
from ..operators.possession import infer_ball_ownership, infer_goalkeepers
from ..schema import Column, Group
from ..settings import DefaultSettings


@dataclass
class TrackingDataset:
    data: DataFrame
    settings: DefaultSettings = field(default_factory=DefaultSettings)

    @classmethod
    def load_wide(
        cls,
        wide_df: DataFrame,
        objects: Iterable[TrackedObject],
        settings: DefaultSettings,
        game_id: str = "game",
        player_smoothing: Optional[dict] = DEFAULT_PLAYER_SMOOTHING,
        ball_smoothing: Optional[dict] = DEFAULT_BALL_SMOOTHING,
        orient_ball_owning: bool = True,
        infer_goalkeepers_flag: bool = False,
    ) -> "TrackingDataset":
        df = melt_wide_tracking(wide_df, objects, game_id)
        df = add_velocity(df, player_smoothing, ball_smoothing)
        df = add_acceleration(df)
        df = apply_speed_acceleration_filters(
            df,
            max_ball_speed=settings.max_ball_speed,
            max_player_speed=settings.max_player_speed,
            max_ball_acceleration=settings.max_ball_acceleration,
            max_player_acceleration=settings.max_player_acceleration,
        )
        df = finalize_kinematics(df)
        df = infer_ball_ownership(df, settings.ball_carrier_threshold)
        if orient_ball_owning:
            df = convert_orientation_to_ball_owning(df, settings.home_team_id)
            settings.orientation = "BALL_OWNING_TEAM"
        if infer_goalkeepers_flag:
            df = infer_goalkeepers(df, settings.pitch_dimensions.pitch_length)
        # game_id is one literal here; keying on it lets the dedup reuse the
        # frame partitioning of the ownership window instead of a new shuffle
        df = df.dropDuplicates([Column.GAME_ID, Column.OBJECT_ID, Column.FRAME_ID, Column.PERIOD_ID])
        return cls(data=df, settings=settings)

    # -- ML utilities -------------------------------------------------------

    def add_dummy_labels(self, by: Optional[list] = None, random_seed: int = 42) -> "TrackingDataset":
        by = by or [Column.GAME_ID, Column.FRAME_ID]
        label = (F.abs(F.xxhash64(*by, F.lit(random_seed))) % 2).cast("long")
        self.data = self.data.withColumn(Column.LABEL, label)
        return self

    def add_graph_ids(self, by: Optional[list] = None) -> "TrackingDataset":
        by = by or [Column.GAME_ID, Column.FRAME_ID]
        self.data = self.data.withColumn(Column.GRAPH_ID, F.concat_ws("-", *by))
        return self


def split_by_graph_id(
    df: DataFrame,
    graph_id_col: str = Column.GRAPH_ID,
    train: float = 0.8,
    test: float = 0.1,
    val: float = 0.1,
    seed: int = 42,
) -> dict[str, DataFrame]:
    """Leakage-safe train/test/val split: every row of a graph_id lands in
    exactly one bucket, decided by a seeded hash — no driver-side id list, so
    it scales to any number of graphs."""
    total = train + test + val
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    bucket = (F.abs(F.xxhash64(F.col(graph_id_col), F.lit(seed))) % 1_000_000) / 1_000_000.0
    return {
        "train": df.filter(bucket < train),
        "test": df.filter((bucket >= train) & (bucket < train + test)),
        "val": df.filter(bucket >= train + test),
    }


def rebalance_labels(
    df: DataFrame,
    target_ratio: float,
    graph_id_col: str = Column.GRAPH_ID,
    label_col: str = Column.LABEL,
    seed: int = 42,
    tolerance: float = 0.01,
) -> DataFrame:
    """Downsample whole graphs of the over-represented label class so the
    positive-label ratio ≈ ``target_ratio`` — the reference's
    ``GraphDataset._balance_labels`` (graph_dataset.py:318-384) re-expressed
    for scale: per-label graph counts are a 2-row aggregate, the kept set is
    an exact seeded-rank cut over the distinct-graph table (one small
    shuffle), and rows follow via a semi-join. Target counts use the same
    ``int()`` arithmetic as the reference, so kept-graph counts match it
    exactly for the same inputs.
    """
    from pyspark.sql import Window

    if not 0 <= target_ratio <= 1:
        raise ValueError("target_ratio must be between 0 and 1")
    is_one = (F.col(label_col).cast("double") > 0.5).cast("int")
    graphs = df.select(graph_id_col, is_one.alias("_lbl")).distinct()
    counts = {r["_lbl"]: r["n"] for r in graphs.groupBy("_lbl").agg(F.count("*").alias("n")).collect()}
    n0, n1 = counts.get(0, 0), counts.get(1, 0)
    total = n0 + n1
    current = n1 / total if total else 0.0
    if abs(current - target_ratio) < tolerance:
        return df
    if current > target_ratio:
        target = {0: n0, 1: int(n0 * target_ratio / (1 - target_ratio))}
    else:
        target = {0: int(n1 * (1 - target_ratio) / target_ratio), 1: n1}
    w = Window.partitionBy("_lbl").orderBy(
        F.xxhash64(F.col(graph_id_col), F.lit(seed)), F.col(graph_id_col)
    )
    target_expr = F.when(F.col("_lbl") == 0, target[0]).otherwise(target[1])
    keep = (
        graphs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= target_expr)
        .select(graph_id_col)
    )
    return df.join(keep, on=graph_id_col, how="left_semi")


def split_by_graph_id_stratified(
    df: DataFrame,
    graph_id_col: str = Column.GRAPH_ID,
    label_col: str = Column.LABEL,
    train: float = 0.8,
    test: float = 0.1,
    val: float = 0.1,
    seed: int = 42,
    label_ratios: Optional[dict] = None,
) -> dict[str, DataFrame]:
    """Leakage-safe split with per-label exact fractions (the reference's
    label-ratio rebalancing, graph_dataset.py:240-384): rank each label
    stratum's graphs by seeded hash, cut at the fraction boundaries, join the
    assignment back. Two shuffles over the distinct-graph table only."""
    from pyspark.sql import Window

    if abs(train + test + val - 1.0) > 1e-9:
        raise ValueError("split fractions must sum to 1")
    graphs = df.select(graph_id_col, label_col).distinct()
    w = Window.partitionBy(label_col).orderBy(
        F.xxhash64(F.col(graph_id_col), F.lit(seed)), F.col(graph_id_col)
    )
    ranked = graphs.withColumn("_pr", F.percent_rank().over(w))
    assign = ranked.withColumn(
        "_split",
        F.when(F.col("_pr") < train, "train")
        .when(F.col("_pr") < train + test, "test")
        .otherwise("val"),
    ).select(graph_id_col, "_split")
    joined = df.join(assign, on=graph_id_col, how="left")
    splits = {
        name: joined.filter(F.col("_split") == name).drop("_split")
        for name in ("train", "test", "val")
    }
    if label_ratios:
        # reference split_test_train_validation(train_label_ratio=..., ...):
        # rebalance each split independently after the leakage-safe cut
        for name, ratio in label_ratios.items():
            if name not in splits:
                raise ValueError(f"unknown split {name!r} in label_ratios")
            if ratio is not None:
                splits[name] = rebalance_labels(
                    splits[name], ratio, graph_id_col, label_col, seed
                )
    return splits
