"""AmericanFootballGraphConverter on a small in-memory BigDataBowl-shaped
table (the columns `BigDataBowlDataset.load` produces), so the AF kernel is
covered without the reference CSV fixtures: frame-validity filters, node
order, output shapes and types, and the label / graph-id contract."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from unravelsports_spark.models.af_graph_converter import AmericanFootballGraphConverter
from unravelsports_spark.settings import (
    AmericanFootballGraphSettings,
    AmericanFootballPitchDimensions,
    Dimension,
)

_SCHEMA = (
    "game_id long, play_id long, frame_id long, id double, team_id string, "
    "x double, y double, v double, a double, o double, dir double, "
    "position_name string, height_cm double, weight_kg double, "
    "ball_owning_team_id string, label long, graph_id string"
)

_OFFENSE = [(46084.0, "QB"), (41265.0, "WR"), (52517.0, "RB"), (44849.0, "TE"), (47920.0, "C")]
_DEFENSE = [(53460.0, "CB"), (33131.0, "SS"), (44999.0, "FS"), (40042.0, "LB"), (46187.0, "DE")]


def _frame(game, play, frame, label, rng, objects=None, football=True):
    objects = objects or [("LV", p) for p in _OFFENSE] + [("BAL", p) for p in _DEFENSE]
    rows = []
    for team, (nfl_id, pos) in objects:
        rows.append((team, nfl_id, pos, 190.0, 100.0))
    if football:
        rows.append(("football", -9999.9, None, None, None))
    return [
        (game, play, play * 100_000 + frame, nfl_id, team,
         float(rng.uniform(-60, 60)), float(rng.uniform(-26, 26)),
         float(rng.uniform(0, 8)), float(rng.uniform(0, 4)),
         float(rng.uniform(-np.pi, np.pi)), float(rng.uniform(-np.pi, np.pi)),
         pos, h, w, "LV", label, f"{game}-{play}")
        for team, nfl_id, pos, h, w in rows
    ]


def _bdb(spark):
    rng = np.random.default_rng(5)
    rows = []
    for play, label in ((4845, 1), (5012, 0)):
        for frame in (1, 2):
            rows += _frame(2021091300, play, frame, label, rng)
    # dropped by the validity filters: too few objects, and no football
    rows += _frame(2021091300, 4845, 3, 1, rng, objects=[("LV", p) for p in _OFFENSE[:3]])
    rows += _frame(2021091300, 5012, 3, 0, rng, football=False)
    return spark.createDataFrame(rows, _SCHEMA)


def _settings():
    pitch = AmericanFootballPitchDimensions()
    length, width = pitch.pitch_length, pitch.pitch_width
    return AmericanFootballGraphSettings(
        pitch_dimensions=AmericanFootballPitchDimensions(
            pitch_length=length,
            pitch_width=width,
            x_dim=Dimension(-length / 2, length / 2),
            y_dim=Dimension(-width / 2, width / 2),
        )
    )


def test_af_conversion_in_memory(spark):
    out = AmericanFootballGraphConverter(_bdb(spark), _settings()).to_graph_frames()
    rows = sorted(out.collect(), key=lambda r: r.frame_id)
    assert [r.frame_id for r in rows] == [484500001, 484500002, 501200001, 501200002]
    for r in rows:
        assert (r.game_id, r.period_id) == ("2021091300", r.frame_id // 100_000)
        assert r.graph_id == f"2021091300-{r.period_id}"
        assert r.label == (1 if r.period_id == 4845 else 0)
        assert r.ball_owning_team_id == "LV"
        # split_by_team + ball connections: two 5x5 team blocks plus the
        # football row and column
        assert (r.a_shape_0, r.a_shape_1) == (11, 11)
        assert (r.x_shape_0, r.x_shape_1) == (11, 20)
        assert (r.e_shape_0, r.e_shape_1) == (71, 9)
        a = np.array(r.a)
        assert a.shape == (11, 11) and set(np.unique(a)) == {0.0, 1.0}
        assert int(a.sum()) == r.e_shape_0
        assert np.array(r.e).shape == (71, 9)
        assert np.isfinite(np.array(r.x)).all()
        # possession team ascending, then defense ascending, football last
        assert r.object_ids == [
            "41265.0", "44849.0", "46084.0", "47920.0", "52517.0",
            "33131.0", "40042.0", "44999.0", "46187.0", "53460.0",
            "-9999.9",
        ]


def test_af_prediction_nulls_label(spark):
    df = _bdb(spark).drop("label")
    with pytest.raises(ValueError, match="label"):
        AmericanFootballGraphConverter(df, _settings())
    out = AmericanFootballGraphConverter(df, _settings(), prediction=True).to_graph_frames()
    assert [r.label for r in out.collect()] == [None] * 4


def test_af_requires_graph_id_and_constant_label(spark):
    with pytest.raises(ValueError, match="graph_id"):
        AmericanFootballGraphConverter(_bdb(spark).drop("graph_id"), _settings())
    varying = _bdb(spark).withColumn("label", (F.col("id") > 0).cast("long"))
    out = AmericanFootballGraphConverter(varying, _settings()).to_graph_frames()
    with pytest.raises(Exception, match="label not constant within a frame group"):
        out.collect()
