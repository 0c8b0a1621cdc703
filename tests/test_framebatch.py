"""Frame-batch splitter (models/framebatch.py) on plain pandas frames: the
in-group sort and the cut into runs that every model kernel relies on."""

import numpy as np
import pandas as pd

from unravelsports_spark.models.efpi import _FRAME_RUNS, _segment_runs
from unravelsports_spark.models.framebatch import Runs


def _ids(runs):
    return [list(r["id"]) for r in runs]


def test_sort_ties_break_by_object_id_then_input_order():
    pdf = pd.DataFrame({
        "frame_id": [2, 1, 1, 1, 1, 2],
        "key": [0, 0, 0, 0, 0, 0],
        "id": ["c", "b", "a", "b", "c", "a"],
        "tag": [0, 1, 2, 3, 4, 5],
    })
    runs = list(Runs(["frame_id", "key", "id"], ["frame_id"], ["id", "tag"]).split(pdf))
    assert _ids(runs) == [["a", "b", "b", "c"], ["a", "c"]]
    # equal on every sort key: input order kept (stable sort)
    assert list(runs[0]["tag"]) == [2, 1, 3, 4]


def test_null_orient_keys_sort_last_in_mixed_order():
    # pressing intensity's spec: frame ascending, orient key descending
    # (True before False), ball rows (null key) last, object id ascending
    pdf = pd.DataFrame({
        "frame_id": [7, 7, 7, 7, 7],
        "_orient_key": [None, False, True, False, True],
        "id": ["ball", "d2", "a2", "d1", "a1"],
    })
    spec = Runs(
        sort_by=["frame_id", "_orient_key", "id"],
        ascending=[True, False, True],
        split_on=["frame_id"],
        columns=["id"],
    )
    assert _ids(spec.split(pdf)) == [["a1", "a2", "d1", "d2", "ball"]]


def test_runs_of_different_sizes_with_one_row_run():
    pdf = pd.DataFrame({
        "frame_id": [3, 1, 2, 3, 1, 1, 3, 3],
        "id": list("abcdefgh"),
        "x": np.arange(8.0),
    })
    runs = list(Runs(["frame_id", "id"], ["frame_id"], ["id", "x"]).split(pdf))
    assert [len(r["id"]) for r in runs] == [3, 1, 4]
    assert [r["frame_id"][0] for r in runs] == [1, 2, 3]
    assert list(runs[1]["x"]) == [2.0]
    assert all(isinstance(v, np.ndarray) for r in runs for v in r.values())
    assert list(Runs(["frame_id"], ["frame_id"], ["id"]).split(pdf.iloc[:0])) == []


def test_efpi_frame_runs_read_keys_from_arrays():
    pdf = pd.DataFrame({
        "game_id": ["g"] * 4, "period_id": [1, 1, 2, 2], "frame_id": [11, 10, 20, 10],
        "x": [0.0] * 4, "y": [0.0] * 4, "team_id": ["h"] * 4,
        "ball_owning_team_id": ["h"] * 4, "id": ["p2", "p1", "p1", "p3"],
        "position_name": ["CB"] * 4,
    })
    runs = list(_FRAME_RUNS.split(pdf))
    keys = [(r["game_id"][0], r["period_id"][0], r["frame_id"][0]) for r in runs]
    assert keys == [("g", 1, 10), ("g", 1, 11), ("g", 2, 20)]
    assert _ids(runs) == [["p1", "p3"], ["p2"], ["p1"]]


def test_efpi_segment_split_on_owning_team_alone():
    # one period and one duration bucket, possession changes hands: the
    # owning team alone starts a new segment run; null owners group together
    pdf = pd.DataFrame({
        "game_id": ["g"] * 6, "period_id": [1] * 6, "duration_id": [0] * 6,
        "ball_owning_team_id": ["away", "home", "away", None, "home", None],
        "id": ["a", "b", "c", "d", "e", "f"],
        "x": [0.0] * 6, "y": [0.0] * 6, "team_id": ["home"] * 6,
        "position_name": ["CB"] * 6,
    })
    runs = list(_segment_runs(["duration_id"]).split(pdf))
    assert [r["ball_owning_team_id"][0] for r in runs] == ["away", "home", None]
    assert _ids(runs) == [["a", "c"], ["b", "e"], ["d", "f"]]
    assert all(set(r) >= {"game_id", "period_id", "duration_id"} for r in runs)
