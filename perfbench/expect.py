"""Expected outputs of the tracking pipeline, derived without the program.

The timed passes are tied to the warm-up pass by fingerprint (a determinism
check). This module checks the warm-up pass itself against values the
program under test cannot redefine:

- ``canonical_errors``: the ingest output against the generator's truth
  (``gen.truth``): one row per object and frame, positions in ball-owning
  orientation, teams, roster positions, ownership and the carrier flag, and
  finite kinematics.
- ``INVARIANTS`` / ``expected_invariants``: aggregates observed on each
  model output in the warm-up pass (no extra job), and their values
  computed here from the ingested table. For pressing intensity that is an
  independent NumPy evaluation of the time and probability to intercept of
  every player pair; for the graphs the fixed node order, adjacency and
  position and carrier features; for EFPI one labelled row per object and
  frame, goalkeepers, and ten-player formations. Label-weighted sums make a
  value under the wrong row or column label show.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

import gen

#: pressing-intensity arguments of ``workloads.model_output``
PI_ARGS = {"reaction_time": 0.7, "time_threshold": 1.5, "sigma": 0.45, "speed_threshold": 2.0}
MAX_PLAYER_SPEED = 12.0
#: default pitch of the settings: x in [-52.5, 52.5], y in [-34, 34]
X_MIN, X_LEN, Y_MIN, Y_LEN = -52.5, 105.0, -34.0, 68.0
N_OBJ = gen.N_PLAYERS + 1
REL_TOL = 1e-9

# -- SQL pieces ----------------------------------------------------------------

#: one number per (game, period, frame); game ids are ``game_<i>``
FRAME_KEY = "((cast(substring(game_id, 6) AS BIGINT) * 4 + period_id) * 100000 + frame_id)"


def _num(expr: str) -> str:
    """Shirt number 1-11 of a player id such as ``home_07``."""
    return f"cast(substring({expr}, -2) AS DOUBLE)"


def _object_weight(expr: str) -> str:
    """1-11 home, 12-22 away, 23 ball: a distinct weight per object id."""
    return (f"(CASE WHEN {expr} = '{gen.BALL}' THEN 23D ELSE {_num(expr)} + "
            f"CASE WHEN startswith({expr}, '{gen.AWAY}_') THEN 11D ELSE 0D END END)")


def _cell_sum(matrix: str, weight: str, n_rows: str, n_cols: str) -> str:
    """Sum over the cells of an array-of-arrays column of value x weight(i, j)."""
    return (f"sum(aggregate(sequence(1, {n_rows}), 0D, (s, i) -> s + "
            f"aggregate(sequence(1, {n_cols}), 0D, (t, j) -> t + "
            f"element_at(element_at({matrix}, i), j) * {weight})))")


def _count_if(cond: str) -> str:
    return f"count_if({cond})"


def _keys() -> dict:
    return {"rows": "count(1)", "key_sum": f"sum({FRAME_KEY})",
            "key_sq": f"sum({FRAME_KEY} * {FRAME_KEY})"}


_PI_W = f"({_num('element_at(rows, i)')} * 13 + {_num('element_at(columns, j)')})"
_GRAPH_ID_W = _object_weight("element_at(object_ids, i)")
_NOT_FINITE = "v -> isnan(v) OR abs(v) = double('infinity')"

INVARIANTS = {
    "PressingIntensity.fit": {
        **_keys(),
        "bad_labels": _count_if(
            f"size(rows) != 11 OR size(columns) != 11 "
            f"OR exists(rows, r -> NOT startswith(r, '{gen.HOME}_')) "
            f"OR exists(columns, c -> NOT startswith(c, '{gen.AWAY}_'))"),
        "tti_sum": "sum(aggregate(flatten(time_to_intercept), 0D, (s, v) -> s + v))",
        "pti_sum": "sum(aggregate(flatten(probability_to_intercept), 0D, (s, v) -> s + v))",
        "tti_w": _cell_sum("time_to_intercept", _PI_W, "size(rows)", "size(columns)"),
        "pti_w": _cell_sum("probability_to_intercept", _PI_W, "size(rows)", "size(columns)"),
    },
    "SoccerGraphConverter.to_graph_frames": {
        **_keys(),
        "bad_shape": _count_if(
            f"a_shape_0 != {N_OBJ} OR a_shape_1 != {N_OBJ} OR x_shape_0 != {N_OBJ} "
            f"OR size(a) != {N_OBJ} OR size(x) != {N_OBJ} OR size(e) != e_shape_0 "
            f"OR size(object_ids) != {N_OBJ}"),
        # owning team first, then the other team, ball last
        "bad_order": _count_if(
            f"element_at(object_ids, {N_OBJ}) != '{gen.BALL}' "
            "OR exists(slice(object_ids, 1, 11), o -> NOT startswith(o, ball_owning_team_id)) "
            "OR exists(slice(object_ids, 12, 11), o -> startswith(o, ball_owning_team_id))"),
        "bad_value": _count_if(f"exists(flatten(x), {_NOT_FINITE}) OR exists(flatten(e), {_NOT_FINITE})"),
        "edges": "sum(e_shape_0)",
        "a_w": _cell_sum("a", f"((i - 1) * {N_OBJ} + j)", "size(a)", "size(a)"),
        # node features 0, 1: normalised x, y; 14: carrier (1, else 0.1)
        "xy_w": (f"sum(aggregate(sequence(1, size(x)), 0D, (s, i) -> s + "
                 f"(element_at(element_at(x, i), 1) + 2 * element_at(element_at(x, i), 2)) * {_GRAPH_ID_W}))"),
        "carrier_w": (f"sum(aggregate(sequence(1, size(x)), 0D, (s, i) -> s + "
                      f"element_at(element_at(x, i), 15) * {_GRAPH_ID_W}))"),
    },
    "EFPI.fit_frame": {
        **_keys(),
        "bad_null": _count_if("position IS NULL OR formation IS NULL"),
        "ball_rows": _count_if(f"team_id = '{gen.BALL}' AND position = '{gen.BALL}' AND formation = '{gen.BALL}'"),
        "gk_rows": _count_if(f"position = 'GK' AND id IN {tuple(gen.GOALKEEPERS)}"),
        "other_gk": _count_if(f"position = 'GK' AND id NOT IN {tuple(gen.GOALKEEPERS)}"),
        "bad_team": _count_if(f"team_id != '{gen.BALL}' AND NOT startswith(id, team_id)"),
        # a formation of the ten outfield players: its digits sum to 10
        "bad_formation": _count_if(
            f"team_id != '{gen.BALL}' AND aggregate(transform(filter(split(formation, ''), "
            "c -> c RLIKE '^[0-9]$'), c -> cast(c AS INT)), 0, (s, d) -> s + d) != 10"),
    },
}


# -- expectations ----------------------------------------------------------------


def canonical_errors(got: pd.DataFrame, truth: pd.DataFrame) -> list[str]:
    """Differences between the ingested table and the generator's truth."""
    keys = ["game_id", "period_id", "frame_id", "id"]
    if len(got) != len(truth):
        return [f"ingest has {len(got)} rows, expected {len(truth)}"]
    m = truth.merge(got, on=keys, how="inner", suffixes=("", "_got"))
    if len(m) != len(truth) or got.duplicated(keys).any():
        return [f"ingest keys differ from the generated (game, period, frame, object)s ({len(m)} matched)"]
    errors = []
    for c in ("timestamp", "team_id", "position_name", "x", "y", "z",
              "ball_owning_team_id", "is_ball_carrier"):
        want, have = m[c], m[f"{c}_got"]
        same = (want == have) | (want.isna() & have.isna())
        if not same.all():
            errors.append(f"ingest column {c}: {int((~same).sum())} values differ from the generator")
    kin = got[["vx", "vy", "vz", "v", "ax", "ay", "az", "a"]].to_numpy(dtype=float)
    if not np.isfinite(kin).all():
        errors.append("ingest kinematics have non-finite values")
    return errors


def _frames(canon: pd.DataFrame) -> dict:
    """The ingested table as (frames, objects) arrays; objects in id order:
    away 1-11, ball, home 1-11."""
    c = canon.sort_values(["game_id", "period_id", "frame_id", "id"], kind="stable")
    n = len(c) // N_OBJ
    ids = c["id"].to_numpy()
    if len(c) % N_OBJ or (ids.reshape(n, N_OBJ) != np.array(sorted(gen.PLAYER_IDS + [gen.BALL]))).any():
        raise ValueError("the ingested frames do not each hold the 23 generated objects")

    def arr(col):
        return c[col].to_numpy().reshape(n, N_OBJ)

    first = c.iloc[::N_OBJ]
    game = first["game_id"].str.slice(5).astype(np.int64).to_numpy()
    return {
        "n": n,
        "key": (game * 4 + first["period_id"].to_numpy()) * 100000 + first["frame_id"].to_numpy(),
        "p": np.stack([arr("x"), arr("y"), arr("z")], axis=-1).astype(float),
        "vel": np.stack([arr("vx"), arr("vy"), arr("vz")], axis=-1).astype(float),
        "speed": arr("v").astype(float),
        "carrier": arr("is_ball_carrier").astype(bool),
        "home_owns": first["ball_owning_team_id"].to_numpy() == gen.HOME,
    }


def _keys_expected(f: dict, per_frame: int) -> dict:
    k = f["key"].astype(np.int64)
    return {"rows": f["n"] * per_frame, "key_sum": int(k.sum()) * per_frame,
            "key_sq": int((k * k).sum()) * per_frame}


def _pressing(f: dict) -> dict:
    """Time and probability to intercept of every (home, away) pair, from
    the model's definition: the owning team's player presses the other; the
    carrier's time is the smaller of its own and the ball's; probability is
    zeroed when either player is below the speed threshold. Rows home 1-11,
    columns away 1-11."""
    rt, vmax = PI_ARGS["reaction_time"], MAX_PLAYER_SPEED
    p, v = f["p"], f["vel"]
    dest = p + v  # where each target is after one second
    # t[f, a, b]: time for object a to intercept object b
    rel = dest[:, None, :, :] - p[:, :, None, :]
    u = np.sqrt((v * v).sum(-1))
    rel_len = np.sqrt((rel * rel).sum(-1))
    cos = (v[:, :, None, :] * rel).sum(-1) / (u[:, :, None] * rel_len + 1e-10)
    reach = p + v * rt
    gap = dest[:, None, :, :] - reach[:, :, None, :]
    t = u[:, :, None] * np.arccos(cos) / np.pi + rt + np.sqrt((gap * gap).sum(-1)) / vmax

    away, ball, home = np.arange(0, 11), 11, np.arange(12, 23)
    tti = np.empty((f["n"], 11, 11))
    for i in range(f["n"]):
        pressers, targets = (home, away) if f["home_owns"][i] else (away, home)
        m = t[i][np.ix_(pressers, targets)]  # (presser, target)
        c = np.flatnonzero(f["carrier"][i][pressers])[0]
        m[c] = np.minimum(m[c], t[i, ball, targets])
        tti[i] = m if f["home_owns"][i] else m.T
    pti = 1.0 / (1.0 + np.exp(np.clip(
        -np.pi / np.sqrt(3.0) / PI_ARGS["sigma"] * (PI_ARGS["time_threshold"] - tti), -700, 700)))
    slow = f["speed"] < PI_ARGS["speed_threshold"]
    pti[slow[:, home][:, :, None] | slow[:, away][:, None, :]] = 0.0
    w = np.arange(1, 12)[:, None] * 13.0 + np.arange(1, 12)[None, :]
    return {**_keys_expected(f, 1), "bad_labels": 0,
            "tti_sum": tti.sum(), "pti_sum": pti.sum(),
            "tti_w": (tti * w).sum(), "pti_w": (pti * w).sum()}


def _graph(f: dict) -> dict:
    """Nodes: the owning team by id, the other team by id, the ball.
    Adjacency ``split_by_team`` with the ball joined to every node."""
    team = np.array([0] * 11 + [1] * 11 + [2])
    adj = (team[:, None] == team[None, :]) | (team[:, None] == 2) | (team[None, :] == 2)
    a_w = float((adj * (np.arange(N_OBJ)[:, None] * N_OBJ + np.arange(1, N_OBJ + 1)[None, :])).sum())
    weight = np.array([float(k + 12) for k in range(11)] + [23.0] + [float(k + 1) for k in range(11)])
    xy = ((f["p"][..., 0] - X_MIN) / X_LEN + 2 * (f["p"][..., 1] - Y_MIN) / Y_LEN) * weight
    carrier = np.where(f["carrier"], 1.0, 0.1) * weight
    return {**_keys_expected(f, 1), "bad_shape": 0, "bad_order": 0, "bad_value": 0,
            "edges": int(adj.sum()) * f["n"], "a_w": a_w * f["n"],
            "xy_w": xy.sum(), "carrier_w": carrier.sum()}


def _efpi(f: dict) -> dict:
    n = f["n"]
    return {**_keys_expected(f, N_OBJ), "bad_null": 0, "ball_rows": n,
            "gk_rows": 2 * n, "other_gk": 0, "bad_team": 0, "bad_formation": 0}


def expected_invariants(canon: pd.DataFrame) -> dict:
    """call -> invariant -> expected value, from the ingested table."""
    f = _frames(canon)
    return {"PressingIntensity.fit": _pressing(f),
            "SoccerGraphConverter.to_graph_frames": _graph(f),
            "EFPI.fit_frame": _efpi(f)}


def invariant_errors(call: str, got: dict, want: dict) -> list[str]:
    errors = []
    for name, w in want.items():
        g = got.get(name)
        if g is None:
            ok = False
        elif isinstance(w, (int, np.integer)):
            ok = int(g) == w
        else:
            ok = abs(float(g) - w) <= REL_TOL * max(1.0, abs(w))
        if not ok:
            errors.append(f"{call} {name}: got {g}, expected {w}")
    return errors
