"""Batched graph-kernel fast path vs the per-frame plugin path on random
frames: same formulas and op order, so agreement is to the last couple of
ulps (NumPy's SIMD transcendental kernels round the vector lanes and the
scalar tail slightly differently for different array shapes — exact bitwise
equality across shapes is not attainable). Tolerance here is 4e-15 absolute;
the reference goldens are checked at rtol 1e-3."""

import numpy as np
import pytest

from unravelsports_spark.functions.graph_features import (
    DEFAULT_EDGE_FEATURES,
    DEFAULT_NODE_FEATURES,
    compute_adjacency_matrix,
    compute_edge_features,
    compute_node_features,
    frame_kwargs,
)
from unravelsports_spark.functions.graph_features_batch import (
    batch_kwargs,
    compute_adjacency_batch,
    compute_edge_channels_batch,
    compute_node_features_batch,
)
from unravelsports_spark.settings import GraphSettings


def _random_frames(rng, n_frames=6, n=23):
    frames = []
    for _ in range(n_frames):
        team = np.array(["home"] * 11 + ["away"] * 11 + ["ball"], dtype=object)
        d = {
            "x": rng.uniform(-52, 52, n),
            "y": rng.uniform(-34, 34, n),
            "z": np.r_[np.zeros(n - 1), rng.uniform(0, 2)],
            "vx": rng.normal(0, 3, n),
            "vy": rng.normal(0, 3, n),
            "vz": np.zeros(n),
            "team_id": team,
            "position_name": np.array(["GK"] + ["CB"] * 10 + ["GK"] + ["ST"] * 10 + [None], dtype=object),
            "ball_owning_team_id": np.array(["home"] * n, dtype=object),
            "is_ball_carrier": np.eye(1, n, k=3, dtype=bool)[0],
        }
        d["v"] = np.sqrt(d["vx"] ** 2 + d["vy"] ** 2 + d["vz"] ** 2)
        # sprinkle NaNs to exercise the sentinel path
        d["x"][rng.integers(0, n)] = np.nan
        frames.append(d)
    return frames


@pytest.mark.parametrize("atype", ["dense", "dense_ap", "dense_dp", "split_by_team"])
@pytest.mark.parametrize("ctype", ["ball", "ball_carrier", "no_connection"])
def test_batch_matches_per_frame(atype, ctype):
    rng = np.random.default_rng(11)
    frames = _random_frames(rng)
    gs = GraphSettings(
        home_team_id="home", away_team_id="away",
        adjacency_matrix_type=atype, adjacency_matrix_connect_type=ctype,
    )

    stacked = {k: np.stack([d[k] for d in frames]) for k in frames[0]}
    bk = batch_kwargs(stacked, gs)
    adj_b = compute_adjacency_batch(bk, gs)
    node_b = compute_node_features_batch(bk, gs)
    edge_b = compute_edge_channels_batch(bk, gs)

    for i, d in enumerate(frames):
        fk = frame_kwargs(d, gs)
        adj = compute_adjacency_matrix(gs, **fk)
        np.testing.assert_array_equal(adj_b[i], adj, err_msg=f"adjacency frame {i}")
        node, _ = compute_node_features(DEFAULT_NODE_FEATURES, None, gs, **fk)
        np.testing.assert_allclose(node_b[i], node, rtol=0, atol=4e-15, err_msg=f"nodes frame {i}")
        edge, _ = compute_edge_features(adj, DEFAULT_EDGE_FEATURES, None, gs, **fk)
        nz = np.where(adj == 1)
        np.testing.assert_allclose(
            np.nan_to_num(edge_b[i][nz]), edge, rtol=0, atol=4e-15, err_msg=f"edges frame {i}"
        )


def test_batch_no_ball_frame():
    rng = np.random.default_rng(5)
    frames = _random_frames(rng, n_frames=2, n=22)
    for d in frames:
        d["team_id"] = np.array(["home"] * 11 + ["away"] * 11, dtype=object)
        d["position_name"] = np.array(["GK"] + ["CB"] * 10 + ["GK"] + ["ST"] * 10, dtype=object)
    gs = GraphSettings(home_team_id="home", away_team_id="away")
    stacked = {k: np.stack([d[k] for d in frames]) for k in frames[0]}
    bk = batch_kwargs(stacked, gs)
    node_b = compute_node_features_batch(bk, gs)
    for i, d in enumerate(frames):
        fk = frame_kwargs(d, gs)
        node, _ = compute_node_features(DEFAULT_NODE_FEATURES, None, gs, **fk)
        np.testing.assert_allclose(node_b[i], node, rtol=0, atol=4e-15)


def test_batch_angles_match_contiguous_evaluation():
    """The angle columns (node velocity and goal/ball angles, edge position
    angles) equal, bit for bit, `np.arctan2` evaluated on contiguous copies
    of the vector components: the kernel never feeds arctan2 strided views."""
    from unravelsports_spark.functions.normalize import normalize_sincos, unit_vectors

    rng = np.random.default_rng(3)
    gs = GraphSettings(home_team_id="home", away_team_id="away")
    frames = _random_frames(rng, n_frames=40)
    bk = batch_kwargs({k: np.stack([d[k] for d in frames]) for k in frames[0]}, gs)
    node_b = compute_node_features_batch(bk, gs)
    edge_b = compute_edge_channels_batch(bk, gs)

    def angle(vec):
        return np.arctan2(vec[..., 1].copy(), vec[..., 0].copy())

    def sincos(ang):
        return [np.nan_to_num(normalize_sincos(f(ang))) for f in (np.sin, np.cos)]

    pos = bk["position"]
    goal = np.asarray(gs.goal_mouth_position, dtype=float)
    vel_ang = (angle(unit_vectors(bk["velocity"])) + np.pi) / (2.0 * np.pi)
    want = {
        (3, 4): sincos(vel_ang),
        (10, 11): sincos(angle(goal - pos)),
        (12, 13): sincos(angle(bk["ball_position"][:, None, :] - pos)),
    }
    for cols, expected in want.items():
        for c, e in zip(cols, expected):
            np.testing.assert_array_equal(node_b[..., c], e, err_msg=f"node column {c}")
    pos2 = pos[..., :2]
    ang = np.nan_to_num(angle(pos2[:, :, None, :] - pos2[:, None, :, :]))
    np.testing.assert_array_equal(edge_b[..., 2], normalize_sincos(np.nan_to_num(np.cos(ang))))
    np.testing.assert_array_equal(edge_b[..., 3], normalize_sincos(np.nan_to_num(np.sin(ang))))
