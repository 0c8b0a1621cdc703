"""Seeded input generators for the benchmark.

Every input the benchmark feeds the program is built here from the workload
seed, so the same seed gives the same bytes and the program under test sees
only the generated tables:

- ``write_wide`` — one kloppy-shaped wide frame per match: one row per frame,
  ``<object_id>_x`` / ``<object_id>_y`` columns for 22 players and the ball
  (plus ``ball_z``), the input of ``load_kloppy_wide``;
- ``truth`` — the long table that ingest of those frames must produce, as
  far as the generator decides it (the output check of the ingest);
- ``write_corpus`` — ``documents`` and ``embeddings`` parquet tables with the
  shape of the sf0.1 test corpus (30-word vocabulary, 10-99 word documents,
  5% near-duplicates that append `` dup`` to an original document, 64-d unit
  embeddings) for the near-dup graph queries.

Trajectories are vectorized random walks reflected at the pitch edges, so
generation stays a small share of set-up even at thousands of frames.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

HOME = "home"
AWAY = "away"
BALL = "ball"
FRAME_RATE = 25
N_PLAYERS = 22
PLAYER_IDS = [f"{HOME}_{i:02d}" for i in range(1, 12)] + [f"{AWAY}_{i:02d}" for i in range(1, 12)]
GOALKEEPERS = (f"{HOME}_01", f"{AWAY}_01")
#: roster positions, as kloppy's metadata gives them; EFPI sets the GK apart
POSITION_OF = dict(zip(PLAYER_IDS, ["GK", "CB", "LB", "RB", "CM", "CM", "LM", "RM", "ST", "ST", "CAM"] * 2))
HALF_LENGTH, HALF_WIDTH = 52.5, 34.0
POSSESSION_RUN = 97  # frames between possession changes
CARRIER_RUN = 25  # frames between passes within a possession

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
N_SOURCES = 20
DUP_SHARE = 0.05
EMB_DIM = 64
N_LABELS = 10


def _reflect(x: np.ndarray, half: float) -> np.ndarray:
    """Fold an unbounded walk into [-half, half] (mirror at the edges)."""
    p = np.mod(x + half, 4 * half)
    return np.where(p < 2 * half, p, 4 * half - p) - half


def _walk(rng, n_frames: int, n_obj: int, start_half: float, half: float, v_max: float, v_step: float):
    v = np.clip(np.cumsum(rng.normal(0, v_step, (n_frames, n_obj)), axis=0), -v_max, v_max)
    x0 = rng.uniform(-start_half, start_half, n_obj)
    return _reflect(x0 + np.cumsum(v / FRAME_RATE, axis=0), half)


def match_arrays(rng: np.random.Generator, n_frames: int) -> dict:
    """Positions of 22 players and the ball plus possession for one match.

    The ball sits on the carrier (a player of the owning team, changing
    every ``CARRIER_RUN`` frames) at ground level. Every frame then has an
    owning-team player strictly closest to the ball, which ownership
    inference needs to flag a carrier."""
    px = _walk(rng, n_frames, N_PLAYERS, 45, HALF_LENGTH, 8.0, 0.5)
    py = _walk(rng, n_frames, N_PLAYERS, 30, HALF_WIDTH, 8.0, 0.5)
    frame = np.arange(n_frames, dtype=np.int64)
    home_owns = (frame // POSSESSION_RUN + int(rng.integers(0, 2))) % 2 == 0
    n_runs = n_frames // CARRIER_RUN + 1
    carrier = (rng.integers(0, 11, n_runs)[frame // CARRIER_RUN] + np.where(home_owns, 0, 11))
    bx, by = px[frame, carrier], py[frame, carrier]
    half = n_frames // 2
    period = np.where(frame < half, 1, 2).astype(np.int64)
    ts = ((frame - np.where(period == 1, 0, half)) * (1000 // FRAME_RATE)).astype(np.int64)
    return {"px": px, "py": py, "bx": bx, "by": by, "bz": np.zeros(n_frames), "frame": frame,
            "period": period, "ts": ts, "home_owns": home_owns, "carrier": carrier}


def wide_match(seed: int, match: int, n_frames: int) -> pd.DataFrame:
    """One match as a kloppy ``to_df``-shaped wide frame."""
    a = match_arrays(np.random.default_rng([seed, match]), n_frames)
    cols = {
        "period_id": a["period"],
        "timestamp": a["ts"],
        "frame_id": a["frame"],
        "ball_state": np.full(n_frames, "alive", dtype=object),
        "ball_owning_team_id": np.where(a["home_owns"], HOME, AWAY).astype(object),
    }
    for i, oid in enumerate(PLAYER_IDS):
        cols[f"{oid}_x"] = a["px"][:, i]
        cols[f"{oid}_y"] = a["py"][:, i]
    cols["ball_x"], cols["ball_y"], cols["ball_z"] = a["bx"], a["by"], a["bz"]
    return pd.DataFrame(cols)


def truth(seed: int, n_matches: int, n_frames: int) -> pd.DataFrame:
    """What ingest of ``write_wide``'s matches must produce, as far as the
    generator decides it: one row per object and frame, positions in
    ball-owning orientation (negated while the away team owns the ball) and
    the carrier flagged. Kinematics are left out: they follow from the
    smoothing, not from the generator."""
    ids = PLAYER_IDS + [BALL]
    n_obj = len(ids)
    parts = []
    for m in range(n_matches):
        a = match_arrays(np.random.default_rng([seed, m]), n_frames)
        sign = np.where(a["home_owns"], 1.0, -1.0)[:, None]
        carrier = np.zeros((n_frames, n_obj), dtype=bool)
        carrier[np.arange(n_frames), a["carrier"]] = True
        parts.append(pd.DataFrame({
            "game_id": f"game_{m}",
            "period_id": np.repeat(a["period"], n_obj),
            "frame_id": np.repeat(a["frame"], n_obj),
            "timestamp": np.repeat(a["ts"], n_obj),
            "id": np.tile(ids, n_frames),
            "team_id": np.tile([HOME] * 11 + [AWAY] * 11 + [BALL], n_frames),
            "position_name": np.tile([POSITION_OF[p] for p in PLAYER_IDS] + [None], n_frames),
            "x": (np.column_stack([a["px"], a["bx"]]) * sign).ravel(),
            "y": (np.column_stack([a["py"], a["by"]]) * sign).ravel(),
            "z": 0.0,
            "ball_owning_team_id": np.repeat(np.where(a["home_owns"], HOME, AWAY), n_obj),
            "is_ball_carrier": carrier.ravel(),
        }))
    return pd.concat(parts, ignore_index=True)


def parquet_size(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


def write_wide(seed: int, out_dir: str, n_matches: int, n_frames: int) -> list[str]:
    """One ``wide_<m>.parquet`` per match; returns the paths."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for m in range(n_matches):
        path = os.path.join(out_dir, f"wide_{m}.parquet")
        pq.write_table(pa.Table.from_pandas(wide_match(seed, m, n_frames), preserve_index=False), path)
        paths.append(path)
    return paths


def corpus_tables(seed: int, n_docs: int, n_vecs: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    rng = np.random.default_rng([seed, 0xC0])
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(n))]) for n in rng.integers(10, 100, n_docs)]
    # near-duplicates copy an original, never another near-duplicate: the
    # dup graph is a forest of stars whatever the seed, so the iterative
    # graph queries run the same number of rounds on every seed
    n_dup = int(n_docs * DUP_SHARE)
    dups = rng.choice(np.arange(n_docs), n_dup, replace=False)
    originals = np.setdiff1d(np.arange(n_docs), dups)
    for i, src in zip(dups, rng.choice(originals, n_dup)):
        texts[i] = texts[src] + " dup"
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    v = rng.normal(size=(n_vecs, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, N_LABELS, n_vecs).astype(np.int32),
    })
    return docs, emb


def write_corpus(seed: int, out_dir: str, n_docs: int, n_vecs: int) -> dict:
    """Write ``documents.parquet`` and ``embeddings.parquet``; returns rows/bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs, emb = corpus_tables(seed, n_docs, n_vecs)
    os.makedirs(out_dir, exist_ok=True)
    emb_schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())])
    tables = {
        "documents": pa.Table.from_pandas(docs, preserve_index=False),
        "embeddings": pa.Table.from_pandas(emb, schema=emb_schema, preserve_index=False),
    }
    paths = []
    for name, table in tables.items():
        paths.append(os.path.join(out_dir, f"{name}.parquet"))
        pq.write_table(table, paths[-1])
    return {"rows": n_docs + n_vecs, "bytes": parquet_size(paths)}
