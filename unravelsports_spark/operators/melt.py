"""Wide→long unpivot of provider-style tracking frames (O8).

Re-expresses /root/reference/unravel/soccer/dataset/kloppy_polars.py:293-311,
493-544: a kloppy wide frame has one column per object per coordinate
(`<object_id>_x`, `<object_id>_y`, ball also `ball_z`). Spark's `stack`
emits every (object, team, position, x, y, z) row in one generator pass — no
per-object loop, no horizontal concat, one projection. The roster's team and
position ride the generator as literals, so the melt needs no join. The
generator is built from Column expressions: ids, teams and positions are
literals, never SQL text."""

from __future__ import annotations

from typing import Iterable, NamedTuple, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import BALL, Column


class TrackedObject(NamedTuple):
    object_id: str
    team_id: str
    position_name: Optional[str] = None


def melt_wide_tracking(
    df: DataFrame,
    objects: Iterable[TrackedObject],
    game_id: str,
    index_columns: Iterable[str] = (
        Column.PERIOD_ID,
        Column.TIMESTAMP,
        Column.FRAME_ID,
        Column.BALL_STATE,
        Column.BALL_OWNING_TEAM_ID,
    ),
) -> DataFrame:
    columns = set(df.columns)
    rows = []
    for obj in objects:
        xc, yc, zc = (f"{obj.object_id}_{c}" for c in ("x", "y", "z"))
        if xc not in columns:
            continue
        rows += [
            F.lit(obj.object_id),
            F.lit(obj.team_id).cast("string"),
            F.lit(obj.position_name).cast("string"),
            *(_col(c).cast("double") for c in (xc, yc)),
            _col(zc).cast("double") if zc in columns else F.lit(0.0),
        ]
    if not rows:
        raise ValueError("no <object_id>_x columns found to unpivot")

    idx = [_col(c) for c in index_columns if c in columns]
    long = df.select(
        *idx,
        F.stack(F.lit(len(rows) // 6), *rows).alias(
            Column.OBJECT_ID, Column.TEAM_ID, Column.POSITION_NAME, Column.X, Column.Y, Column.Z
        ),
    )
    return long.select(
        Column.OBJECT_ID,
        *idx,
        Column.X,
        Column.Y,
        # ball z defaults to 0.0 when entirely absent (reference :516-521)
        F.when(F.col(Column.Z).isNull() & (F.col(Column.TEAM_ID) == BALL), 0.0)
        .otherwise(F.col(Column.Z))
        .alias(Column.Z),
        Column.TEAM_ID,
        Column.POSITION_NAME,
        F.lit(game_id).alias(Column.GAME_ID),
    )


def _col(name: str):
    """A column by its literal name, whatever characters it holds."""
    return F.col("`" + name.replace("`", "``") + "`")
