"""Raster↔vector spatial operators (the ``gw.sops`` family), Spark-first.

Each operator is a *planner function*: it composes a declarative DataFrame
plan (tile-pruned scan → predicate/when-chain → optional vectorized PIP UDF)
and lets Catalyst pick the physical strategy. The only Python that runs on
executors is Arrow-batched numpy inside pandas UDFs.

Reference semantics, cited per function, from
``/root/reference/src/geowombat/core/sops.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..grid import (
    GridSpec,
    bbox_cover_tiles,
    point_in_rings,
    rects_touch_rings,
    round_window,
)

BAND_COLS = ("band_blue", "band_green", "band_red")


def _rings_arrays(polygons: pd.DataFrame) -> list[list[np.ndarray]]:
    return [
        [np.asarray(r, dtype=np.float64) for r in rs] for rs in polygons["rings"]
    ]


def _total_bounds(polygons: pd.DataFrame) -> tuple[float, float, float, float]:
    xs = np.concatenate([np.asarray(r)[0::2] for rs in polygons["rings"] for r in rs])
    ys = np.concatenate([np.asarray(r)[1::2] for rs in polygons["rings"] for r in rs])
    return float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())


def pip_flag(polygons: pd.DataFrame, all_touched: bool = False, cellx: float = 0.0, celly: float = 0.0):
    """Column factory: boolean "center inside any polygon" via one vectorized
    ray-cast pandas UDF (the rasterize stand-in,
    ``src/geowombat/core/conversion.py:570-833``).

    The UDF drops the cells outside the polygons' total bounds, then the
    kernels test each remaining cell only against the rings whose bounding
    box covers it (``grid.point_in_rings`` / ``grid.rects_touch_rings``
    prune per ring), so a batch costs about its cells plus the cells ×
    edges of the few polygons near each cell. ``all_touched=True`` is
    GDAL's exact any-touch: center-in-polygon OR the polygon boundary
    overlaps the cell rect (separating-axis segment-vs-rect test,
    ``grid.rects_touch_rings`` — a cell intersecting the polygon either
    contains its center inside or is crossed by the boundary); cells
    already flagged skip the rect test.
    """
    ring_sets = _rings_arrays(polygons)
    minx, miny, maxx, maxy = _total_bounds(polygons)
    hx, hy = abs(cellx) / 2.0, abs(celly) / 2.0

    @F.pandas_udf("boolean")
    def _pip(xs: pd.Series, ys: pd.Series) -> pd.Series:
        px = xs.values.astype(np.float64)
        py = ys.values.astype(np.float64)
        out = np.zeros(px.shape[0], dtype=bool)
        pad = max(abs(cellx), abs(celly)) if all_touched else 0.0
        cand = (
            (px >= minx - pad)
            & (px <= maxx + pad)
            & (py >= miny - pad)
            & (py <= maxy + pad)
        )
        if cand.any():
            cx, cy = px[cand], py[cand]
            hit = np.zeros(cx.shape[0], dtype=bool)
            for rings in ring_sets:
                hit |= point_in_rings(cx, cy, rings)
                if all_touched:
                    rest = np.flatnonzero(~hit)
                    hit[rest] = rects_touch_rings(cx[rest], cy[rest], hx, hy, rings)
            out[cand] = hit
        return pd.Series(out)

    return _pip


def clip_by_polygon(
    docs: DataFrame,
    polygons: pd.DataFrame,
    grid: GridSpec,
    mask_data: bool = False,
    expand_by: int = 0,
    bands: tuple[str, ...] = BAND_COLS,
) -> DataFrame:
    """Clip to the polygons' grid-snapped total bounds
    (``sops.py:911-996``): tile-list pruning + row/col range predicate —
    a pure partition-pruned scan, no shuffle. ``mask_data=True`` additionally
    nulls cells outside the geometry and refills with the grid nodata
    (``sops.py:985-994``: ``polygon_to_array`` mask then ``fillna(nodata)``).
    """
    minx, miny, maxx, maxy = _total_bounds(polygons)
    row0, row1, col0, col1 = round_window(grid, minx, miny, maxx, maxy, expand_by=expand_by)
    tiles = bbox_cover_tiles(
        grid,
        grid.left + col0 * grid.cellx,
        grid.top - row1 * grid.celly,
        grid.left + col1 * grid.cellx,
        grid.top - row0 * grid.celly,
    )
    out = docs.filter(F.col("tile_id").isin(tiles)).filter(
        (F.col("row") >= row0)
        & (F.col("row") < row1)
        & (F.col("col") >= col0)
        & (F.col("col") < col1)
    )
    if mask_data:
        flag = pip_flag(polygons)(F.col("x"), F.col("y"))
        out = out.withColumn("_pip", flag)
        for b in bands:
            out = out.withColumn(
                b, F.when(F.col("_pip"), F.col(b)).otherwise(F.lit(grid.nodata))
            )
        out = out.drop("_pip")
    return out


def mask(
    docs: DataFrame,
    polygons: pd.DataFrame,
    grid: GridSpec,
    keep: str = "in",
    bands: tuple[str, ...] = BAND_COLS,
    all_touched: bool = True,
) -> DataFrame:
    """Keep values inside ('in') or outside ('out') the geometry, others →
    NULL (the NaN of the reference, ``sops.py:1099-1160``; reference
    rasterizes with all_touched=True, hence the default here)."""
    flag = pip_flag(polygons, all_touched=all_touched, cellx=grid.cellx, celly=grid.celly)(
        F.col("x"), F.col("y")
    )
    out = docs.withColumn("_pip", flag)
    keep_in = keep == "in"
    for b in bands:
        out = out.withColumn(
            b,
            F.when(F.col("_pip") == F.lit(keep_in), F.col(b)).otherwise(F.lit(None)),
        )
    return out.drop("_pip")


def subset(
    docs: DataFrame,
    grid: GridSpec,
    left: float,
    top: float,
    rows: int,
    cols: int,
) -> DataFrame:
    """Rectangular subset by map coordinates (``sops.py:1271-1364``):
    a range predicate on derived row/col — partition-pruned, zero shuffle."""
    col0 = int(np.floor((left - grid.left) / grid.cellx))
    row0 = int(np.floor((grid.top - top) / grid.celly))
    tiles = bbox_cover_tiles(
        grid,
        grid.left + col0 * grid.cellx,
        grid.top - (row0 + rows) * grid.celly,
        grid.left + (col0 + cols) * grid.cellx,
        grid.top - row0 * grid.celly,
    )
    return docs.filter(F.col("tile_id").isin(tiles)).filter(
        (F.col("row") >= row0)
        & (F.col("row") < row0 + rows)
        & (F.col("col") >= col0)
        & (F.col("col") < col0 + cols)
    )


def replace(docs: DataFrame, mapping: dict, bands: tuple[str, ...] = BAND_COLS) -> DataFrame:
    """Global value recode (``sops.py:1162-1206``). The reference's two-pass
    ±100000 trick exists to avoid re-replacing already-replaced values in an
    in-place array; a ``when`` chain evaluates on the *input* column, so the
    single pass is semantically identical."""
    out = docs
    for b in bands:
        expr: Column = F.col(b)
        chain = None
        for k, v in mapping.items():
            cond = F.col(b) == F.lit(float(k))
            chain = F.when(cond, F.lit(float(v))) if chain is None else chain.when(cond, F.lit(float(v)))
        out = out.withColumn(b, chain.otherwise(expr) if chain is not None else expr)
    return out


def recode(
    docs: DataFrame,
    polygons: pd.DataFrame,
    grid: GridSpec,
    mapping: dict,
    band: str = "band_blue",
) -> DataFrame:
    """Replace values **within polygons** (``sops.py:1208-1269``), including
    ``{k: 'mode'}`` → the modal value of the band inside the region (computed
    distributed via ``F.mode``, then folded back as a literal)."""
    flag_udf = pip_flag(polygons)
    out = docs.withColumn("_pip", flag_udf(F.col("x"), F.col("y")))
    # every 'mode' entry resolves to the same polygon-modal band value, so
    # one distributed agg + one collect serves them all (k 'mode' entries
    # used to serialize into k driver actions over the same plan)
    modal = None
    if any(v == "mode" for v in mapping.values()):
        modal = out.filter(F.col("_pip")).agg(F.mode(band)).collect()[0][0]
        if modal is None:
            raise ValueError(
                "recode 'mode': the polygon selects no pixels, so the "
                "modal value is undefined — check polygon/raster overlap"
            )
    resolved = {
        float(k): float(modal if v == "mode" else v)
        for k, v in mapping.items()
    }
    chain = None
    for k, v in resolved.items():
        cond = F.col("_pip") & (F.col(band) == F.lit(k))
        chain = F.when(cond, F.lit(v)) if chain is None else chain.when(cond, F.lit(v))
    if chain is not None:
        out = out.withColumn(band, chain.otherwise(F.col(band)))
    return out.drop("_pip")


_AREA_CONV = {"km2": 1e-6, "ha": 1e-4, "m2": 1.0}


def calc_area(
    docs: DataFrame,
    grid: GridSpec,
    values: list[float],
    band: str = "band_blue",
    op: str = "eq",
    units: str = "km2",
) -> DataFrame:
    """Per-QUERIED-value areas (``sops.py:113-211`` semantics): one output
    row per entry of ``values``, keyed by that value — ``op='lt'`` with
    values [3, 5] returns area(band<3) AND area(band<5) separately, and a
    value matching zero pixels reports area 0.0 (the reference emits it;
    grouping by raw pixel value instead would merge overlapping
    thresholds and drop empty classes). Plan: ONE scan, one conditional
    sum per queried value folded in a single aggregate (map-side partial,
    one 1-row shuffle), then a driver-free ``stack`` to long form."""
    conv = _AREA_CONV[units]
    cell_area = grid.cellx * grid.celly
    ops = {
        "eq": lambda c, v: c == v,
        "lt": lambda c, v: c < v,
        "le": lambda c, v: c <= v,
        "gt": lambda c, v: c > v,
        "ge": lambda c, v: c >= v,
    }
    aggs = [
        F.coalesce(
            F.sum(ops[op](F.col(band), F.lit(float(v))).cast("long")),
            F.lit(0).cast("long"),
        ).alias(f"_c{i}")
        for i, v in enumerate(values)
    ]
    pairs = ", ".join(
        f"CAST({float(v)} AS DOUBLE), _c{i}" for i, v in enumerate(values)
    )
    return (
        docs.agg(*aggs)
        .selectExpr(f"stack({len(values)}, {pairs}) AS (value, hits)")
        .select(
            "value", (F.col("hits") * cell_area * conv).alias("area")
        )
        .orderBy("value")
    )


def bounds_overlay(
    a: tuple[float, float, float, float],
    b: tuple[float, float, float, float],
    how: str = "intersects",
) -> bool:
    """bbox binary predicate (``src/geowombat/core/geoxarray.py:389-425``).

    Strict ``<`` in the disjointness test: shapely's ``intersects`` (the
    reference's backend) counts shared-boundary contact — two boxes that
    merely touch at an edge DO intersect."""
    ix = not (a[2] < b[0] or b[2] < a[0] or a[3] < b[1] or b[3] < a[1])
    if how == "intersects":
        return ix
    if how == "contains":
        return a[0] <= b[0] and a[1] <= b[1] and a[2] >= b[2] and a[3] >= b[3]
    if how == "within":
        return b[0] <= a[0] and b[1] <= a[1] and b[2] >= a[2] and b[3] >= a[3]
    raise ValueError(how)
