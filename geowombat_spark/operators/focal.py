"""Focal (moving-window) statistics with distributed halo exchange.

Reference: ``gw.moving`` (``/root/reference/src/geowombat/core/util.py:376-469``)
runs a w×w nodata-skipping kernel via ``dask.map_overlap(depth=w//2,
boundary='reflect')``; the Cython kernel dispatch lives in
``moving/_moving.pyx:342-567``. The chunk-border correctness contract is
pinned by ``tests/test_moving.py:48-56``.

Spark shape — the ``map_overlap`` analogue with no Catalyst primitive:

1. **Halo duplication**: every cell row is assigned to its home tile and
   duplicated into each neighboring tile whose interior lies within
   ``w//2`` of it. Built as an array of when-expressions + ``explode`` —
   pure Column code, one narrow stage, output ≤ 9× border rows (≈ +2% for
   512-cell tiles at w=3).
2. **groupBy(assigned_tile).applyInPandas(kernel)**: each group holds one
   tile plus its halo; the kernel scatters rows into a dense local array and
   runs one vectorized numpy sliding-window reduction, emitting interior
   cells only. One shuffle, keyed by tile — the same key the storage layout
   is partitioned on, so at scale AQE sees an already-clustered exchange.

Window borders at the *image* edge use clipped windows (only in-image
cells); nodata is skipped inside the window (NaN-reductions), matching the
reference kernel's nodata skip.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..grid import GridSpec

_STATS = ("mean", "min", "max", "var", "std", "perc", "sum", "expand")


def halo_assignments(df: DataFrame, grid: GridSpec, hw: int) -> DataFrame:
    """Duplicate rows into neighbor tiles within ``hw`` cells of a border.

    Adds ``atile`` (the processing-group key). The home assignment always
    exists; each of the 8 neighbor directions fires only for rows inside the
    halo band, so the blow-up is limited to tile borders.
    """
    tile_r = F.floor(F.col("row") / grid.tile_rows)
    tile_c = F.floor(F.col("col") / grid.tile_cols)
    in_r = F.col("row") % grid.tile_rows
    in_c = F.col("col") % grid.tile_cols

    assigns = [ (tile_r * grid.tiles_x + tile_c).cast("long") ]
    # (dr, dc, condition) — duplicate into tile (tile_r+dr, tile_c+dc)
    near_top = in_r < hw
    near_bot = in_r >= grid.tile_rows - hw
    near_left = in_c < hw
    near_right = in_c >= grid.tile_cols - hw
    dirs = [
        (-1, 0, near_top),
        (1, 0, near_bot),
        (0, -1, near_left),
        (0, 1, near_right),
        (-1, -1, near_top & near_left),
        (-1, 1, near_top & near_right),
        (1, -1, near_bot & near_left),
        (1, 1, near_bot & near_right),
    ]
    for dr, dc, cond in dirs:
        nr, nc = tile_r + dr, tile_c + dc
        valid = (
            cond
            & (nr >= 0)
            & (nr < grid.tiles_y)
            & (nc >= 0)
            & (nc < grid.tiles_x)
        )
        assigns.append(F.when(valid, (nr * grid.tiles_x + nc).cast("long")))
    return df.withColumn(
        "atile", F.explode(F.filter(F.array(*assigns), lambda a: a.isNotNull()))
    )


def scatter_tile(key, pdf: pd.DataFrame, gs: GridSpec, hw: int, val_col: str):
    """Shared stencil-kernel prologue (used here and by
    ``functions.topo.slope_aspect``): decode a halo group's tile geometry
    from its ``atile`` key and scatter the group's rows into a dense
    (tile + halo) float array, NaN where absent.

    Returns ``(arr, home, r0, c0, r1, c1)`` — ``home`` is the subframe of
    rows whose home tile is this group (the cells the kernel must emit);
    ``arr`` indexes as ``arr[row - (r0 - hw), col - (c0 - hw)]``. Edge
    tiles clamp to the grid (partial ``r1 - r0`` / ``c1 - c0``) and
    out-of-window halo rows are masked out of the scatter."""
    atile = int(key[0])
    t_r, t_c = divmod(atile, gs.tiles_x)
    r0, c0 = t_r * gs.tile_rows, t_c * gs.tile_cols
    r1 = min(r0 + gs.tile_rows, gs.nrows)
    c1 = min(c0 + gs.tile_cols, gs.ncols)
    H, W = (r1 - r0) + 2 * hw, (c1 - c0) + 2 * hw
    arr = np.full((H, W), np.nan)
    rr = pdf["row"].values - (r0 - hw)
    cc = pdf["col"].values - (c0 - hw)
    ok = (rr >= 0) & (rr < H) & (cc >= 0) & (cc < W)
    arr[rr[ok], cc[ok]] = pdf[val_col].values[ok]
    home = pdf[
        (pdf["row"] >= r0)
        & (pdf["row"] < r1)
        & (pdf["col"] >= c0)
        & (pdf["col"] < c1)
    ]
    return arr, home, r0, c0, r1, c1


#: stats that support inverse-distance weighting (the reference's Cython
#: kernels carry weights only for mean/std/var — _moving.pyx:183-292,51-112)
_WEIGHTED_STATS = ("mean", "std", "var")


def window_weights(w: int) -> np.ndarray:
    """Inverse-distance weight matrix (``_moving.pyx:374-383``):
    ``1 - dist((m, n), center)/dist(corner, center)`` — 1 at the center,
    0 at the corners."""
    hw = w // 2
    if hw == 0:
        # w=1: the single cell IS the center — weight 1, not the 0/0 NaN
        # the corner-distance formula would produce
        return np.ones((1, 1))
    m, n = np.mgrid[0:w, 0:w].astype(np.float64)
    dist = np.sqrt((n - hw) ** 2 + (m - hw) ** 2)
    return 1.0 - dist / np.sqrt(2.0 * hw * hw)


def _weighted_stat(stat: str, w: int):
    """Weighted kernels, bit-matching the reference math
    (``_moving.pyx:183-228`` mean, ``:51-112`` var/std):
    mean = Σwv/Σw; var = Σ(wv - mean)²/Σw over valid cells."""
    wflat = window_weights(w).ravel()

    def kernel(win: np.ndarray) -> np.ndarray:
        flat = win.reshape(win.shape[0], win.shape[1], -1)
        valid = ~np.isnan(flat)
        wv = np.where(valid, flat * wflat, 0.0)
        wsum = (valid * wflat).sum(axis=2)
        with np.errstate(invalid="ignore", divide="ignore"):
            mean = wv.sum(axis=2) / wsum
            if stat == "mean":
                return mean
            var = (
                np.where(valid, (flat * wflat - mean[..., None]) ** 2, 0.0).sum(
                    axis=2
                )
                / wsum
            )
            if stat == "var":
                return var
            return np.sqrt(var)

    return kernel


def _window_stat(stat: str, perc: int | None):
    def kernel(win: np.ndarray) -> np.ndarray:
        # win shape (H, W, w, w) — NaN-padded sliding view
        flat = win.reshape(win.shape[0], win.shape[1], -1)
        # an all-NaN window is expected (nodata or off-image) and refilled
        # by the caller; the nan-reductions would warn on every such window
        with np.errstate(invalid="ignore"), warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            if stat == "mean":
                return np.nanmean(flat, axis=2)
            if stat == "sum":
                # np.nansum returns 0.0 (not NaN) for an all-NaN window,
                # which would dodge the all-nodata refill every other
                # stat honors — force NaN so the refill contract holds
                return np.where(
                    np.all(np.isnan(flat), axis=2),
                    np.nan,
                    np.nansum(flat, axis=2),
                )
            if stat == "min":
                return np.nanmin(flat, axis=2)
            if stat == "max":
                return np.nanmax(flat, axis=2)
            if stat == "var":
                return np.nanvar(flat, axis=2)
            if stat == "std":
                return np.nanstd(flat, axis=2)
            if stat == "perc":
                return np.nanpercentile(flat, perc, axis=2)
            if stat == "expand":
                # morphological expand of the target class 1 into 0 cells
                # (``_moving.pyx:230-257`` ``_get_expand``): a center of
                # exactly 0 flips to 1.0 if ANY window cell with weight > 0
                # equals exactly 1. In the reference's only reachable
                # configuration the weight matrix is all-ones
                # (``_moving.pyx:366`` — ``weights=True`` never combines
                # with expand, and this port rejects it), so the support is
                # the FULL w×w window including the diagonal corners, not
                # the plus-shaped IDW support. Every other center (1,
                # nodata, any other class) passes through unchanged. NaN
                # (absent/clipped-edge) cells never count as hits.
                center = flat[..., flat.shape[-1] // 2]
                hit = (flat == 1.0).any(axis=2)
                return np.where((center == 0.0) & hit, 1.0, center)
        raise ValueError(stat)

    return kernel


def moving(
    docs: DataFrame,
    grid: GridSpec,
    stat: str = "mean",
    w: int = 3,
    band: str = "band_blue",
    nodata: float | None = 0.0,
    perc: int | None = 50,
    out: str | None = None,
    keep: tuple[str, ...] = (),
    weights: bool = False,
) -> DataFrame:
    """w×w focal statistic (``util.py:376-469``; w odd).

    Returns the stat frame keyed by (row, col, cell_id) — exactly one
    exchange (the tile shuffle). Payload columns a caller needs alongside
    the stat go in ``keep``: they ride through the kernel, avoiding a
    second corpus-wide join after the applyInPandas shuffle.

    ``weights=True`` applies the reference's inverse-distance window
    weighting (``util.py:384,405``; kernel math ``_moving.pyx:374-383``) —
    supported for mean/std/var, like the reference kernels.
    """
    assert w % 2 == 1, "window size must be odd"
    if stat not in _STATS:
        raise ValueError(f"stat must be one of {_STATS}")
    if weights and stat not in _WEIGHTED_STATS:
        raise ValueError(
            f"weights=True supports {_WEIGHTED_STATS}, not {stat!r}"
        )
    if stat == "expand" and nodata is not None and float(nodata) != 0.0:
        # expand ignores nodata by design (the reference's _get_expand
        # treats every non-target value as background) — reject an
        # EXPLICIT foreign nodata loudly rather than silently discarding
        # it: a caller migrating moving(..., nodata=-9999) expects -9999
        # cells nulled like every other stat, and expand cannot honor
        # that contract. The 0.0 default passes (0 IS the background
        # class, so ignoring it is the documented semantics).
        raise ValueError(
            "stat='expand' does not support nodata masking (the "
            "reference kernel treats every non-target value as "
            "background); pass nodata=None or pre-mask the band"
        )
    hw = w // 2
    if hw > min(grid.tile_rows, grid.tile_cols):
        # halo duplication reaches ADJACENT tiles only: a half-width
        # beyond one tile would silently compute border stats over gaps
        raise ValueError(
            f"window half-width {hw} exceeds the tile size "
            f"({grid.tile_rows}x{grid.tile_cols}); the halo exchange "
            "covers one neighbor ring — use a coarser window or larger "
            "tiles"
        )
    out = out or f"{band}_{stat}"
    kern = _weighted_stat(stat, w) if weights else _window_stat(stat, perc)
    g = grid.as_dict()

    keep = tuple(k for k in keep if k not in ("row", "col", "cell_id"))
    keep_schema = "".join(
        f", {k} {docs.schema[k].dataType.simpleString()}" for k in keep
    )
    src = docs.select("row", "col", "cell_id", *keep, F.col(band).alias("_v"))
    refill = None
    if stat == "expand":
        # the reference's _get_expand ignores nodata entirely — 0 is the
        # expandable background class, so nulling a nodata of 0 (the
        # default) would disable the kernel; values pass through raw.
        nodata = None
    if nodata is not None:
        src = src.withColumn("_v", F.nullif(F.col("_v"), F.lit(float(nodata))))
        refill = float(nodata)
    src = halo_assignments(src, grid, hw)

    schema = f"row bigint, col bigint, cell_id bigint{keep_schema}, {out} double"

    def compute(key, pdf: pd.DataFrame) -> pd.DataFrame:
        gs = GridSpec(**g)
        arr, home, r0, c0, r1, c1 = scatter_tile(key, pdf, gs, hw, "_v")
        win = np.lib.stride_tricks.sliding_window_view(arr, (w, w))
        stat_arr = kern(win)  # shape (r1-r0, c1-c0): interior cells only
        # emit only cells that exist in the home tile of this group
        vals = stat_arr[home["row"].values - r0, home["col"].values - c0]
        if refill is not None:
            # reference parity (_moving.pyx: 'if npy_isnan(res): return
            # nodata'): an all-nodata window refills with the nodata
            # value instead of emitting NaN/NULL
            vals = np.where(np.isnan(vals), refill, vals)
        cols = {
            "row": home["row"].values,
            "col": home["col"].values,
            "cell_id": home["cell_id"].values,
        }
        for k in keep:
            cols[k] = home[k].values
        cols[out] = vals
        return pd.DataFrame(cols)

    return src.groupBy("atile").applyInPandas(compute, schema)
