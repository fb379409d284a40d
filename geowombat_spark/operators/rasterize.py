"""polygon_to_array — rasterize polygons onto a reference grid.

Reference: ``/root/reference/src/geowombat/core/conversion.py:570-833``
(burn value 1 or from an attribute column; later features overwrite earlier,
GDAL ``features.rasterize`` semantics; ``all_touched`` toggles
center-containment vs cell-intersects).

Spark shape: the polygons are the small, driver-resident side, so their
burned cells are resolved once in the driver — per-feature cover cells from
the ray-cast PIP kernel (one vectorized kernel per feature), burn values,
and the last feature per cell, exactly GDAL's later-feature-wins — then
broadcast into a left join from the window's cell lattice (generated with
``spark.range`` — pure codegen) with ``fill`` elsewhere. The lattice join
is an equi-join on (row, col) and runs no Python worker."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..grid import GridSpec, round_window
from .extract import _polygon_samples, encode_points_pdf, in_bounds_mask


def polygon_to_array(
    spark: SparkSession,
    polygons: pd.DataFrame,
    grid: GridSpec,
    col: str | None = None,
    fill: float = 0.0,
    default_value: float = 1.0,
    all_touched: bool = False,
    window: tuple[int, int, int, int] | None = None,
    id_column: str = "fid",
) -> DataFrame:
    """Burn polygons onto the grid; returns (row, col, x, y, value) over the
    window (defaults to the polygons' grid-aligned total bounds).

    ``col`` selects a per-feature burn value column, else ``default_value``
    (``conversion.py:570-833``). Feature order resolves overlaps: the last
    ROW in ``polygons`` wins on overlap cells (GDAL rasterize parity —
    each row is one feature, so duplicate-``fid`` multipart rows burn
    their own values). Burn membership is the reference-grid cell-center
    test (``grid_aligned`` sampling), matching ``features.rasterize``
    over the grid-aligned window. ``id_column`` is accepted for API
    compatibility but unused (features are identified by row position).
    """
    if window is None:
        if len(polygons) == 0:
            # no features and no window: nothing defines an extent
            return spark.createDataFrame(
                [], "row long, col long, x double, y double, value double"
            )
        from .sops import _total_bounds

        minx, miny, maxx, maxy = _total_bounds(polygons)
        window = round_window(grid, minx, miny, maxx, maxy, expand_by=0)
    row0, row1, col0, col1 = window
    nrows, ncols = max(0, row1 - row0), max(0, col1 - col0)
    if nrows == 0 or ncols == 0:
        # bbox entirely off-grid: round_window clamps each bound
        # independently, so row1 < row0 (or col1 < col0) here — a raw
        # nrows*ncols product would be positive again and `id % ncols`
        # with a negative ncols would fabricate out-of-grid lattice rows
        return spark.createDataFrame(
            [], "row long, col long, x double, y double, value double"
        )

    # each input ROW is one GDAL feature: key sampling and the burn on a
    # per-row id (_pfid), not the user fid — duplicate fids (multipart
    # explode, or fid collisions carrying different burn values) must burn
    # each part with ITS OWN row's value, with later-row-wins only on
    # genuinely overlapping cells
    pdf = polygons.reset_index(drop=True)[["rings"]].copy()
    pdf["_pfid"] = np.arange(len(pdf), dtype=np.int64)
    # grid_aligned: burn membership is the REFERENCE-grid center test (GDAL
    # features.rasterize over the grid-aligned window, conversion.py:570-833)
    # — the bbox-local extract lattice diverges whenever a polygon bbox is
    # not grid-aligned
    samples, _ = _polygon_samples(
        pdf, grid, all_touched=all_touched, id_column="_pfid", grid_aligned=True
    )
    # DROP sample centers outside the grid BEFORE encoding (same contract
    # as extract_polygons, reference sops.py:836-844): encoding clamps
    # out-of-grid centers onto border cells, so a polygon arm overhanging
    # the grid would otherwise burn the border cells it snaps onto — GDAL
    # rasterize leaves those at fill
    samples = samples[in_bounds_mask(samples["x"].values, samples["y"].values, grid)]
    enc = encode_points_pdf(samples, grid)
    burn = (
        polygons[col].astype(float).to_numpy()
        if col
        else np.full(len(pdf), float(default_value))
    )
    enc["value"] = burn[enc["_pfid"].to_numpy()]
    # later feature wins on a cell burned by several
    last = enc.sort_values("_pfid", kind="stable").drop_duplicates(
        ["row", "col"], keep="last"
    )
    burned = spark.createDataFrame(
        last[["row", "col", "value"]], "row long, col long, value double"
    )

    from .transform import _with_centers

    cells = _with_centers(
        spark.range(nrows * ncols).select(
            (F.lit(row0) + F.expr(f"id div {ncols}")).cast("long").alias("row"),
            (F.lit(col0) + F.col("id") % ncols).cast("long").alias("col"),
        ),
        grid,
    )
    out = cells.join(F.broadcast(burned), ["row", "col"], "left")
    return out.withColumn("value", F.coalesce(F.col("value"), F.lit(float(fill))))
