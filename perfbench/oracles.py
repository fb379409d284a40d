"""Output oracles: expected values computed by the benchmark itself.

Every check takes the engine's output (pandas or pyarrow, already on the
driver) and returns a list of mismatch descriptions; an empty list means
the output is correct. The expected values come from the closed-form
corpus (``inputs``) and from independent numpy implementations: an
edge-loop even-odd point-in-polygon test, a sliding-window mean and a
brute-force nearest-neighbour search.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from inputs import (
    CELL,
    NCOLS,
    NROWS,
    band_values,
    cell_center,
    cell_of,
    region_cells,
    span_count,
    window_sums,
)

BANDS = ("band_blue", "band_green", "band_red")


def _mismatch(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, want {want!r}"]


def inside_rings(px: np.ndarray, py: np.ndarray, rings: list) -> np.ndarray:
    """Even-odd point-in-polygon, one edge at a time (holes flip parity)."""
    inside = np.zeros(px.shape[0], dtype=bool)
    for ring in rings:
        xs, ys = np.asarray(ring)[0::2], np.asarray(ring)[1::2]
        for i in range(xs.shape[0] - 1):
            x1, y1, x2, y2 = xs[i], ys[i], xs[i + 1], ys[i + 1]
            if y1 == y2:
                continue
            cross = ((y1 > py) != (y2 > py)) & (px < (x2 - x1) * (py - y1) / (y2 - y1) + x1)
            inside ^= cross
    return inside


def ring_bounds(rings: list) -> tuple[float, float, float, float]:
    xs = np.concatenate([np.asarray(r)[0::2] for r in rings])
    ys = np.concatenate([np.asarray(r)[1::2] for r in rings])
    return float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())


def bbox_window(rings: list) -> tuple[int, int, int, int]:
    """Half-open (row0, row1, col0, col1) of the cells a bbox overlaps."""
    minx, miny, maxx, maxy = ring_bounds(rings)
    return (
        max(math.floor(-maxy / CELL), 0),
        min(math.ceil(-miny / CELL), NROWS),
        max(math.floor(minx / CELL), 0),
        min(math.ceil(maxx / CELL), NCOLS),
    )


# ---------------------------------------------------------------------------
# aoi_queries
# ---------------------------------------------------------------------------


def check_points(points: np.ndarray, got: pd.DataFrame) -> list[str]:
    """One row per AOI point with the closed-form bands of its cell."""
    errs = _mismatch("point rows", len(got), len(points))
    if errs:
        return errs
    got = got.sort_values("id")
    errs += _mismatch("point ids", got["id"].tolist(), list(range(len(points))))
    if errs:
        return errs
    row, col = cell_of(points[:, 0], points[:, 1])
    want = band_values(row, col)
    for b in ("blue", "green", "red"):
        bad = int((got[b].to_numpy() != want[f"band_{b}"]).sum())
        if bad:
            errs.append(f"{bad} points with a wrong {b} value")
    return errs


def check_summary(window: tuple[int, int, int, int], got: dict) -> list[str]:
    """Doc count, band sums and span count of a cell window."""
    want = window_sums(*window)
    return [
        f"{k}: got {got.get(k)!r}, want {v!r}" for k, v in want.items() if got.get(k) != v
    ]


# ---------------------------------------------------------------------------
# vector_batch
# ---------------------------------------------------------------------------


def check_mask(region: tuple, polygons: list, kept: pd.DataFrame) -> list[str]:
    """``kept`` holds (row, col) of the cells the mask kept. Every cell whose
    center is inside a polygon must be kept; no kept cell may lie outside
    all polygon bounding boxes."""
    row0, col0, _, cols = region
    rr, cc = region_cells(region)
    cx, cy = cell_center(rr, cc)
    center_in = np.zeros(rr.shape[0], dtype=bool)
    in_box = np.zeros(rr.shape[0], dtype=bool)
    for rings in polygons:
        minx, miny, maxx, maxy = ring_bounds(rings)
        near = (cx + CELL / 2 >= minx) & (cx - CELL / 2 <= maxx) & (cy + CELL / 2 >= miny) & (cy - CELL / 2 <= maxy)
        in_box |= near
        idx = np.flatnonzero(near)
        center_in[idx] |= inside_rings(cx[idx], cy[idx], rings)
    keep = np.zeros(rr.shape[0], dtype=bool)
    k_idx = (kept["row"].to_numpy() - row0) * cols + (kept["col"].to_numpy() - col0)
    keep[k_idx] = True
    errs = []
    if len(np.unique(k_idx)) != len(k_idx):
        errs.append("mask returned a cell twice")
    missing = int((center_in & ~keep).sum())
    if missing:
        errs.append(f"{missing} cells with their center inside a polygon were not kept")
    stray = int((keep & ~in_box).sum())
    if stray:
        errs.append(f"{stray} kept cells lie outside every polygon bounding box")
    return errs


def polygon_samples(rings: list) -> tuple[np.ndarray, np.ndarray]:
    """Polygon-local lattice centers inside the polygon, row-major, on the
    grid: the cells ``extract_polygons`` must sample."""
    minx, miny, maxx, maxy = ring_bounds(rings)
    nrows, ncols = int((maxy - miny) / CELL), int((maxx - minx) / CELL)
    rr, cc = np.meshgrid(np.arange(nrows, dtype=np.float64), np.arange(ncols, dtype=np.float64), indexing="ij")
    cx = minx + (cc.ravel() + 0.5) * CELL
    cy = maxy - (rr.ravel() + 0.5) * CELL
    hit = inside_rings(cx, cy, rings)
    cx, cy = cx[hit], cy[hit]
    on_grid = (cx >= 0) & (cx < NCOLS * CELL) & (cy <= 0) & (cy > -NROWS * CELL)
    return cx[on_grid], cy[on_grid]


def check_polygon_extract(polygons: list, got: pd.DataFrame) -> list[str]:
    """Per polygon: the sample count, the sample centers and the band value
    of the cell under each."""
    errs = []
    by_fid = {fid: g.sort_values("point") for fid, g in got.groupby("fid")}
    for fid, rings in enumerate(polygons):
        cx, cy = polygon_samples(rings)
        g = by_fid.get(fid, got.iloc[:0])
        if len(g) != len(cx):
            errs.append(f"polygon {fid}: {len(g)} samples, want {len(cx)}")
            continue
        if not (np.allclose(g["x"].to_numpy(), cx) and np.allclose(g["y"].to_numpy(), cy)):
            errs.append(f"polygon {fid}: sample centers differ")
            continue
        row, col = cell_of(cx, cy)
        bad = int((g["blue"].to_numpy() != band_values(row, col)["band_blue"]).sum())
        if bad:
            errs.append(f"polygon {fid}: {bad} samples with a wrong band value")
    return errs


def focal_mean(region: tuple, w: int) -> np.ndarray:
    """w x w mean of band_blue over the region; cells outside the region
    are absent, so edge windows average the cells they hold."""
    _, _, rows, cols = region
    rr, cc = region_cells(region)
    hw = w // 2
    arr = np.pad(band_values(rr, cc)["band_blue"].reshape(rows, cols), hw, constant_values=np.nan)
    win = np.lib.stride_tricks.sliding_window_view(arr, (w, w))
    return np.nanmean(win.reshape(rows, cols, -1), axis=2)


def check_focal(region: tuple, w: int, got: pd.DataFrame) -> list[str]:
    row0, col0, rows, cols = region
    errs = _mismatch("focal rows", len(got), rows * cols)
    if errs:
        return errs
    want = focal_mean(region, w)
    r = got["row"].to_numpy() - row0
    c = got["col"].to_numpy() - col0
    if r.min() < 0 or c.min() < 0 or r.max() >= rows or c.max() >= cols:
        return ["focal rows outside the region"]
    bad = int((~np.isclose(got["band_blue_mean"].to_numpy(), want[r, c], rtol=1e-12, atol=0)).sum())
    return [f"{bad} focal means differ"] if bad else []


def knn_expected(region: tuple, queries: np.ndarray, k: int, ring: int):
    """Brute force over each query's k-ring window: the k nearest region
    cells as (doc_id, distance), ties broken on doc_id; plus the number of
    candidates each query had."""
    row0, col0, n_rows, n_cols = region
    qr, qc = cell_of(queries[:, 0], queries[:, 1])
    want, n_cand = [], 0
    for i in range(len(queries)):
        rows = np.arange(max(qr[i] - ring, row0), min(qr[i] + ring, row0 + n_rows - 1) + 1)
        cols = np.arange(max(qc[i] - ring, col0), min(qc[i] + ring, col0 + n_cols - 1) + 1)
        rr, cc = np.meshgrid(rows, cols, indexing="ij")
        tx, ty = cell_center(rr.ravel(), cc.ravel())
        dx, dy = queries[i, 0] - tx, queries[i, 1] - ty
        d2 = dx * dx + dy * dy
        ids = (rr.ravel() * NCOLS + cc.ravel()).astype(str)
        n_cand += len(ids)
        best = sorted(zip(d2.tolist(), ids.tolist()))[:k]
        want.append([(doc, math.sqrt(d)) for d, doc in best])
    return want, n_cand


def check_knn(expected: list, got: pd.DataFrame) -> list[str]:
    errs = _mismatch("knn rows", len(got), sum(len(e) for e in expected))
    if errs:
        return errs
    got = got.sort_values(["qid", "rank"])
    ids = got["doc_id"].tolist()
    dists = got["dist"].to_numpy()
    want_ids = [doc for e in expected for doc, _ in e]
    want_d = np.array([d for e in expected for _, d in e])
    bad_ids = sum(a != b for a, b in zip(ids, want_ids))
    if bad_ids:
        errs.append(f"{bad_ids} knn neighbours differ")
    if not np.allclose(dists, want_d, rtol=1e-12, atol=0):
        errs.append("knn distances differ")
    return errs


# ---------------------------------------------------------------------------
# tile_sink
# ---------------------------------------------------------------------------


def check_sink_table(table: pa.Table, expected: pa.Table) -> list[str]:
    """The stored dataset, read back with pyarrow, against the input's
    (doc_id, row, col) identity table: the same documents once each on
    the same cells, closed-form bands on every row and the exact span
    sequence of every document."""
    errs = _mismatch("stored rows", table.num_rows, expected.num_rows)
    errs += _mismatch(
        "distinct doc_ids", pc.count_distinct(table.column("doc_id")).as_py(), expected.num_rows
    )
    if errs:
        return errs
    table = table.sort_by("doc_id")
    expected = expected.sort_by("doc_id")
    for c in ("doc_id", "row", "col"):
        if not table.column(c).equals(expected.column(c)):
            return [f"stored {c} differs from the input"]
    row = table.column("row").to_numpy()
    col = table.column("col").to_numpy()
    want = band_values(row, col)
    for b in BANDS:
        got = table.column(b).to_numpy()
        bad = int((got != want[b]).sum())
        if bad:
            errs.append(f"{bad} stored rows with a wrong {b}")
    spans = table.column("spans").combine_chunks()
    n_spans = pc.list_value_length(spans).to_numpy()
    bad = int((n_spans != span_count(row, col)).sum())
    if bad:
        return errs + [f"{bad} documents with a wrong span count"]
    ids = table.column("doc_id").combine_chunks()
    flat = pc.list_flatten(spans)
    kinds = pc.struct_field(flat, "kind").to_numpy(zero_copy_only=False)
    three = n_spans == 3
    # position of each span within its document: 1 is the image, 0 and 2 text
    pos = np.arange(len(kinds)) - np.repeat(np.cumsum(n_spans) - n_spans, n_spans)
    if not (kinds == np.where(pos == 1, "image", "text")).all():
        errs.append("span kinds differ")
    checks = [
        ("first span text", pc.struct_field(pc.list_element(spans, 0), "text"), "doc "),
        ("media ref", pc.struct_field(pc.list_element(spans, 1), "media_ref"), "s3://m/"),
    ]
    idx = pa.array(np.flatnonzero(three))
    if len(idx):
        third = pc.struct_field(pc.list_element(pc.take(spans, idx), 2), "text")
        checks.append(("caption span", third, "caption "))
    for what, got, prefix in checks:
        src = ids if len(got) == len(ids) else pc.take(ids, idx)
        want_text = pc.binary_join_element_wise(prefix, src, "")
        if not pc.all(pc.equal(got, want_text)).as_py():
            errs.append(f"{what} differs")
    return errs
