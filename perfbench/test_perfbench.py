"""Tests of the benchmark itself (no Spark session needed).

Run from the root of a checkout: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import pickle
import re
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import inputs as I  # noqa: E402
import oracles as O  # noqa: E402
import run as R  # noqa: E402


def _digest(seed: int) -> bytes:
    return pickle.dumps(
        (I.aoi_requests(seed, 64), I.batch_inputs(seed), I.hot_tile(seed)), protocol=4
    )


def test_same_seed_gives_identical_inputs():
    assert _digest(7) == _digest(7)


def test_other_seed_gives_other_inputs():
    a, b = I.batch_inputs(1), I.batch_inputs(2)
    assert a.region != b.region
    assert not np.array_equal(a.polygons[0][0], b.polygons[0][0])
    ra, rb = I.aoi_requests(1, 8), I.aoi_requests(2, 8)
    assert [r.kind for r in ra] != [r.kind for r in rb] or any(
        not np.array_equal(x.points, y.points) for x, y in zip(ra, rb) if x.points is not None
    )
    assert len({I.hot_tile(s) for s in range(1, 6)}) > 1


def test_seed_does_not_change_the_amount_of_work():
    def work(seed):
        b = I.batch_inputs(seed)
        edges = sorted(len(r) // 2 for p in b.polygons for r in p)
        kinds = sorted(r.kind for r in I.aoi_requests(seed, 64))
        widths = sorted(r.window[1] - r.window[0] for r in I.aoi_requests(seed, 64) if r.window)
        return edges, kinds, widths

    assert work(1) == work(2)


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = list(R.END_TO_END) + list(R.PER_LAYER)
    assert all(re.fullmatch(r"[A-Za-z0-9_.-]+", n) for n in names)
    assert [m["name"] for m in bench["end_to_end"]] == list(R.END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == list(R.PER_LAYER)
    units = {**R.END_TO_END, **R.PER_LAYER}
    assert all(m["unit"] == units[m["name"]] for m in bench["end_to_end"] + bench["per_layer"])
    assert [w["name"] for w in bench["workloads"]] == ["aoi_queries", "vector_batch", "tile_sink"]


# ---------------------------------------------------------------------------
# oracles accept correct outputs and count injected wrong ones
# ---------------------------------------------------------------------------


def _points_output(points):
    row, col = I.cell_of(points[:, 0], points[:, 1])
    bands = I.band_values(row, col)
    return pd.DataFrame(
        {"id": np.arange(len(points)), "blue": bands["band_blue"], "green": bands["band_green"],
         "red": bands["band_red"]}
    )


def test_points_oracle():
    req = next(r for r in I.aoi_requests(3, 8) if r.points is not None)
    good = _points_output(req.points)
    assert O.check_points(req.points, good) == []
    bad = good.copy()
    bad.loc[5, "green"] += 1
    assert O.check_points(req.points, bad)
    assert O.check_points(req.points, good.iloc[1:])


def test_summary_oracle():
    want = I.window_sums(10, 20, 30, 45)
    assert O.check_summary((10, 20, 30, 45), dict(want)) == []
    assert O.check_summary((10, 20, 30, 45), {**want, "spans": want["spans"] - 1})


def test_window_sums_match_brute_force():
    got = I.window_sums(3, 7, 1000, 1024)
    docs = [(r, c) for r in range(3, 7) for c in range(1000, 1024)]
    assert got["count"] == len(docs)
    assert got["band_red"] == sum(1 + (r * c) % 239 for r, c in docs)
    assert got["spans"] == sum(3 if (r + c) % 3 == 0 else 2 for r, c in docs)


def _small_batch():
    return I.batch_inputs(5, stream="test", shape=(64, 32), n_polygons=3, n_queries=40)


def test_mask_oracle():
    b = _small_batch()
    rr, cc = I.region_cells(b.region)
    cx, cy = I.cell_center(rr, cc)
    inside = np.zeros(len(rr), dtype=bool)
    for p in b.polygons:
        inside |= O.inside_rings(cx, cy, p)
    kept = pd.DataFrame({"row": rr[inside], "col": cc[inside]})
    assert O.check_mask(b.region, b.polygons, kept) == []
    assert O.check_mask(b.region, b.polygons, kept.iloc[1:])
    far = pd.DataFrame({"row": rr[~inside][:1], "col": cc[~inside][:1]})
    boxes = O.check_mask(b.region, b.polygons, pd.concat([kept, far]))
    # a far-away cell is either outside every bbox (reported) or inside one
    assert boxes == [] or "bounding box" in boxes[0]


def test_inside_rings_hole():
    outer = np.array([0, 0, 10, 0, 10, 10, 0, 10, 0, 0], dtype=float)
    hole = np.array([4, 4, 6, 4, 6, 6, 4, 6, 4, 4], dtype=float)
    got = O.inside_rings(np.array([1.0, 5.0, 11.0]), np.array([1.0, 5.0, 5.0]), [outer, hole])
    assert got.tolist() == [True, False, False]


def test_focal_oracle_matches_loops():
    region, w = (100, 200, 6, 4), 5
    want = O.focal_mean(region, w)
    for r in range(6):
        for c in range(4):
            vals = [
                I.band_values(100 + i, 200 + j)["band_blue"]
                for i in range(max(r - 2, 0), min(r + 3, 6))
                for j in range(max(c - 2, 0), min(c + 3, 4))
            ]
            assert want[r, c] == pytest.approx(float(np.mean(vals)), rel=1e-12)
    rr, cc = I.region_cells(region)
    got = pd.DataFrame({"row": rr, "col": cc, "band_blue_mean": want.ravel()})
    assert O.check_focal(region, w, got) == []
    got.loc[3, "band_blue_mean"] += 1e-6
    assert O.check_focal(region, w, got)


def test_knn_oracle_matches_global_brute_force():
    b = _small_batch()
    want, n_cand = O.knn_expected(b.region, b.queries, I.KNN_K, I.KNN_RING)
    rr, cc = I.region_cells(b.region)
    tx, ty = I.cell_center(rr, cc)
    ids = (rr * I.NCOLS + cc).astype(str)
    for q, w in zip(b.queries, want):
        d2 = (q[0] - tx) ** 2 + (q[1] - ty) ** 2
        assert [doc for doc, _ in w] == [ids[i] for i in np.argsort(d2)[: I.KNN_K]]
    assert n_cand <= len(b.queries) * (2 * I.KNN_RING + 1) ** 2
    got = pd.DataFrame(
        [(qi, doc, d, k + 1) for qi, w in enumerate(want) for k, (doc, d) in enumerate(w)],
        columns=["qid", "doc_id", "dist", "rank"],
    )
    assert O.check_knn(want, got) == []
    swapped = got.copy()
    swapped.loc[0, "doc_id"], swapped.loc[1, "doc_id"] = got.loc[1, "doc_id"], got.loc[0, "doc_id"]
    assert O.check_knn(want, swapped)


def test_polygon_extract_oracle():
    b = _small_batch()
    rows = []
    for fid, p in enumerate(b.polygons):
        cx, cy = O.polygon_samples(p)
        r, c = I.cell_of(cx, cy)
        blue = I.band_values(r, c)["band_blue"]
        rows += [(fid, k, x, y, v) for k, (x, y, v) in enumerate(zip(cx, cy, blue))]
    got = pd.DataFrame(rows, columns=["fid", "point", "x", "y", "blue"])
    assert len(got) > 0
    assert O.check_polygon_extract(b.polygons, got) == []
    assert O.check_polygon_extract(b.polygons, got.iloc[:-1])
    bad = got.copy()
    bad.loc[0, "blue"] = 0.0
    assert O.check_polygon_extract(b.polygons, bad)


def _stored_table(ids, rows, cols):
    bands = I.band_values(rows, cols)
    spans = [
        [{"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in I.expected_spans(d, r, c)]
        for d, r, c in zip(ids, rows, cols)
    ]
    return pa.table({"doc_id": ids, "row": rows, "col": cols, **bands, "spans": spans})


def test_sink_oracle():
    rows = np.array([0, 0, 1, 5], dtype=np.int64)
    cols = np.array([0, 1, 2, 7], dtype=np.int64)
    ids = [str(r * I.NCOLS + c) for r, c in zip(rows, cols)]
    expected = pa.table({"doc_id": ids, "row": rows, "col": cols})
    good = _stored_table(ids, rows, cols)
    assert O.check_sink_table(good, expected) == []
    assert O.check_sink_table(good.slice(1), expected)
    bad_band = good.set_column(3, "band_blue", pa.array(good.column("band_blue").to_numpy() + 1))
    assert O.check_sink_table(bad_band, expected)
    spans = good.column("spans").to_pylist()
    spans[0][0]["text"] = "doc x"
    bad_span = good.set_column(good.schema.get_field_index("spans"), "spans", pa.array(spans))
    assert O.check_sink_table(bad_span, expected)


def test_injected_failure_is_counted():
    from workloads import Measure, _check

    m = Measure()
    req = next(r for r in I.aoi_requests(3, 8) if r.points is not None)
    out = _points_output(req.points)
    _check(m, "ok", O.check_points(req.points, out))
    out.loc[0, "blue"] = -1
    _check(m, "wrong", O.check_points(req.points, out))
    assert m.failed == 1 and "wrong" in m.errors[0]
