"""The three workloads: set-up, the measured loop and their layer metrics.

Each workload calls only public functions of ``geowombat_spark`` and opens
a tracer span around every call into a layer, named after the layer
(``extract.points``, ``sops.mask``, ``checkpoint.write``, ...). One
*operation* is the unit the end-to-end latency metrics count: an AOI request
in ``aoi_queries``, one engine call of the batch job in ``vector_batch`` and
one engine call of the write cycle in ``tile_sink``. Every operation's
output is checked against an oracle outside its timed region; an exception
or a mismatch counts as a failed operation.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs as I
import oracles as O
from spans import Tracer

from geowombat_spark.grid import kring_cells, point_in_rings, rects_touch_rings, zorder_encode
from geowombat_spark.operators import extract, focal, knn, sops
from geowombat_spark.plans import checkpoint, compact
from geowombat_spark.sources.tables import load_documents

#: the aoi_queries stream is generated this long and consumed until the
#: measuring time is up
MAX_REQUESTS = 5000
#: aoi_queries requests per full pass of the request types, subset widths
#: and clip radii
BLOCK = len(I.REQUEST_TYPES) * I.LADDER
#: rows of the grid-kernel probe batch (the engine's Arrow batch size)
PROBE_ROWS = 65536


@dataclass
class Ctx:
    seconds: float
    work: str
    tracer: Tracer
    spark: object = None
    docs: object = None
    corpus_bytes: int = 0


@dataclass
class Measure:
    latencies: list = field(default_factory=list)  # seconds per operation
    failed: int = 0
    docs: int = 0  # input documents the timed operations covered
    units: int = 0  # requests, jobs or write cycles completed
    stored_bytes_per_doc: float = 0.0
    layers: dict = field(default_factory=dict)  # per-layer samples
    errors: list = field(default_factory=list)

    def sample(self, key: str, value: float) -> None:
        self.layers.setdefault(key, []).append(value)


def _timed(ctx: Ctx, m: Measure, name: str, fn):
    """Run one operation inside a span; returns (result, seconds) or
    (None, seconds) after counting an exception as a failure."""
    with ctx.tracer.span(name, op=True):
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # a failing engine call is a measured outcome
            out = None
            m.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
        dt = time.perf_counter() - t0
    m.latencies.append(dt)
    if out is None:
        m.failed += 1
    return out, dt


def _check(m: Measure, name: str, errs: list[str]) -> None:
    if errs:
        m.failed += 1
        m.errors.append(f"{name}: {'; '.join(errs[:3])}")


def write_corpus(ctx: Ctx) -> None:
    path = os.path.join(ctx.work, "corpus")
    with ctx.tracer.span("sources.corpus_write"):
        I.write_corpus(ctx.spark, path)
    ctx.corpus_bytes = _tree_bytes(path)
    ctx.docs = load_documents(ctx.spark, path)


def _tree_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (hidden ``_``/``.`` entries,
    such as the sink's manifest and Spark's markers, excluded)."""
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if not f.startswith(("_", ".")))
    return total


def _data_files(path: str) -> dict[str, list[str]]:
    """tile directory name -> data files of a tile-partitioned dataset."""
    out = {}
    for d in os.listdir(path) if os.path.isdir(path) else []:
        if d.startswith("tile_id="):
            full = os.path.join(path, d)
            out[d] = [os.path.join(full, f) for f in os.listdir(full) if not f.startswith(("_", "."))]
    return out


def read_back(path: str) -> pa.Table:
    """Every data file of a tile-partitioned dataset, read with pyarrow.
    Files of one dataset may differ in field nullability (salted and plain
    batches come from different plans), so the schemas are unified."""
    tables = [pq.read_table(f) for files in _data_files(path).values() for f in files]
    schema = pa.unify_schemas([t.schema for t in tables], promote_options="permissive")
    return pa.concat_tables([t.cast(schema) for t in tables])


def _more(m: Measure, n: int | None, min_units: int, t_start: float, seconds: float) -> bool:
    """Whether to start another job or cycle: exactly ``n`` when replaying,
    else at least ``min_units`` and until ``seconds`` have passed."""
    if n is not None:
        return m.units < n
    return m.units < min_units or time.perf_counter() - t_start < seconds


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: int) -> float:
    """q-th percentile, interpolated between samples (it never reaches past
    the largest one, so a handful of samples still gives a stable value)."""
    if len(xs) < 2:
        return float(xs[0]) if xs else 0.0
    return float(statistics.quantiles(xs, n=100, method="inclusive")[q - 1])


# ---------------------------------------------------------------------------
# aoi_queries
# ---------------------------------------------------------------------------


class AoiQueries:
    """Closed loop, one client, no think time: a seeded stream of AOI
    requests of four types against the range-sorted corpus."""

    name = "aoi_queries"

    def __init__(self, seed: int):
        self.grid = I.grid_spec()
        self.requests = I.aoi_requests(seed, MAX_REQUESTS)
        # two requests of each type warm the request paths during set-up
        self.warmup = I.aoi_requests(seed, 2 * len(I.REQUEST_TYPES), stream="warmup")

    def build(self, ctx: Ctx) -> None:
        write_corpus(ctx)

    def warm(self, ctx: Ctx) -> None:
        for req in self.warmup:
            self._call(ctx, req)

    def _call(self, ctx: Ctx, req: I.Request):
        spark, docs, grid = ctx.spark, ctx.docs, self.grid
        if req.points is not None:
            aoi = pd.DataFrame(
                {"id": np.arange(len(req.points)), "x": req.points[:, 0], "y": req.points[:, 1]}
            )
            return extract.extract_points(
                spark, docs, aoi, grid, bands=["blue", "green", "red"], ordered=False
            ).toPandas()
        if req.window is not None:
            r0, r1, c0, c1 = req.window
            df = sops.subset(docs, grid, left=c0 * I.CELL, top=-r0 * I.CELL, rows=r1 - r0, cols=c1 - c0)
        else:
            poly = pd.DataFrame({"fid": [0], "rings": [[list(r) for r in req.rings]]})
            df = sops.clip_by_polygon(docs, poly, grid, mask_data=False)
        return _summary(df)

    def measure(self, ctx: Ctx, n: int | None = None) -> Measure:
        """Send requests until ``ctx.seconds`` have passed and a pass is
        complete (or exactly ``n`` requests, to replay an earlier pass)."""
        m = Measure()
        t_start = time.perf_counter()
        for i, req in enumerate(self.requests):
            # stop only at the end of a whole ladder pass, so every run sends
            # each request type, subset width and clip radius equally often
            if i == n or (n is None and i % BLOCK == 0 and time.perf_counter() - t_start >= ctx.seconds):
                break
            layer = {"points_clustered": "extract.points", "points_scattered": "extract.points",
                     "subset": "sops.subset", "clip": "sops.clip"}[req.kind]
            with ctx.tracer.span("request", request=i, kind=req.kind):
                out, dt = _timed(ctx, m, layer, lambda: self._call(ctx, req))
            m.units += 1
            if out is None:
                continue
            if req.points is not None:
                m.docs += len(out)
                _check(m, req.kind, O.check_points(req.points, out))
                m.sample("extract.points_s", dt)
                rows, cols = I.cell_of(req.points[:, 0], req.points[:, 1])
                m.sample("extract.tiles", len(np.unique(self.grid.tile_id(rows, cols))))
            else:
                window = req.window or O.bbox_window(req.rings)
                m.docs += int(out["count"])
                _check(m, req.kind, O.check_summary(window, out))
                m.sample(f"{layer}_s", dt)
                m.sample("sops.rows", out["count"])
        m.stored_bytes_per_doc = ctx.corpus_bytes / I.N_DOCS
        return m

    def traced_extras(self, ctx: Ctx) -> dict:
        return {}

    def layer_metrics(self, m: Measure) -> dict:
        L = m.layers
        return {
            "extract.points_p50_ms": 1e3 * median(L.get("extract.points_s", [])),
            "extract.points_p90_ms": 1e3 * percentile(L.get("extract.points_s", []), 90),
            "extract.tiles_per_req": float(np.mean(L.get("extract.tiles", [0]))),
            "sops.subset_p50_ms": 1e3 * median(L.get("sops.subset_s", [])),
            "sops.clip_p50_ms": 1e3 * median(L.get("sops.clip_s", [])),
            "sops.rows_per_req": float(np.mean(L.get("sops.rows", [0]))),
        }


def _summary(df) -> dict:
    """Per-window summary computed in Spark: count, band sums, span count."""
    row = df.agg(
        F.count(F.lit(1)).alias("count"),
        *[F.sum(b).alias(b) for b in O.BANDS],
        F.sum(F.size("spans")).alias("spans"),
    ).collect()[0]
    return {k: float(v or 0) for k, v in row.asDict().items()}


# ---------------------------------------------------------------------------
# vector_batch
# ---------------------------------------------------------------------------


class VectorBatch:
    """One batch job over a seeded region, repeated until the measuring time
    is up: mask, polygon extract, focal mean and kNN join."""

    name = "vector_batch"
    min_units = 2  # a run holds two jobs at least, so each op type has two samples

    def __init__(self, seed: int):
        self.grid = I.grid_spec()
        self.inp = I.batch_inputs(seed)
        # a full-size job over other seeded inputs warms every UDF path and
        # plan shape during set-up
        self.warm_inp = I.batch_inputs(seed, stream="warmup")
        self.knn_want, self.n_candidates = O.knn_expected(
            self.inp.region, self.inp.queries, I.KNN_K, I.KNN_RING
        )

    def build(self, ctx: Ctx) -> None:
        write_corpus(ctx)

    def warm(self, ctx: Ctx) -> None:
        for _, step in self._steps(ctx, self.warm_inp):
            step()

    def _steps(self, ctx: Ctx, inp: I.BatchInputs):
        spark, grid = ctx.spark, self.grid
        region = _region_frame(ctx, grid, inp.region)
        polys = pd.DataFrame(
            {"fid": np.arange(len(inp.polygons)), "rings": [[list(r) for r in p] for p in inp.polygons]}
        )

        def mask():
            kept = sops.mask(region, polys, grid, all_touched=True)
            return kept.filter(F.col("band_blue").isNotNull()).select("row", "col").toPandas()

        def polygons():
            return extract.extract_polygons(spark, ctx.docs, polys, grid).toPandas()

        def moving():
            return focal.moving(region, grid, stat="mean", w=I.FOCAL_W).toPandas()

        def join():
            q = extract.encode_points_pdf(
                pd.DataFrame({"qid": np.arange(len(inp.queries)), "x": inp.queries[:, 0], "y": inp.queries[:, 1]}),
                grid,
            )
            qdf = spark.createDataFrame(q[["qid", "row", "col", "x", "y"]])
            return knn.knn_join(qdf, region, grid, k_neighbors=I.KNN_K, k_ring=I.KNN_RING).toPandas()

        return [("sops.mask", mask), ("extract.polygons", polygons), ("focal.moving", moving), ("knn.join", join)]

    def measure(self, ctx: Ctx, n: int | None = None) -> Measure:
        inp, m = self.inp, Measure()
        region_docs = inp.region[2] * inp.region[3]
        checks = {
            "sops.mask": lambda out: O.check_mask(inp.region, inp.polygons, out),
            "extract.polygons": lambda out: O.check_polygon_extract(inp.polygons, out),
            "focal.moving": lambda out: O.check_focal(inp.region, I.FOCAL_W, out),
            "knn.join": lambda out: O.check_knn(self.knn_want, out),
        }
        t_start = time.perf_counter()
        while _more(m, n, self.min_units, t_start, ctx.seconds):
            with ctx.tracer.span("job", request=m.units):
                for name, fn in self._steps(ctx, inp):
                    out, dt = _timed(ctx, m, name, fn)
                    m.sample(f"{name}_s", dt)
                    if out is None:
                        continue
                    _check(m, name, checks[name](out))
                    if name == "sops.mask":
                        m.sample("sops.mask_hit_ratio", len(out) / region_docs)
                    elif name == "extract.polygons":
                        m.sample("extract.sample_points", len(out))
                    elif name == "knn.join":
                        m.sample("knn.rows", len(out))
            m.units += 1
            m.docs += region_docs
        m.stored_bytes_per_doc = ctx.corpus_bytes / I.N_DOCS
        return m

    def layer_metrics(self, m: Measure) -> dict:
        L = m.layers
        return {
            "sops.mask_s": median(L["sops.mask_s"]),
            "sops.mask_hit_ratio": median(L.get("sops.mask_hit_ratio", [0])),
            "extract.polygons_s": median(L["extract.polygons_s"]),
            "extract.sample_points": median(L.get("extract.sample_points", [0])),
            "focal.moving_s": median(L["focal.moving_s"]),
            "knn.join_s": median(L["knn.join_s"]),
            "knn.candidates_per_query": self.n_candidates / len(self.inp.queries),
            "knn.useful_ratio": median(L.get("knn.rows", [0])) / self.n_candidates,
        }

    def traced_extras(self, ctx: Ctx) -> dict:
        """Counts that need their own Spark job (halo blow-up) and the grid
        kernel probes; run after the traced pass, outside its spans."""
        inp, grid = self.inp, self.grid
        region = _region_frame(ctx, grid, inp.region)
        n_in = region.count()
        n_halo = focal.halo_assignments(region.select("row", "col"), grid, I.FOCAL_W // 2).count()
        return {"focal.halo_rows_ratio": n_halo / n_in, **grid_probes(inp)}


def _region_frame(ctx: Ctx, grid, region: tuple):
    row0, col0, rows, cols = region
    return sops.subset(ctx.docs, grid, left=col0 * I.CELL, top=-row0 * I.CELL, rows=rows, cols=cols)


def _rate(fn, items: int) -> float:
    """Items per second of ``fn``, repeated until 0.2 s have passed."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= 0.2:
            return items * reps / dt


def grid_probes(inp: I.BatchInputs) -> dict:
    """Time the grid kernels directly on one Arrow-batch-sized (65,536-row)
    batch of the region's cell centers, cycled to fill the batch, against
    the run's own polygons."""
    grid = I.grid_spec()
    rr, cc = I.region_cells(inp.region)
    rows, cols = np.resize(rr, PROBE_ROWS), np.resize(cc, PROBE_ROWS)
    cx, cy = I.cell_center(rows, cols)
    rings = [[np.asarray(r) for r in p] for p in inp.polygons]
    n, n_poly = len(rows), len(rings)
    edges = sum(len(r) // 2 - 1 for p in rings for r in p)

    def pip():
        for p in rings:
            point_in_rings(cx, cy, p)

    def touch():
        for p in rings:
            rects_touch_rings(cx, cy, I.CELL / 2, I.CELL / 2, p)

    return {
        "grid.pip_mpts_per_s": _rate(pip, n * n_poly) / 1e6,
        "grid.touch_mpts_per_s": _rate(touch, n * n_poly) / 1e6,
        "grid.zorder_mpts_per_s": _rate(lambda: zorder_encode(rows, cols), n) / 1e6,
        "grid.kring_mpts_per_s": _rate(lambda: kring_cells(grid, rows, cols, I.KNN_RING), n) / 1e6,
        "grid.pip_edge_tests": float(n * edges),
    }


# ---------------------------------------------------------------------------
# tile_sink
# ---------------------------------------------------------------------------


class TileSink:
    """One write cycle through the checkpointed sink, repeated until the
    measuring time is up: a first pass killed at half its batches, the
    resume, an audit, compaction and a second audit."""

    name = "tile_sink"
    min_units = 2

    def __init__(self, seed: int):
        self.hot = I.hot_tile(seed)
        self.tiles = I.sink_tiles()
        self.n_batches = -(-len(self.tiles) // I.SINK_BATCH_TILES)
        hr, hc = I.hot_cells(self.hot)
        rr, cc = np.divmod(np.arange(I.SINK_DOCS, dtype=np.int64), I.NCOLS)
        self.expected = pa.table(
            {
                "doc_id": pa.array([str(i) for i in range(I.SINK_DOCS)] + [f"h{k}" for k in range(len(hr))]),
                "row": np.concatenate([rr, hr]),
                "col": np.concatenate([cc, hc]),
            }
        )

    def build(self, ctx: Ctx) -> None:
        """The sink's input is the closed-form corpus plan itself: writing it
        is the measured work, so there is no corpus to build."""

    def warm(self, ctx: Ctx) -> None:
        """A two-tile cycle, the hot tile included, one tile per batch:
        every job shape of the write path runs once."""
        other = self.tiles[0] if self.hot != self.tiles[0] else self.tiles[1]
        inp = (
            I.corpus_frame(ctx.spark, I.SINK_DOCS)
            .filter(F.col("tile_id").isin([self.hot, other]))
            .unionByName(I.hot_tile_frame(ctx.spark, self.hot))
        )
        self._cycle(ctx, inp, os.path.join(ctx.work, "sink-warm"), Measure(), batch_tiles=1, n_batches=2)

    def _input(self, ctx: Ctx):
        return I.corpus_frame(ctx.spark, I.SINK_DOCS).unionByName(I.hot_tile_frame(ctx.spark, self.hot))

    def _cycle(self, ctx: Ctx, inp, out: str, m: Measure, batch_tiles: int, n_batches: int,
               expected: pa.Table | None = None):
        """Kill, resume, verify, compact, verify; returns the step times and
        the file counts between them. The last verify fails its operation
        when the audit or the independent read-back finds a mismatch."""
        shutil.rmtree(out, ignore_errors=True)
        args = dict(batch_tiles=batch_tiles, salt_threshold=I.SALT_THRESHOLD)

        def killed():
            try:
                checkpoint.write_tiled_checkpointed(inp, out, fail_after_batches=n_batches // 2, **args)
            except RuntimeError as e:
                if "fault injection" not in str(e):
                    raise
                return True
            raise RuntimeError("the first pass was not killed")

        def verify():
            return checkpoint.verify_against_manifest(inp, ctx.spark, out).count()

        st = {}
        _, st["write"] = _timed(ctx, m, "checkpoint.write", killed)
        _, st["resume"] = _timed(
            ctx, m, "checkpoint.resume", lambda: checkpoint.write_tiled_checkpointed(inp, out, **args)
        )
        bad, st["verify1"] = _timed(ctx, m, "checkpoint.verify", verify)
        if bad is not None:
            _check(m, "verify before compaction", [f"{bad} tiles disagree with the manifest"] if bad else [])
        files = _data_files(out)
        st["files"] = sum(len(f) for f in files.values())
        st["bytes"] = _tree_bytes(out)
        st["hot_files"] = len(files.get(f"tile_id={self.hot}", []))
        report, st["compact"] = _timed(
            ctx, m, "compact.tiles",
            lambda: compact.compact_tiles(ctx.spark, out, batch_tiles=batch_tiles).collect(),
        )
        st["report"] = report or []
        bad, st["verify2"] = _timed(ctx, m, "checkpoint.verify", verify)
        if bad is not None:
            errs = [f"{bad} tiles disagree with the manifest"] if bad else []
            if expected is not None:
                errs += O.check_sink_table(read_back(out), expected)
            _check(m, "verify after compaction", errs)
        return st

    def measure(self, ctx: Ctx, n: int | None = None) -> Measure:
        m = Measure()
        inp = self._input(ctx)
        n_docs = self.expected.num_rows
        t_start = time.perf_counter()
        while _more(m, n, self.min_units, t_start, ctx.seconds):
            out = os.path.join(ctx.work, f"sink-{m.units}")
            with ctx.tracer.span("cycle", request=m.units):
                st = self._cycle(ctx, inp, out, m, I.SINK_BATCH_TILES, self.n_batches, self.expected)
            m.units += 1
            m.docs += n_docs
            final = _data_files(out)
            rewritten = [f"tile_id={r['tile_id']}" for r in st["report"]]
            manifest = os.path.join(out, "_manifest")
            batches = 0
            if os.path.isdir(manifest):
                mf = pads.dataset(manifest, format="parquet").to_table().to_pandas()
                batches = mf.loc[mf["status"] == "ok", "batch_id"].nunique()
            for key, value in (
                ("checkpoint.write_s", st["write"]),
                ("checkpoint.resume_s", st["resume"]),
                ("checkpoint.verify_s", st["verify1"] + st["verify2"]),
                ("checkpoint.batches", batches),
                ("checkpoint.files_written", st["files"]),
                ("checkpoint.bytes_written", st["bytes"]),
                ("checkpoint.hot_tile_files", st["hot_files"]),
                ("compact.s", st["compact"]),
                ("compact.tiles_rewritten", len(rewritten)),
                ("compact.bytes_rewritten", sum(os.path.getsize(f) for t in rewritten for f in final.get(t, []))),
                ("compact.files_per_tile_after", sum(len(f) for f in final.values()) / max(len(final), 1)),
                ("stored_bytes", _tree_bytes(out)),
            ):
                m.sample(key, value)
            shutil.rmtree(out, ignore_errors=True)
        m.stored_bytes_per_doc = median(m.layers["stored_bytes"]) / n_docs
        return m

    def traced_extras(self, ctx: Ctx) -> dict:
        return {}

    def layer_metrics(self, m: Measure) -> dict:
        keys = [
            "checkpoint.write_s", "checkpoint.resume_s", "checkpoint.verify_s", "checkpoint.batches",
            "checkpoint.files_written", "checkpoint.bytes_written", "checkpoint.hot_tile_files",
            "compact.s", "compact.tiles_rewritten", "compact.bytes_rewritten", "compact.files_per_tile_after",
        ]
        return {k: median(m.layers[k]) for k in keys}


WORKLOADS = {w.name: w for w in (AoiQueries, VectorBatch, TileSink)}
