"""Seeded inputs of the benchmark.

The corpus is closed-form: every column of a document is a function of its
grid cell, so the oracles recompute any value without reading it back. The
seed picks everything else — AOI sites and requests, polygons, kNN queries,
the batch region and the hot tile — and never the amount of work: counts,
window widths, vertex counts and polygon radii are fixed multisets that the
seed only shuffles and places, so runs with different seeds stay comparable.

Only the functions that build Spark plans (:func:`doc_columns`,
:func:`corpus_frame`, :func:`write_corpus`, :func:`hot_tile_frame`) import
Spark, so the seeded generators and the oracles run without a session.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

# Grid and corpus shape: a 512 x 512-cell grid, one document per cell,
# 32 x 32-cell tiles (256 tiles), 30 m cells.
NCOLS = 512
NROWS = 512
TILE = 32
CELL = 30.0
N_DOCS = NROWS * NCOLS
CORPUS_FILES = 8

# aoi_queries
N_SITES = 32
ZIPF_S = 1.1
REQUEST_TYPES = ("points_clustered", "points_scattered", "subset", "clip")
CLUSTER_POINTS = 256
SCATTER_POINTS = 1024
CLUSTER_SIGMA = 12.0  # cells
SUBSET_MIN, SUBSET_MAX = 64, 256  # window width in cells
CLIP_RADII = (8.0, 32.0)  # cells
CLIP_VERTICES = 24
LADDER = 4  # distinct subset widths and clip radii

# vector_batch
# the region is one seeded column of tiles, REGION_ROWS x REGION_COLS cells:
# it crosses every corpus file, so its scan splits the same way for any seed
REGION_ROWS = NROWS
REGION_COLS = TILE
N_POLYGONS = 24
POLY_VERTICES = (8, 512)
POLY_RADII = (4.0, 15.0)  # cells
HOLE_EVERY = 3  # every third polygon gets a hole
HOLE_VERTICES = 16
N_KNN_QUERIES = 2048
KNN_K = 5
KNN_RING = 2
FOCAL_W = 5

# tile_sink: the first row of tiles of the corpus, plus a hot tile with
# HOT_FACTOR times the rows of a normal tile
SINK_DOCS = TILE * NCOLS
HOT_FACTOR = 8
SINK_BATCH_TILES = 8
SALT_THRESHOLD = 2 * TILE * TILE
N_HOT_EXTRA = (HOT_FACTOR - 1) * TILE * TILE


def grid_spec():
    from geowombat_spark.grid import GridSpec

    return GridSpec(
        left=0.0, top=0.0, cellx=CELL, celly=CELL, nrows=NROWS, ncols=NCOLS,
        tile_rows=TILE, tile_cols=TILE, nodata=0.0,
    )


# ---------------------------------------------------------------------------
# Closed-form corpus values (the oracles use these; corpus_frame writes the
# same expressions as Spark columns)
# ---------------------------------------------------------------------------


def band_values(row, col) -> dict[str, np.ndarray]:
    r = np.asarray(row, dtype=np.int64)
    c = np.asarray(col, dtype=np.int64)
    return {
        "band_blue": (1 + (3 * r + 5 * c) % 251).astype(np.float64),
        "band_green": (1 + (7 * r + 2 * c) % 241).astype(np.float64),
        "band_red": (1 + (r * c) % 239).astype(np.float64),
    }


def span_count(row, col) -> np.ndarray:
    """Documents on every third anti-diagonal carry a second text span."""
    r = np.asarray(row, dtype=np.int64)
    c = np.asarray(col, dtype=np.int64)
    return 2 + ((r + c) % 3 == 0).astype(np.int64)


def cell_center(row, col) -> tuple[np.ndarray, np.ndarray]:
    return (
        (np.asarray(col, dtype=np.float64) + 0.5) * CELL,
        -((np.asarray(row, dtype=np.float64) + 0.5) * CELL),
    )


def cell_of(x, y) -> tuple[np.ndarray, np.ndarray]:
    """(row, col) of the cell holding each point (points inside the grid)."""
    return (
        np.floor(-np.asarray(y, dtype=np.float64) / CELL).astype(np.int64),
        np.floor(np.asarray(x, dtype=np.float64) / CELL).astype(np.int64),
    )


def window_sums(row0: int, row1: int, col0: int, col1: int) -> dict[str, float]:
    """Closed-form summary of the half-open cell window: doc count, band
    sums and span count."""
    rr, cc = np.meshgrid(
        np.arange(row0, row1, dtype=np.int64),
        np.arange(col0, col1, dtype=np.int64),
        indexing="ij",
    )
    bands = band_values(rr, cc)
    out = {"count": float(rr.size), "spans": float(span_count(rr, cc).sum())}
    out.update({b: float(v.sum()) for b, v in bands.items()})
    return out


def doc_columns(d):
    """Add every corpus column to a frame of (doc_id, row, col)."""
    from pyspark.sql import functions as F

    from geowombat_spark.grid import with_zorder_column

    r, c = F.col("row"), F.col("col")

    def text(prefix):
        return F.struct(
            F.lit("text").alias("kind"),
            F.concat(F.lit(prefix), F.col("doc_id")).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        )

    image = F.struct(
        F.lit("image").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.concat(F.lit("s3://m/"), F.col("doc_id")).alias("media_ref"),
        F.lit(1).cast("int").alias("offset"),
    )
    d = d.withColumns(
        {
            "x": (c.cast("double") + 0.5) * CELL,
            "y": -((r.cast("double") + 0.5) * CELL),
            "band_blue": (1 + (3 * r + 5 * c) % 251).cast("double"),
            "band_green": (1 + (7 * r + 2 * c) % 241).cast("double"),
            "band_red": (1 + (r * c) % 239).cast("double"),
            "spans": F.when(
                (r + c) % 3 == 0, F.array(text("doc "), image, text("caption "))
            ).otherwise(F.array(text("doc "), image)),
            "tile_id": F.expr(f"row div {TILE}") * (NCOLS // TILE)
            + F.expr(f"col div {TILE}"),
        }
    )
    return with_zorder_column(d)


def corpus_frame(spark, n_docs: int = N_DOCS):
    """The first ``n_docs`` documents of the corpus (row-major doc index) as
    one Spark plan over ``range``."""
    from pyspark.sql import functions as F

    return doc_columns(
        spark.range(n_docs).select(
            F.col("id").cast("string").alias("doc_id"),
            F.expr(f"id div {NCOLS}").alias("row"),
            (F.col("id") % NCOLS).alias("col"),
        )
    )


def write_corpus(spark, path: str) -> None:
    """Range-sorted scan layout, as the engine's own benchmark writes it:
    rows ordered by (tile_id, cell_id) so tile predicates prune whole files
    through parquet min/max statistics."""
    from pyspark.sql import functions as F

    (
        corpus_frame(spark)
        .repartitionByRange(CORPUS_FILES, F.col("tile_id"), F.col("cell_id"))
        .sortWithinPartitions("tile_id", "cell_id")
        .write.mode("overwrite")
        .parquet(path)
    )


def expected_spans(doc_id: str, row: int, col: int) -> list[tuple]:
    spans = [("text", f"doc {doc_id}", None, 0), ("image", None, f"s3://m/{doc_id}", 1)]
    if (row + col) % 3 == 0:
        spans.append(("text", f"caption {doc_id}", None, 0))
    return spans


# ---------------------------------------------------------------------------
# Seeded workload inputs
# ---------------------------------------------------------------------------


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a stream never
    shifts the draws of another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def star_ring(cx: float, cy: float, radius: float, n: int, rng, lo: float) -> np.ndarray:
    """Closed star-shaped ring around (cx, cy), flat [x0, y0, ...]: sorted
    jittered angles, radii in [lo * radius, radius]."""
    ang = np.sort((np.arange(n) + rng.uniform(0.05, 0.95, n)) * (2 * np.pi / n))
    rad = radius * rng.uniform(lo, 1.0, n)
    xs = cx + rad * np.cos(ang)
    ys = cy + rad * np.sin(ang)
    xs = np.append(xs, xs[0])
    ys = np.append(ys, ys[0])
    return np.column_stack([xs, ys]).ravel()


def polygon(cx: float, cy: float, radius: float, n: int, rng, hole: bool) -> list[np.ndarray]:
    """Exterior star ring (radii >= 0.6 R) and optionally a hole of radius
    <= 0.3 R, which therefore lies strictly inside the exterior."""
    rings = [star_ring(cx, cy, radius, n, rng, 0.6)]
    if hole:
        rings.append(star_ring(cx, cy, 0.3 * radius, HOLE_VERTICES, rng, 0.5))
    return rings


@dataclass(frozen=True)
class Request:
    kind: str
    site: int
    points: np.ndarray | None = None  # (n, 2) x, y for extract requests
    window: tuple[int, int, int, int] | None = None  # row0, row1, col0, col1
    rings: list | None = None  # clip polygon


def aoi_sites(seed: int) -> np.ndarray:
    """N_SITES (row, col) centers, kept a full cluster radius off the edge."""
    rng = _rng(seed, "sites")
    pad = 4 * CLUSTER_SIGMA
    return np.column_stack(
        [rng.uniform(pad, NROWS - pad, N_SITES), rng.uniform(pad, NCOLS - pad, N_SITES)]
    )


def aoi_requests(seed: int, n: int, stream: str = "requests") -> list[Request]:
    """``n`` requests in blocks of four, one of each type in shuffled order,
    so every prefix of the stream has the same mix. Subset widths cycle
    through a geometric ladder from SUBSET_MIN to SUBSET_MAX and clip radii
    through a linear ladder over CLIP_RADII, each pass in shuffled order.
    Sites are drawn Zipf-like over a seeded popularity order, so popular
    areas repeat."""
    rng = _rng(seed, stream)
    sites = aoi_sites(seed)
    kinds = [k for _ in range(-(-n // 4)) for k in rng.permutation(REQUEST_TYPES)][:n]
    widths = _ladder(rng, np.rint(np.geomspace(SUBSET_MIN, SUBSET_MAX, LADDER)).astype(int), n)
    radii = _ladder(rng, np.linspace(*CLIP_RADII, LADDER), n)
    weights = 1.0 / np.arange(1, N_SITES + 1) ** ZIPF_S
    popularity = rng.permutation(N_SITES)
    site_ids = popularity[rng.choice(N_SITES, size=n, p=weights / weights.sum())]
    out = []
    for kind, s in zip(kinds, site_ids):
        sr, sc = sites[s]
        if kind == "points_clustered":
            rows = np.clip(rng.normal(sr, CLUSTER_SIGMA, CLUSTER_POINTS), 0, NROWS - 1e-6)
            cols = np.clip(rng.normal(sc, CLUSTER_SIGMA, CLUSTER_POINTS), 0, NCOLS - 1e-6)
            out.append(Request(kind, int(s), points=_rowcol_to_xy(rows, cols)))
        elif kind == "points_scattered":
            rows = rng.uniform(0, NROWS, SCATTER_POINTS)
            cols = rng.uniform(0, NCOLS, SCATTER_POINTS)
            out.append(Request(kind, int(s), points=_rowcol_to_xy(rows, cols)))
        elif kind == "subset":
            w = int(next(widths))
            row0 = int(np.clip(round(sr - w / 2), 0, NROWS - w))
            col0 = int(np.clip(round(sc - w / 2), 0, NCOLS - w))
            out.append(Request(kind, int(s), window=(row0, row0 + w, col0, col0 + w)))
        else:
            cx, cy = _rowcol_to_xy(np.array([sr]), np.array([sc]))[0]
            ring = star_ring(cx, cy, float(next(radii)) * CELL, CLIP_VERTICES, rng, 0.6)
            out.append(Request(kind, int(s), rings=[ring]))
    return out


def _ladder(rng, values: np.ndarray, n: int):
    """Endless iterator over ``values``, each pass in a fresh shuffled order."""
    for _ in range(n):
        yield from rng.permutation(values)


def _rowcol_to_xy(rows: np.ndarray, cols: np.ndarray) -> np.ndarray:
    """Continuous (row, col) cell coordinates to map (x, y)."""
    return np.column_stack([cols * CELL, -rows * CELL])


def region_cells(region: tuple[int, int, int, int]) -> tuple[np.ndarray, np.ndarray]:
    """(row, col) of every cell of a (row0, col0, rows, cols) region, row-major."""
    row0, col0, rows, cols = region
    rr, cc = np.meshgrid(
        np.arange(row0, row0 + rows, dtype=np.int64),
        np.arange(col0, col0 + cols, dtype=np.int64),
        indexing="ij",
    )
    return rr.ravel(), cc.ravel()


@dataclass(frozen=True)
class BatchInputs:
    region: tuple[int, int, int, int]  # row0, col0, rows, cols
    polygons: list  # list of ring lists
    queries: np.ndarray  # (N_KNN_QUERIES, 2) x, y


def batch_inputs(
    seed: int,
    stream: str = "batch",
    shape: tuple[int, int] = (REGION_ROWS, REGION_COLS),
    n_polygons: int = N_POLYGONS,
    n_queries: int = N_KNN_QUERIES,
) -> BatchInputs:
    """A region of ``shape`` cells at a seeded tile-aligned origin,
    ``n_polygons`` polygons inside it (vertex counts a geometric ladder over
    POLY_VERTICES, radii a linear ladder over POLY_RADII, both shuffled) and
    uniform kNN query points."""
    rng = _rng(seed, stream)
    rows, cols = shape
    row0 = TILE * int(rng.integers(0, (NROWS - rows) // TILE + 1))
    col0 = TILE * int(rng.integers(0, (NCOLS - cols) // TILE + 1))
    verts = rng.permutation(np.rint(np.geomspace(*POLY_VERTICES, n_polygons)).astype(int))
    radii = rng.permutation(np.linspace(*POLY_RADII, n_polygons))
    # one polygon per cell of a lattice over the region, jittered inside its
    # cell: the polygons always spread over the whole region
    n_c = max(1, round(np.sqrt(n_polygons * cols / rows)))
    n_r = -(-n_polygons // n_c)
    polys = []
    for i in range(n_polygons):
        rad = min(radii[i], min(rows, cols) / 2 - 1)
        fr = (i // n_c + rng.uniform(0.1, 0.9)) / n_r
        fc = (i % n_c + rng.uniform(0.1, 0.9)) / n_c
        pr = row0 + rad + fr * (rows - 2 * rad)
        pc = col0 + rad + fc * (cols - 2 * rad)
        cx, cy = _rowcol_to_xy(np.array([pr]), np.array([pc]))[0]
        polys.append(polygon(cx, cy, rad * CELL, int(verts[i]), rng, i % HOLE_EVERY == 0))
    qr = rng.uniform(row0, row0 + rows, n_queries)
    qc = rng.uniform(col0, col0 + cols, n_queries)
    return BatchInputs((row0, col0, rows, cols), polys, _rowcol_to_xy(qr, qc))


def sink_tiles() -> list[int]:
    return list(range(SINK_DOCS // (TILE * TILE)))


def hot_tile(seed: int) -> int:
    tiles = sink_tiles()
    return tiles[int(_rng(seed, "hot").integers(0, len(tiles)))]


def hot_tile_frame(spark, tile: int):
    """N_HOT_EXTRA extra documents ``h<k>`` over the cells of ``tile``, so
    the hot tile ends with HOT_FACTOR times the rows of a normal tile. Same
    columns and closed-form values as the corpus."""
    from pyspark.sql import functions as F

    tr, tc = divmod(tile, NCOLS // TILE)
    return doc_columns(
        spark.range(N_HOT_EXTRA).select(
            F.concat(F.lit("h"), F.col("id").cast("string")).alias("doc_id"),
            (F.lit(tr * TILE) + F.expr(f"(id % {TILE * TILE}) div {TILE}")).alias("row"),
            (F.lit(tc * TILE) + F.col("id") % TILE).alias("col"),
        )
    )


def hot_cells(tile: int) -> tuple[np.ndarray, np.ndarray]:
    """(row, col) of the extra hot-tile documents, in ``h<k>`` order."""
    k = np.arange(N_HOT_EXTRA, dtype=np.int64)
    tr, tc = divmod(tile, NCOLS // TILE)
    return tr * TILE + (k % (TILE * TILE)) // TILE, tc * TILE + k % TILE
