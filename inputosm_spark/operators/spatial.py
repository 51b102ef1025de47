"""Spatial operators: cell-bucketed point-in-polygon join, k-ring kNN
join, raster<->vector tiling (north_star core).

The reference has no general joins — its two-pass ID join
(/root/reference/test/integration/extract_ferries.cpp:43-107) is the
pattern these generalize: *bucket first, exact-match second*. Here the
bucket is a grid cell, the exact phase is a vectorized numpy kernel in
an Arrow UDF, and Catalyst/AQE picks broadcast vs shuffle.

Scale design (100 TB corpus, 1000 executors):
* PIP: the polygon side is polyfilled to covering cells and — when
  small (the common case: polygon sets are dimension tables) —
  broadcast, so the point table is never shuffled at all; with a huge
  polygon side the join is a shuffled equi-join on cell where AQE
  splits skewed cells (dense metro cells are the known hot keys).
* kNN: one pass. A per-cell point count fixes each query cell's
  proven ring radius, so the ring multiplies only the small QUERY side,
  never the big point side, and no query is ever re-processed.
* exact refine runs per Arrow batch with numpy vectorized over points,
  grouped by polygon within the batch — no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from inputosm_spark import geo
from inputosm_spark.functions import cells

# ---------------------------------------------------------------------------
# polygon covering cells (polyfill) — Arrow UDF over numpy
# ---------------------------------------------------------------------------


_CELL_FULL = ArrayType(
    StructType(
        [StructField("cell", LongType(), False), StructField("full", BooleanType(), False)]
    )
)


def _polyfill_udf(res: int):
    @F.pandas_udf(_CELL_FULL)
    def _fill(ring_lat: pd.Series, ring_lon: pd.Series) -> pd.Series:
        out = []
        for la, lo in zip(ring_lat, ring_lon):
            cells_, full = geo.polyfill_classified(
                np.asarray(la), np.asarray(lo), res
            )
            out.append(
                [{"cell": int(c), "full": bool(f)} for c, f in zip(cells_, full)]
            )
        return pd.Series(out)

    return _fill


_RING = ArrayType(
    StructType(
        [
            StructField("ring_lat_e4", ArrayType(LongType()), False),
            StructField("ring_lon_e4", ArrayType(LongType()), False),
        ]
    )
)


@F.pandas_udf(_RING)
def _split_seam(ring_lat: pd.Series, ring_lon: pd.Series) -> pd.Series:
    """Antimeridian splitter: rings crossing lon ±180 become one
    seam-free sub-ring per 360° band (geo.split_antimeridian);
    non-crossing rings pass through unchanged."""
    out = []
    for la, lo in zip(ring_lat, ring_lon):
        parts = geo.split_antimeridian(np.asarray(la), np.asarray(lo))
        out.append(
            [
                {"ring_lat_e4": p[0].tolist(), "ring_lon_e4": p[1].tolist()}
                for p in parts
            ]
        )
    return pd.Series(out)


def split_seam_polygons(polygons: DataFrame) -> DataFrame:
    """One row per seam-free sub-ring (poly_id preserved, so a point in
    ANY sub-ring joins to the original polygon id)."""
    return polygons.select(
        "poly_id", F.explode(_split_seam("ring_lat_e4", "ring_lon_e4")).alias("r")
    ).select(
        "poly_id",
        F.col("r.ring_lat_e4").alias("ring_lat_e4"),
        F.col("r.ring_lon_e4").alias("ring_lon_e4"),
    )


def polygon_cells(polygons: DataFrame, res: int) -> DataFrame:
    """polygons -> (poly_id, ring_lat_e4, ring_lon_e4, cell, full)
    exploded covering-cell rows. The cover is exact-classified
    (geo.polyfill_classified): `full` cells lie entirely inside the
    polygon (no refine needed), non-full cells are boundary cells that
    the exact ray-cast refine resolves after the equi-join.
    """
    return split_seam_polygons(polygons).withColumn(
        "cf", F.explode(_polyfill_udf(res)("ring_lat_e4", "ring_lon_e4"))
    ).select("*", F.col("cf.cell").alias("cell"), F.col("cf.full").alias("full")).drop(
        "cf"
    )


# ---------------------------------------------------------------------------
# exact refine — even-odd ray cast, vectorized per polygon within batch
# ---------------------------------------------------------------------------


@F.pandas_udf(BooleanType())
def _pip_refine(
    lat: pd.Series,
    lon: pd.Series,
    poly_id: pd.Series,
    ring_lat: pd.Series,
    ring_lon: pd.Series,
) -> pd.Series:
    """Vectorized point-in-polygon refine. Candidate rows arrive as
    (point, poly_id, polygon-ring) tuples; rows are grouped by poly_id
    (a cheap vectorized factorize — never per-row ring hashing) so the
    numpy kernel runs once per polygon per batch over all its points
    (batch ~16k rows, polygon count per batch is small).
    """
    plat = lat.to_numpy(dtype=np.int64)
    plon = lon.to_numpy(dtype=np.int64)
    out = np.zeros(len(lat), dtype=bool)
    codes, _ = pd.factorize(poly_id, sort=False)
    for g in np.unique(codes):
        ii = np.nonzero(codes == g)[0]
        ra = np.asarray(ring_lat.iloc[ii[0]], dtype=np.int64)
        ro = np.asarray(ring_lon.iloc[ii[0]], dtype=np.int64)
        out[ii] = geo.point_in_polygon(plat[ii], plon[ii], ra, ro)
    return pd.Series(out)


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = 7,
    broadcast_threshold: int = 100_000,
    point_cell: str | None = None,
    force_broadcast: bool | None = None,
) -> DataFrame:
    """Cell-bucketed point-in-polygon join.

    points: (id, lat_e4, lon_e4 [, cell_r{res} precomputed]) — any extra
    columns pass through. polygons: schemas.POLYGONS.
    Returns points' columns + poly_id for every (point, polygon)
    containment pair (half-open boundary rule, see geo.point_in_polygon).

    Antimeridian-safe: rings crossing lon +/-180 are split into
    seam-free sub-rings per 360-degree band before polyfill
    (split_seam_polygons / geo.split_antimeridian), so coverage and
    containment hold on both sides of the seam.

    Physical strategy: polygon covering cells are counted; below
    `broadcast_threshold` exploded rows the polygon side is broadcast
    (point table untouched by shuffle — the 100 TB plan), otherwise a
    shuffled equi-join on cell with AQE skew splitting.
    """
    # cache the exploded covering cells: the count() below and the join
    # both consume them — without the cache the polyfill UDF runs twice
    pcells = polygon_cells(polygons, res).cache()
    cell_col = (
        F.col(point_cell)
        if point_cell
        else cells.cell_id_expr("lat_e4", "lon_e4", res)
    )
    from inputosm_spark.operators import ensure_parallelism

    pts = ensure_parallelism(points).withColumn("__cell", cell_col)

    # plan choice: measured (count) unless the caller already knows the
    # build side's size class — `force_broadcast` skips the measuring
    # job entirely (one fewer serial driver-side barrier per run; at
    # high parallelism these sync points are what Amdahl eats first)
    if force_broadcast is None:
        n_poly_cells = pcells.count()  # tiny aggregate; drives the plan choice
        do_broadcast = n_poly_cells <= broadcast_threshold
    else:
        do_broadcast = force_broadcast
    # split the build side: interior ("full") cells join WITHOUT the
    # ring arrays — interior candidates (the bulk: polygon area) are
    # contained by construction, so copying rings into them would be
    # pure memory traffic; only boundary cells carry rings into the
    # Arrow-UDF exact refine, so Python + memory work scales with
    # polygon perimeter, not area
    right_full = pcells.filter(F.col("full")).select(
        F.col("cell").alias("__cell"), "poly_id"
    )
    right_edge = pcells.filter(~F.col("full")).select(
        F.col("cell").alias("__cell"), "poly_id", "ring_lat_e4", "ring_lon_e4"
    )
    if do_broadcast:
        right_full = F.broadcast(right_full)
        right_edge = F.broadcast(right_edge)

    inside_full = pts.join(right_full, "__cell").drop("__cell")
    refined = (
        pts.join(right_edge, "__cell")
        .filter(_pip_refine("lat_e4", "lon_e4", "poly_id", "ring_lat_e4",
                            "ring_lon_e4"))
        .drop("__cell", "ring_lat_e4", "ring_lon_e4")
    )
    return inside_full.unionAll(refined)


# ---------------------------------------------------------------------------
# k-ring kNN join
# ---------------------------------------------------------------------------


def knn_cell_widths(res: int) -> tuple[int, int]:
    """(w_min, w_max): integer e4 bounds on the res-grid cell edge,
    floored and ceiled over both axes (the real edges are 2*180/nx and
    2*90/ny degrees)."""
    nx, ny = 2 ** (res + 1), 2**res
    w_min = min((2 * geo.LON_MAX_E4) // nx, (2 * geo.LAT_MAX_E4) // ny)
    w_max = max(-(-2 * geo.LON_MAX_E4 // nx), -(-2 * geo.LAT_MAX_E4 // ny))
    return w_min, w_max


def knn_ring_radii(counts: np.ndarray, k: int, res: int) -> np.ndarray:
    """Proven kNN ring radius per cell of a (ny, nx) point-count grid.

    For each cell, r is the smallest radius whose (2r+1)^2 square
    (clipped at the grid edges, not wrapped in lon) holds >= k points;
    every such point lies within sqrt(2)*(r+1)*w_max of any query in
    the cell, so the k-th distance is at most that. R is the smallest
    integer with R*w_min >= sqrt(2)*(r+1)*w_max, and every point
    outside ring R is farther than R*w_min: the top-k inside ring R is
    exact. R is capped so that 2R+1 <= ny (the ring never spans the
    grid, and its wrapped lon offsets never repeat a cell); cells with
    no radius under the cap get -1 (brute force).
    """
    ny, nx = counts.shape
    w_min, w_max = knn_cell_widths(res)
    r_cap = (ny - 1) // 2
    rr = np.arange(r_cap + 1, dtype=np.int64)
    need = 2 * ((rr + 1) * w_max) ** 2
    big = np.ceil(np.sqrt(need) / w_min).astype(np.int64)
    big += (big * w_min) ** 2 < need  # float ceil may fall one short
    r_hi = int(np.searchsorted(big, r_cap, side="right")) - 1
    if r_hi < 0:
        return np.full((ny, nx), -1, dtype=np.int64)
    pre = np.zeros((ny + 1, nx + 1), dtype=np.int64)
    pre[1:, 1:] = counts.cumsum(0).cumsum(1)
    yy, xx = np.mgrid[0:ny, 0:nx]

    def square(r):
        y0, y1 = np.clip(yy - r, 0, ny), np.clip(yy + r + 1, 0, ny)
        x0, x1 = np.clip(xx - r, 0, nx), np.clip(xx + r + 1, 0, nx)
        return pre[y1, x1] - pre[y0, x1] - pre[y1, x0] + pre[y0, x0]

    # per-cell binary search for the smallest r (square counts grow with r)
    lo = np.zeros((ny, nx), dtype=np.int64)
    hi = np.full((ny, nx), r_hi + 1, dtype=np.int64)
    while (open_ := lo < hi).any():
        mid = (lo + hi) // 2
        ok = square(mid) >= k
        hi = np.where(open_ & ok, mid, hi)
        lo = np.where(open_ & ~ok, mid + 1, lo)
    return np.where(lo <= r_hi, big[np.minimum(lo, r_hi)], -1)


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    res: int = 6,
    id_col: str = "id",
    qid_col: str = "qid",
) -> DataFrame:
    """k nearest points for each query row, exact.

    queries: (qid, lat_e4, lon_e4); points: (id, lat_e4, lon_e4).
    Distance = exact integer squared planar e4 distance (dist2_e4),
    ties broken by point id — a total order, so the result set is
    engine-independent and oracle-checkable. Fewer than k points in
    total return every point, ranked.

    One pass: per-cell point counts (one aggregate of <= nx*ny rows)
    give each cell a ring radius R (knn_ring_radii); each query
    explodes its ring R, equi-joins the points on cell, keeps a window
    top-k. Exact: ring R holds >= k points nearer than R*w_min and
    every point outside it is farther. The plan re-checks that bound
    and raises if it fails; cells with no radius are brute-forced.
    The count grid is dense (nx*ny cells, 8192 at res 6).
    """
    nx, ny = 2 ** (res + 1), 2**res
    w_min, _ = knn_cell_widths(res)

    from inputosm_spark.operators import ensure_parallelism

    base = points.select(
        F.col(id_col).alias("__pid"),
        F.col("lat_e4").alias("__plat"),
        F.col("lon_e4").alias("__plon"),
        cells.cell_id_expr("lat_e4", "lon_e4", res).alias("__cell"),
    )
    pts = ensure_parallelism(base)
    # the count grid keeps lon == +180 on the east edge, where it lies;
    # the join cell wraps it to column 0, which the ring reaches by wrap
    counts = (
        base.groupBy("__cell", (F.col("__plon") >= geo.LON_MAX_E4).alias("__east"))
        .count()
        .collect()
    )
    grid = np.zeros((ny, nx), dtype=np.int64)
    if counts:
        _, y, x = geo.unpack_cell(np.array([r[0] for r in counts], dtype=np.int64))
        x = np.where([r[1] for r in counts], nx - 1, x)
        np.add.at(grid, (y, x), [r[2] for r in counts])
    radii = knn_ring_radii(grid, k, res)
    yy, xx = np.mgrid[0:ny, 0:nx]
    lookup = queries.sparkSession.createDataFrame(
        pd.DataFrame(
            {
                "__cell": geo.pack_cell(res, yy.ravel(), xx.ravel()),
                "__R": radii.ravel().astype(np.int32),
            }
        )
    )

    qs = queries.select(
        F.col(qid_col).alias("__qid"),
        F.col("lat_e4").alias("__qlat"),
        F.col("lon_e4").alias("__qlon"),
        cells.cell_id_expr("lat_e4", "lon_e4", res).alias("__cell"),
    ).join(F.broadcast(lookup), "__cell")

    cand = (
        qs.filter(F.col("__R") >= 0)
        .select(
            "__qid",
            "__qlat",
            "__qlon",
            "__R",
            F.explode(cells.kring_expr("__qlat", "__qlon", res, F.col("__R"))).alias(
                "__cell"
            ),
        )
        .join(pts, "__cell")
        .select(
            "__qid",
            "__pid",
            "__R",
            cells.dist2_expr("__qlat", "__qlon", "__plat", "__plon").alias("__d2"),
        )
    )
    w = Window.partitionBy("__qid").orderBy("__d2", "__pid")
    ranked = (
        cand.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count("*").over(Window.partitionBy("__qid")))
        .filter(F.col("__rn") <= k)
    )
    # the radius proof in the plan: k candidates, k-th within R*w_min
    reach = F.col("__R").cast("long") * F.lit(w_min)
    broken = (F.col("__n") < k) | ((F.col("__rn") == k) & (F.col("__d2") > reach * reach))
    results = ranked.select(
        "__qid",
        "__pid",
        "__d2",
        F.when(
            broken,
            F.raise_error(F.lit("knn_join: k-th distance outside the proven ring")),
        )
        .otherwise(F.col("__rn"))
        .alias("__rn"),
    )
    if (radii < 0).any():
        # cells with no provable ring: tiny query side x full point scan
        brute = (
            F.broadcast(qs.filter(F.col("__R") < 0))
            .crossJoin(pts.drop("__cell"))
            .select(
                "__qid",
                "__pid",
                cells.dist2_expr("__qlat", "__qlon", "__plat", "__plon").alias(
                    "__d2"
                ),
            )
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
        )
        results = results.unionAll(brute)

    return results.select(
        F.col("__qid").alias(qid_col),
        F.col("__pid").alias("neighbor_id"),
        F.col("__d2").alias("dist2"),
        F.col("__rn").alias("rank"),
    )


# ---------------------------------------------------------------------------
# raster <-> vector tiling
# ---------------------------------------------------------------------------


def tile_counts(points: DataFrame, tile_res: int, pixel_res: int) -> DataFrame:
    """Flat raster: per-tile per-pixel point counts.

    A "tile" is a grid cell at tile_res; its pixels are the
    2^(d) x 2^(d) sub-cells at pixel_res (d = pixel_res - tile_res).
    Pure column math -> fully oracle-checkable.
    """
    if pixel_res <= tile_res:
        raise ValueError("pixel_res must exceed tile_res")
    d = pixel_res - tile_res
    px_cell = cells.cell_id_expr("lat_e4", "lon_e4", pixel_res)
    df = points.withColumn("__pc", px_cell)
    x = F.col("__pc").bitwiseAND(F.lit((1 << geo._Y_SHIFT) - 1))
    y = F.shiftrightunsigned("__pc", geo._Y_SHIFT).bitwiseAND(
        F.lit((1 << (geo._RES_SHIFT - geo._Y_SHIFT)) - 1)
    )
    return (
        df.select(
            (F.lit(tile_res) * F.lit(1 << geo._RES_SHIFT)
             + F.shiftrightunsigned(y, d) * F.lit(1 << geo._Y_SHIFT)
             + F.shiftrightunsigned(x, d)).alias("tile"),
            F.pmod(x, F.lit(1 << d)).cast("int").alias("px"),
            F.pmod(y, F.lit(1 << d)).cast("int").alias("py"),
        )
        .groupBy("tile", "px", "py")
        .agg(F.count("*").alias("cnt"))
    )


_RASTER_SCHEMA = StructType(
    [
        StructField("tile", LongType(), False),
        StructField("pixels", ArrayType(LongType()), False),
    ]
)


def rasterize(points: DataFrame, tile_res: int, pixel_res: int) -> DataFrame:
    """Dense raster tiles: (tile, pixels row-major array of counts).

    groupBy(tile) + applyInPandas with a numpy bincount — the grouped
    vectorized-UDF path (reference span-callback analog) for the data
    shape SQL can't express (fixed-size dense arrays).
    """
    d = pixel_res - tile_res
    side = 1 << d
    flat = tile_counts(points, tile_res, pixel_res)

    def _to_raster(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pix = np.zeros(side * side, dtype=np.int64)
        np.add.at(pix, pdf["py"].to_numpy() * side + pdf["px"].to_numpy(),
                  pdf["cnt"].to_numpy())
        return pd.DataFrame({"tile": [key[0]], "pixels": [pix.tolist()]})

    return flat.groupBy("tile").applyInPandas(_to_raster, _RASTER_SCHEMA)


def vectorize(raster: DataFrame, tile_res: int, pixel_res: int) -> DataFrame:
    """Inverse of rasterize: dense tiles -> (cell at pixel_res, cnt)
    rows for non-zero pixels. rasterize ∘ vectorize is the identity on
    non-zero pixel counts (tested).
    """
    d = pixel_res - tile_res
    side = 1 << d
    tx = F.col("tile").bitwiseAND(F.lit((1 << geo._Y_SHIFT) - 1))
    ty = F.shiftrightunsigned("tile", geo._Y_SHIFT).bitwiseAND(
        F.lit((1 << (geo._RES_SHIFT - geo._Y_SHIFT)) - 1)
    )
    exploded = raster.select(
        tx.alias("__tx"), ty.alias("__ty"), F.posexplode("pixels").alias("i", "cnt")
    ).filter(F.col("cnt") > 0)
    px = F.pmod("i", F.lit(side))
    py = (F.col("i") / side).cast("long")
    return exploded.select(
        (F.lit(pixel_res) * F.lit(1 << geo._RES_SHIFT)
         + (F.col("__ty") * side + py) * F.lit(1 << geo._Y_SHIFT)
         + (F.col("__tx") * side + px)).alias("cell"),
        "cnt",
    )


# ---------------------------------------------------------------------------
# box-overlap (rectangle-intersection) spatial join
# ---------------------------------------------------------------------------


def _grid_cells(df: DataFrame, grid: int) -> DataFrame:
    """Explode each closed-open box [lat0,lat1) x [lon0,lon1) into the
    (ci, cj) grid cells it intersects — pure sequence/explode column
    math, no UDF. Boxes must be non-empty (lat1 > lat0, lon1 > lon0):
    enforced with an in-plan assert_true (the engine's loud-failure
    pattern, r4 ADVICE) — an inverted box would otherwise make
    F.sequence generate a DESCENDING cell range, silently fanning the
    bad row across cells before the exact interval filter drops it.
    """
    g = F.lit(grid)
    guard = F.assert_true(
        (F.col("lat1") > F.col("lat0")) & (F.col("lon1") > F.col("lon0")),
        F.lit("box_overlap_join: empty or inverted box (need lat1>lat0 "
              "and lon1>lon0)"),
    )
    out = df.withColumn(
        "__ci",
        F.explode(
            F.sequence(
                # assert_true is NULL when the predicate holds, so the
                # guard is a free +0 on the happy path
                F.floor(F.col("lat0") / g)
                + F.coalesce(guard.cast("long"), F.lit(0)),
                F.floor((F.col("lat1") - 1) / g),
            )
        ),
    )
    return out.withColumn(
        "__cj",
        F.explode(
            F.sequence(
                F.floor(F.col("lon0") / g), F.floor((F.col("lon1") - 1) / g)
            )
        ),
    )


def box_overlap_join(
    a_boxes: DataFrame,
    b_boxes: DataFrame,
    a_id: str = "a_id",
    b_id: str = "b_id",
    grid: int = 100_000,
) -> DataFrame:
    """Rectangle-intersection JOIN: all (a, b) pairs whose closed-open
    boxes [lat0,lat1) x [lon0,lon1) overlap, with the exact integer
    intersection area — the polygon-overlap primitive (bbox phase of
    any polygon-polygon join).

    Shape: *bucket first, exact-match second* (the engine's PIP/kNN
    pattern). Both sides explode into covering grid cells and
    equi-join on (ci, cj) — never a cross join: two overlapping boxes
    both cover their intersection's cell, so the cell join is a
    guaranteed candidate SUPERSET; the exact closed-open interval test
    + area are then plain column arithmetic, and duplicates from
    multi-cell overlaps collapse with one distinct.

    Sizing: fan-out per box = ceil(h/grid) * ceil(w/grid); pick `grid`
    near the typical box size so most boxes hit 1-4 cells. A giant box
    (continental outlier) fans out proportionally — cap or split such
    boxes upstream, same guardrail as lsh_candidate_pairs' max_bucket.
    """
    a = _grid_cells(
        a_boxes.select(F.col(a_id), "lat0", "lat1", "lon0", "lon1"), grid
    ).select(
        a_id, "__ci", "__cj",
        F.col("lat0").alias("alat0"), F.col("lat1").alias("alat1"),
        F.col("lon0").alias("alon0"), F.col("lon1").alias("alon1"),
    )
    b = _grid_cells(b_boxes.select(b_id, "lat0", "lat1", "lon0", "lon1"), grid).select(
        b_id, "__ci", "__cj",
        F.col("lat0").alias("blat0"), F.col("lat1").alias("blat1"),
        F.col("lon0").alias("blon0"), F.col("lon1").alias("blon1"),
    )
    ilat = F.least("alat1", "blat1") - F.greatest("alat0", "blat0")
    ilon = F.least("alon1", "blon1") - F.greatest("alon0", "blon0")
    return (
        a.join(b, ["__ci", "__cj"])
        .filter((ilat > 0) & (ilon > 0))
        .select(
            a_id, b_id,
            (ilat * ilon).cast("long").alias("inter_area"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# segment-intersection (proper-crossing) spatial join
# ---------------------------------------------------------------------------


def _seg_cells(df: DataFrame, grid: int) -> DataFrame:
    """Explode each segment (x0,y0)-(x1,y1) into the grid cells of its
    bounding box — INCLUSIVE floor-divided ranges over least/greatest,
    so degenerate (axis-parallel or zero-length) segments cover their
    single row/column of cells rather than tripping an emptiness guard
    (unlike `_grid_cells`, whose closed-open boxes must be non-empty).
    The bbox cover is a proven superset of the cells the segment
    touches; the exact crossing test prunes the slack."""
    g = F.lit(grid)
    out = df.withColumn(
        "__ci",
        F.explode(
            F.sequence(
                F.floor(F.least("y0", "y1") / g),
                F.floor(F.greatest("y0", "y1") / g),
            )
        ),
    )
    return out.withColumn(
        "__cj",
        F.explode(
            F.sequence(
                F.floor(F.least("x0", "x1") / g),
                F.floor(F.greatest("x0", "x1") / g),
            )
        ),
    )


def segment_intersection_join(
    a_segs: DataFrame,
    b_segs: DataFrame,
    a_id: str = "a_id",
    b_id: str = "b_id",
    grid: int = 100_000,
) -> DataFrame:
    """PROPER-CROSSING segment intersection join: all (a, b) pairs
    whose open segments strictly cross — the computational-geometry
    core of road/boundary overlay analytics (reference analog: the way
    geometry assembly feeding `extract_ferries`-style pipelines,
    /root/reference/examples/; the reference itself never intersects
    geometries — engine extension).

    Exactness: integer orientation tests only. With d1,d2 the cross
    products of segment CD against A and B, and d3,d4 of AB against C
    and D, a strict crossing is (d1,d2 opposite signs) AND (d3,d4
    opposite signs). Collinear overlaps and endpoint touches are
    EXCLUDED by contract (no epsilon anywhere; the DuckDB oracle
    replays the identical integer formula). Coordinates up to ~2^30
    are safe: cross products stay < 2^62.

    Scale shape: candidates come from an equi-join on covering grid
    cells of each segment's bbox (never a cartesian / theta join —
    same plan contract as box_overlap_join); DISTINCT dedups pairs
    found in several cells. Long diagonal segments inflate the bbox
    cover quadratically — pick `grid` at or above the typical segment
    length, exactly like the box join's cell sizing.
    """
    a = _seg_cells(
        a_segs.select(
            F.col(a_id),
            F.col("x0").alias("ax0"), F.col("y0").alias("ay0"),
            F.col("x1").alias("ax1"), F.col("y1").alias("ay1"),
            F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"),
        ),
        grid,
    ).drop("x0", "y0", "x1", "y1")
    b = _seg_cells(
        b_segs.select(
            F.col(b_id),
            F.col("x0").alias("bx0"), F.col("y0").alias("by0"),
            F.col("x1").alias("bx1"), F.col("y1").alias("by1"),
            F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"),
        ),
        grid,
    ).drop("x0", "y0", "x1", "y1")

    def cross(ox, oy, px, py, qx, qy):
        return (F.col(px) - F.col(ox)) * (F.col(qy) - F.col(oy)) - (
            F.col(py) - F.col(oy)
        ) * (F.col(qx) - F.col(ox))

    d1 = cross("bx0", "by0", "bx1", "by1", "ax0", "ay0")
    d2 = cross("bx0", "by0", "bx1", "by1", "ax1", "ay1")
    d3 = cross("ax0", "ay0", "ax1", "ay1", "bx0", "by0")
    d4 = cross("ax0", "ay0", "ax1", "ay1", "bx1", "by1")
    opposite = lambda u, v: ((u > 0) & (v < 0)) | ((u < 0) & (v > 0))  # noqa: E731
    return (
        a.join(b, ["__ci", "__cj"])
        .filter(opposite(d1, d2) & opposite(d3, d4))
        .select(a_id, b_id)
        .distinct()
    )


# ---------------------------------------------------------------------------
# polyline simplification (perpendicular-deviation vertex filter)
# ---------------------------------------------------------------------------


def simplify_polyline(
    points: DataFrame,
    eps: int,
    way_col: str = "way_id",
    order_cols: tuple[str, ...] = ("pos",),
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """One-pass polyline simplification: an interior vertex survives
    iff its perpendicular deviation from the chord of its immediate
    neighbors exceeds `eps` (endpoints always survive) — the windowed,
    oracle-replayable member of the simplification family (Douglas-
    Peucker is inherently sequential-recursive; this is the standard
    streaming approximation used when one pass over sorted vertices is
    all a 100 TB corpus affords).

    Exactness: |cross((next-prev), (p-prev))| > eps * floor(sqrt(
    |next-prev|^2)) — all integer except the floor-sqrt, which is
    correctly rounded in both engines at these magnitudes (same
    argument as way_length's segment lengths), so the DuckDB oracle
    replays the verdict bit-for-bit. The comparison uses
    floor(|chord|), biasing at most one deviation unit toward KEEPING
    a vertex — documented contract, never engine-divergent.

    Scale shape: one window per way, partitioned on the way key.
    Way vertex counts are bounded (OSM caps ways at 2000 nodes), so a
    per-way window partition never concentrates unbounded rows on one
    reducer — the situation asof_join's bucketed windows exist for
    does not arise here.
    """
    w = Window.partitionBy(way_col).orderBy(*order_cols)
    px, py = F.lag(x_col).over(w), F.lag(y_col).over(w)
    nx, ny = F.lead(x_col).over(w), F.lead(y_col).over(w)
    dx, dy = nx - px, ny - py
    cross = dx * (F.col(y_col) - py) - dy * (F.col(x_col) - px)
    chord = F.floor(F.sqrt(dx * dx + dy * dy))
    keep = (
        px.isNull()
        | nx.isNull()
        | (F.abs(cross) > F.lit(eps) * chord)
    )
    # window expressions can't sit in a filter directly
    return points.withColumn("__keep", keep).filter("__keep").drop("__keep")


# ---------------------------------------------------------------------------
# density clustering (grid-partitioned DBSCAN) + trajectory stay-points
# ---------------------------------------------------------------------------


def dbscan(
    points: DataFrame,
    eps: int,
    min_pts: int,
    id_col: str = "id",
) -> DataFrame:
    """Grid-partitioned DBSCAN over integer-e4 points — the density
    clustering step of spatial curation (POI conflation, settlement
    detection, hot-spot grouping). Input (id, lat_e4, lon_e4);
    output (id, cluster, role) with role in core|border|noise,
    cluster = min core id density-reachable (-1 for noise). Border
    points that reach several clusters take the MIN cluster label —
    a deterministic refinement of textbook DBSCAN's arrival-order
    tie-break (which is not replayable by any oracle).

    Scale shape (the MR-DBSCAN cell decomposition): the plane is cut
    into eps-sized cells, so every eps-neighbor of a point lies in its
    3x3 cell block — the neighbor join is ONE equi-join on cell key
    (probe side exploded x9, base side untouched), never an all-pairs
    product; dense metro cells are AQE's skew problem, not a plan
    problem. Neighbor counting, core flagging and border attachment
    are single aggregations of the cached pair stream; core-core
    transitive closure reuses the engine's log-round star CC. All
    arithmetic is integer (dist2 in e4^2 units), so a brute-force SQL
    twin replays every label bit-for-bit. No antimeridian wrap: the
    eps grid is a flat cut of [-180,180] (documented; both dialects
    agree). Eps-squared stays < 2^53 for any eps <= LON span, so the
    integer dist2 is exact in both engines.
    """
    from inputosm_spark import geo
    from inputosm_spark.operators.graph import connected_components

    base = points.select(
        F.col(id_col).alias("id"),
        "lat_e4",
        "lon_e4",
        F.floor((F.col("lon_e4") + F.lit(geo.LON_MAX_E4)) / F.lit(eps)).alias("gx"),
        F.floor((F.col("lat_e4") + F.lit(geo.LAT_MAX_E4)) / F.lit(eps)).alias("gy"),
    )
    # ONE explode fans the probe side to its 9 candidate cells
    # (explode-vs-unionAll rule); the base side joins unexploded
    offs = F.array(
        *[
            F.struct(
                (F.col("gx") + F.lit(dx)).alias("gx"),
                (F.col("gy") + F.lit(dy)).alias("gy"),
            )
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = base.select(
        F.col("id").alias("a"),
        F.col("lat_e4").alias("la"),
        F.col("lon_e4").alias("lo"),
        F.explode(offs).alias("__g"),
    ).select("a", "la", "lo", "__g.gx", "__g.gy")
    dla = F.col("la") - F.col("lat_e4")
    dlo = F.col("lo") - F.col("lon_e4")
    # integer squares (** would be double pow); both fit int64 easily
    d2 = dla * dla + dlo * dlo
    # (a, b) for every b within eps of a, INCLUDING a itself (so the
    # neighbor count below matches DBSCAN's |N_eps| convention); the
    # pair stream feeds three consumers (count, core edges, border
    # attach) -> cache it (no cross-branch subplan sharing)
    pairs = (
        probe.join(base.select(F.col("id").alias("b"), "lat_e4", "lon_e4", "gx", "gy"),
                   ["gx", "gy"])
        .filter(d2 <= F.lit(int(eps) * int(eps)).cast("long"))
        .select("a", "b")
        .cache()
    )
    core = (
        pairs.groupBy("a")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= F.lit(min_pts))
        .select(F.col("a").alias("id"))
    )
    ca = core.select(F.col("id").alias("a"))
    cb = core.select(F.col("id").alias("b"))
    core_edges = (
        pairs.join(ca, "a").join(cb, "b")
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    comp = connected_components(core_edges)
    core_lab = (
        core.join(comp.withColumnRenamed("node", "id"), "id", "left")
        .select("id", F.coalesce("component", "id").alias("cluster"))
    )
    border = (
        pairs.join(core_lab.select(F.col("id").alias("b"), "cluster"), "b")
        .join(core_lab.select(F.col("id").alias("a")), "a", "left_anti")
        .groupBy("a")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("a").alias("id"), "cluster")
    )
    labeled = core_lab.select("id", "cluster", F.lit("core").alias("role")).unionAll(
        border.select("id", "cluster", F.lit("border").alias("role"))
    )
    return (
        base.select("id")
        .join(labeled, "id", "left")
        .select(
            "id",
            F.coalesce("cluster", F.lit(-1)).cast("long").alias("cluster"),
            F.coalesce("role", F.lit("noise")).alias("role"),
        )
    )


def staypoints(
    events: DataFrame,
    res: int,
    min_points: int,
    user_col: str = "user_id",
    ts_col: str = "ts_sec",
    lat_col: str = "lat_e4",
    lon_col: str = "lon_e4",
) -> DataFrame:
    """Trajectory stay-point detection: maximal runs of CONSECUTIVE
    per-user observations inside one grid cell, kept when the run has
    >= min_points observations — the trajectory-mining primitive
    behind home/work detection, POI dwell models and visit extraction.

    Gaps-and-islands over per-user windows: flag cell changes with
    lag(), prefix-sum the flags into a run id, aggregate runs. Two
    window passes and one aggregation, all partitioned by user — at
    100 TB this is ONE shuffle of the event stream on user_id (user
    histories are bounded; no partition-less window anywhere, the
    token_shards rule). Timestamps stay integer epoch seconds end to
    end (the engine's pure-epoch convention), so the oracle replays
    enter/exit/dwell bit-for-bit under any session timezone.
    """
    cell = cells.cell_id_expr(lat_col, lon_col, res)
    # window binds to the RENAMED frame below, so name it there
    w = Window.partitionBy("user_id").orderBy("ts_sec", "__cell")
    seq = events.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("ts_sec"),
        cell.alias("__cell"),
    ).withColumn(
        "__chg",
        F.when(
            F.lag("__cell").over(w).isNull()
            | (F.lag("__cell").over(w) != F.col("__cell")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("__run", F.sum("__chg").over(w))
    return (
        seq.groupBy("user_id", "__run")
        .agg(
            F.first("__cell").alias("cell"),
            F.min("ts_sec").alias("enter_sec"),
            F.max("ts_sec").alias("exit_sec"),
            F.count("*").alias("n_points"),
        )
        .filter(F.col("n_points") >= F.lit(min_points))
        .select(
            "user_id",
            "cell",
            "enter_sec",
            "exit_sec",
            (F.col("exit_sec") - F.col("enter_sec")).alias("dwell_sec"),
            "n_points",
        )
    )


def od_flows(
    events: DataFrame,
    res: int,
    user_col: str = "user_id",
    ts_col: str = "ts_sec",
    lat_col: str = "lat_e4",
    lon_col: str = "lon_e4",
) -> DataFrame:
    """Origin->destination flow matrix: for every CONSECUTIVE pair of
    per-user observations that lands in two different grid cells,
    count one movement from_cell -> to_cell, plus the distinct movers
    — the aggregate-mobility primitive behind commute matrices, tile
    demand models and flow maps (reference scope: per-entity tag
    aggregation, `/root/reference/src/inputosmpbf.cpp` way/relation
    iteration; the OD rollup is the trajectory analogue).

    One lag() window partitioned by user (bounded per-user history,
    ONE shuffle of the stream on user_id — same shape as
    `staypoints`), then a groupBy on the (from, to) pair with a
    partial-aggregating count and a distinct-user count. Self-loops
    (consecutive points in the same cell) are excluded: they are
    dwell, not movement. At 100 TB the pair-key aggregation is
    hash-partitioned; hot corridors (metro cell pairs) stay one
    reducer each but carry only counters, and AQE skew-split handles
    the shuffle read side.
    """
    cell = cells.cell_id_expr(lat_col, lon_col, res)
    w = Window.partitionBy("user_id").orderBy("ts_sec", "__cell")
    seq = events.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("ts_sec"),
        cell.alias("__cell"),
    ).withColumn("__prev", F.lag("__cell").over(w))
    return (
        seq.filter(
            F.col("__prev").isNotNull() & (F.col("__prev") != F.col("__cell"))
        )
        .groupBy(
            F.col("__prev").alias("from_cell"),
            F.col("__cell").alias("to_cell"),
        )
        .agg(
            F.count("*").alias("n_moves"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def colocation_pairs(
    obs: DataFrame,
    res: int,
    bucket_s: int,
    min_shared: int = 2,
    max_bucket: int | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts_sec",
    lat_col: str = "lat_e4",
    lon_col: str = "lon_e4",
) -> DataFrame:
    """Co-location pairs: users observed in the SAME grid cell within
    the SAME time bucket, kept when they share >= min_shared distinct
    (cell, bucket) co-presences — the contact-graph / companionship
    primitive (proximity tracing, co-travel detection, duplicate-actor
    linking).

    Shape: per-user presence set (user, cell, time-bucket) DISTINCT
    (map-side array_distinct-style dedup of repeat pings — a user
    pinging 100x in one bucket is ONE presence), then a self-equi-join
    on the (cell, bucket) key with an a<b mask and a pair-count
    aggregation. Never a cartesian: the join key is the bucket, and
    `max_bucket` drops buckets with more than that many distinct users
    entirely (the LSH skew-guard rule — a transit-hub cell-hour with
    thousands of users is all-pairs quadratic at 100 TB and carries no
    pairwise signal; the rule is a plain count predicate, so oracles
    replay the drop). Time buckets are integer floor-division epochs —
    engine-neutral and replayable.
    """
    cell = cells.cell_id_expr(lat_col, lon_col, res)
    presence = (
        obs.select(
            F.col(user_col).alias("user_id"),
            F.floor(F.col(ts_col) / F.lit(bucket_s)).cast("long").alias("tb"),
            cell.alias("cell"),
        )
        .distinct()
    )
    if max_bucket is not None:
        wb = Window.partitionBy("cell", "tb")
        presence = (
            presence.withColumn("__bn", F.count("*").over(wb))
            .filter(F.col("__bn") <= max_bucket)
            .drop("__bn")
        )
    # the presence table feeds both join sides; cache it (no
    # cross-branch subplan sharing) so the distinct runs once
    presence = presence.cache()
    a, b = presence.alias("a"), presence.alias("b")
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.tb") == F.col("b.tb"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= F.lit(min_shared))
    )


def areal_interpolation(
    boxes: DataFrame,
    res: int,
    value_col: str = "value",
) -> DataFrame:
    """Area-weighted vector->raster allocation (areal interpolation):
    each axis-aligned box distributes its integer value over every
    res-`res` grid cell it intersects, proportional to the EXACT
    integer intersection area, with floor division — the population /
    demand-surface downscaling primitive (census block -> tile),
    complementing `tile_counts` (point counting) and `rasterize`
    (membership). Per-cell output: sum of allocations + contributing
    box count.

    Boxes carry closed-open integer rects (lat0 <= lat < lat1,
    lon0 <= lon < lon1 in e4 degrees). The covering-cell fan-out is
    two `sequence()` explodes (map-side Generate, no join); the
    allocation `value * inter_area div box_area` stays in int64 under
    an in-plan assert_true guard (value bounded by 2^62 / box_area,
    compared WITHOUT multiplying — the priority_sample overflow-safe
    guard shape), and every arithmetic step is engine-neutral integer
    math a SQL oracle replays bit-for-bit. Requires a res whose cell
    edges divide the e4 grid exactly (res 5: 56250 x 56250); raises
    otherwise — a non-integral cell edge would silently shear the
    allocation.

    At 100 TB the fan-out is bounded by box perimeter / cell size per
    row (choose res so typical boxes cover O(1..100) cells) and the
    per-cell rollup is one map-side-combined shuffle.
    """
    nx, ny = 2 ** (res + 1), 2**res
    w_lon = 2 * geo.LON_MAX_E4 // nx
    w_lat = 2 * geo.LAT_MAX_E4 // ny
    if w_lon * nx != 2 * geo.LON_MAX_E4 or w_lat * ny != 2 * geo.LAT_MAX_E4:
        raise ValueError(
            f"res {res}: cell edges {2*geo.LON_MAX_E4}/{nx}, "
            f"{2*geo.LAT_MAX_E4}/{ny} are not integral"
        )
    v = F.col(value_col).cast("long")
    area = (F.col("lat1") - F.col("lat0")) * (F.col("lon1") - F.col("lon0"))
    # loud int64 guard: value * inter_area <= value * box_area < 2^62
    guard = F.assert_true(
        v <= F.lit(1 << 62) / area,
        F.lit("areal_interpolation: value * box_area would overflow int64"),
    )
    x0 = F.floor((F.col("lon0") + F.lit(geo.LON_MAX_E4)) / F.lit(w_lon))
    x1 = F.floor((F.col("lon1") - 1 + F.lit(geo.LON_MAX_E4)) / F.lit(w_lon))
    y0 = F.floor((F.col("lat0") + F.lit(geo.LAT_MAX_E4)) / F.lit(w_lat))
    y1 = F.floor((F.col("lat1") - 1 + F.lit(geo.LAT_MAX_E4)) / F.lit(w_lat))
    fan = (
        boxes.select(
            "lat0", "lat1", "lon0", "lon1",
            (v + F.coalesce(guard.cast("long"), F.lit(0))).alias("__v"),
            area.alias("__area"),
            F.explode(F.sequence(x0, x1)).alias("x"),
            y0.alias("__y0"), y1.alias("__y1"),
        )
        .select(
            "*", F.explode(F.sequence(F.col("__y0"), F.col("__y1"))).alias("y")
        )
    )
    cell_lon0 = F.col("x") * F.lit(w_lon) - F.lit(geo.LON_MAX_E4)
    cell_lat0 = F.col("y") * F.lit(w_lat) - F.lit(geo.LAT_MAX_E4)
    iw = F.least(F.col("lon1"), cell_lon0 + F.lit(w_lon)) - F.greatest(
        F.col("lon0"), cell_lon0
    )
    ih = F.least(F.col("lat1"), cell_lat0 + F.lit(w_lat)) - F.greatest(
        F.col("lat0"), cell_lat0
    )
    cell = (
        F.lit(res).cast("long") * F.lit(1 << geo._RES_SHIFT)
        + F.col("y") * F.lit(1 << geo._Y_SHIFT)
        + F.col("x")
    )
    return (
        fan.select(
            cell.alias("cell"),
            (F.col("__v") * (iw * ih)).alias("__num"),
            F.col("__area"),
        )
        # int64 `div`, never double floor(): __num reaches ~2^62 where
        # float64 division mis-floors
        .select("cell", F.expr("__num div __area").alias("alloc"))
        .groupBy("cell")
        .agg(
            F.sum("alloc").cast("long").alias("alloc_sum"),
            F.count("*").cast("long").alias("n_boxes"),
        )
    )
