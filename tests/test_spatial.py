"""Spatial join / tiling parity vs brute-force numpy oracles
(golden join-output parity per SURVEY.md §5: exact row-set match,
order-insensitive).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from inputosm_spark import geo
from inputosm_spark.datagen import synth_polygons
from inputosm_spark.functions import cells
from inputosm_spark.operators import spatial

N_POINTS = 4000


@pytest.fixture(scope="module")
def points(spark):
    lat, lon = cells.point_exprs("id")
    return spark.range(N_POINTS).select("id", lat, lon).cache()


@pytest.fixture(scope="module")
def points_np():
    ids = np.arange(N_POINTS)
    lat, lon = geo.point_from_id(ids)
    return ids, lat, lon


def test_pip_join_exact_vs_bruteforce(spark, points, points_np):
    polys = synth_polygons(spark)
    got = {
        (r.id, r.poly_id)
        for r in spatial.pip_join(points, polys, res=6).select("id", "poly_id").collect()
    }
    ids, lat, lon = points_np
    want = set()
    for p in polys.collect():
        inside = geo.point_in_polygon(lat, lon, p.ring_lat_e4, p.ring_lon_e4)
        want |= {(int(i), p.poly_id) for i in ids[inside]}
    assert got == want
    assert len(want) > 100  # the metro box guarantees plenty of matches


def test_pip_join_broadcast_vs_shuffle_same_result(spark, points):
    polys = synth_polygons(spark)
    a = spatial.pip_join(points, polys, res=6, broadcast_threshold=10**9)
    b = spatial.pip_join(points, polys, res=6, broadcast_threshold=0)
    rows_a = {(r.id, r.poly_id) for r in a.select("id", "poly_id").collect()}
    rows_b = {(r.id, r.poly_id) for r in b.select("id", "poly_id").collect()}
    assert rows_a == rows_b


def _knn_oracle(qlat, qlon, ids, lat, lon, k):
    d2 = (lat - qlat) ** 2 + (lon - qlon) ** 2
    order = np.lexsort((ids, d2))[:k]
    return [(int(ids[i]), int(d2[i]), r + 1) for r, i in enumerate(order)]


def test_knn_join_exact_vs_bruteforce(spark, points, points_np):
    ids, lat, lon = points_np
    qlat, qlon = geo.point_from_id(np.arange(900_000, 900_040))
    queries = spark.createDataFrame(
        [(int(i), int(a), int(o)) for i, (a, o) in enumerate(zip(qlat, qlon))],
        "qid long, lat_e4 long, lon_e4 long",
    )
    k = 5
    got = spatial.knn_join(queries, points, k=k, res=6).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.qid, []).append((r.neighbor_id, r.dist2, r.rank))
    for qi in range(len(qlat)):
        want = _knn_oracle(int(qlat[qi]), int(qlon[qi]), ids, lat, lon, k)
        assert sorted(by_q[qi], key=lambda t: t[2]) == want, f"qid {qi}"


def test_knn_escalation_sparse_region(spark, points, points_np):
    """Queries in sparse regions get wide proven rings (or brute force)
    and still return exactly k correct neighbors."""
    ids, lat, lon = points_np
    # corners near the poles are sparse at res 6
    qs = [(0, 899_000, -1_799_000), (1, -899_500, 1_700_000)]
    queries = spark.createDataFrame(qs, "qid long, lat_e4 long, lon_e4 long")
    k = 3
    got = spatial.knn_join(queries, points, k=k, res=6).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.qid, []).append((r.neighbor_id, r.dist2, r.rank))
    for qid, qlat, qlon in qs:
        want = _knn_oracle(qlat, qlon, ids, lat, lon, k)
        assert sorted(by_q[qid], key=lambda t: t[2]) == want


def _check_knn(spark, ids, lat, lon, qs, k, res=6):
    """knn_join over explicit numpy points == _knn_oracle, query by query."""
    points = spark.createDataFrame(
        [(int(i), int(a), int(o)) for i, a, o in zip(ids, lat, lon)],
        "id long, lat_e4 long, lon_e4 long",
    )
    queries = spark.createDataFrame(qs, "qid long, lat_e4 long, lon_e4 long")
    by_q: dict[int, list] = {}
    for r in spatial.knn_join(queries, points, k=k, res=res).collect():
        by_q.setdefault(r.qid, []).append((r.neighbor_id, r.dist2, r.rank))
    for qid, qlat, qlon in qs:
        want = _knn_oracle(qlat, qlon, np.asarray(ids), np.asarray(lat),
                           np.asarray(lon), k)
        assert sorted(by_q.get(qid, []), key=lambda t: t[2]) == want, f"qid {qid}"


def test_knn_metro_cluster_plus_sparse_remainder(spark, points_np):
    """A dense cluster inside one res-6 cell beside the sparse uniform
    points: cluster queries need ring radius 2, sparse ones far more."""
    ids, lat, lon = points_np
    rng = np.random.default_rng(7)
    n = 600
    # res-6 cell edge is 28125 e4; keep the cluster inside one cell
    clat = 407_000 + rng.integers(-10_000, 10_000, n)
    clon = -740_000 + rng.integers(-10_000, 10_000, n)
    all_ids = np.concatenate([ids, np.arange(10**6, 10**6 + n)])
    qs = [(0, 407_000, -740_000), (1, 416_000, -731_000), (2, 440_000, -740_000),
          (3, 300_000, -700_000), (4, -500_000, 1_000_000), (5, 0, 0)]
    _check_knn(spark, all_ids, np.concatenate([lat, clat]),
               np.concatenate([lon, clon]), qs, k=7)


def test_knn_fewer_points_than_k(spark):
    """Under k points in total: every point comes back, ranked 1..n."""
    ids, lat, lon = [11, 12, 13], [10_000, -20_000, 500_000], [0, 30_000, -900_000]
    qs = [(0, 0, 0), (1, 890_000, 1_790_000)]
    _check_knn(spark, ids, lat, lon, qs, k=5)
    queries = spark.createDataFrame(qs, "qid long, lat_e4 long, lon_e4 long")
    points = spark.createDataFrame(list(zip(ids, lat, lon)),
                                   "id long, lat_e4 long, lon_e4 long")
    got = spatial.knn_join(queries, points, k=5, res=6).collect()
    assert sorted((r.qid, r.rank) for r in got) == [
        (q, rk) for q in (0, 1) for rk in (1, 2, 3)
    ]


def test_knn_seam_and_polar_queries(spark, points_np):
    """Queries on the ±180° seam (both spellings of it) and in the
    polar rows, with points on the east edge (lon = +180, which the
    join cell wraps to column 0)."""
    ids, lat, lon = points_np
    east = np.array([0, 450_000, -899_000])
    all_ids = np.concatenate([ids, [10**7, 10**7 + 1, 10**7 + 2]])
    qs = [(0, 0, -1_800_000), (1, 0, 1_799_999), (2, 0, 1_800_000),
          (3, 900_000, 0), (4, -900_000, 1_799_999), (5, 899_999, -1_800_000),
          (6, 450_000, 1_790_000), (7, -899_000, 1_800_000)]
    _check_knn(spark, all_ids, np.concatenate([lat, east]),
               np.concatenate([lon, np.full(3, 1_800_000)]), qs, k=4)
    # k points on the east edge share column 0 with the west edge in
    # the join, but are a world away from a query just east of -180
    west = [-1_800_000 + 40_000 * j for j in range(1, 7)]
    _check_knn(spark, list(range(10)), [0] * 10, [1_800_000] * 4 + west,
               [(0, 0, -1_795_000), (1, 0, 1_795_000)], k=4)


def test_knn_ties_break_by_id(spark):
    """Equidistant points (a ring of four plus duplicates at one spot):
    rank follows point id among equal distances."""
    ids = [40, 10, 30, 20, 5, 6, 99]
    lat = [100, -100, 0, 0, 5_000, 5_000, 5_000]
    lon = [0, 0, 100, -100, 0, 0, 0]
    qs = [(0, 0, 0), (1, 5_000, 0)]
    _check_knn(spark, ids, lat, lon, qs, k=3)


def test_knn_ring_radius_rule_bounds_kth_distance():
    """The radius rule, numpy only: whenever knn_ring_radii gives a
    cell radius R, every query point in the cell has its k-th distance
    within (R*w_min)^2, and every point outside ring R lies farther."""
    rng = np.random.default_rng(3)
    checked = 0
    for trial in range(40):
        res = int(rng.integers(2, 5))
        nx, ny = 2 ** (res + 1), 2**res
        k = int(rng.integers(1, 12))
        counts = rng.poisson(rng.uniform(0.05, 3.0), (ny, nx))
        if trial % 4 == 0:  # a hot cell in a sparse grid
            counts[rng.integers(ny), rng.integers(nx)] += 50
        radii = spatial.knn_ring_radii(counts, k, res)
        w_min, _ = spatial.knn_cell_widths(res)
        yy, xx = np.nonzero(counts)
        cell = geo.pack_cell(res, np.repeat(yy, counts[yy, xx]),
                             np.repeat(xx, counts[yy, xx]))
        lat_lo, lat_hi, lon_lo, lon_hi = geo.cell_bounds_e4(cell)
        plat = rng.integers(lat_lo, lat_hi)
        plon = rng.integers(lon_lo, lon_hi)
        if counts.sum() < k:
            assert (radii == -1).all()
            continue
        _, py, px = geo.unpack_cell(cell)
        for _ in range(30):
            qlat = int(rng.integers(-geo.LAT_MAX_E4, geo.LAT_MAX_E4 + 1))
            qlon = int(rng.integers(-geo.LON_MAX_E4, geo.LON_MAX_E4))
            qx, qy = (int(v) for v in geo.cell_xy(qlat, qlon, res))
            big = int(radii[qy, qx])
            if big < 0:
                continue
            assert 2 * big + 1 <= ny
            d2 = geo.dist2_e4(qlat, qlon, plat, plon)
            reach2 = (big * w_min) ** 2
            assert np.sort(d2)[k - 1] <= reach2
            outside = (np.abs(px - qx) > big) | (np.abs(py - qy) > big)
            assert (d2[outside] > reach2).all()
            checked += 1
    assert checked > 300


def test_tile_counts_vs_bruteforce(spark, points, points_np):
    ids, lat, lon = points_np
    tile_res, pixel_res = 4, 7
    flat = spatial.tile_counts(points, tile_res, pixel_res).collect()
    got = {(r.tile, r.px, r.py): r.cnt for r in flat}
    # oracle
    pc = geo.cell_id(lat, lon, pixel_res)
    _, py_all, px_all = geo.unpack_cell(pc)
    d = pixel_res - tile_res
    tiles = geo.pack_cell(
        np.full(len(ids), tile_res, np.int64), py_all >> d, px_all >> d
    )
    want: dict = {}
    side = 1 << d
    for t, x, y in zip(tiles, px_all % side, py_all % side):
        key = (int(t), int(x), int(y))
        want[key] = want.get(key, 0) + 1
    assert got == want
    # every point is assigned to exactly one tile+pixel
    assert sum(got.values()) == N_POINTS


def test_raster_vector_roundtrip(spark, points):
    tile_res, pixel_res = 4, 7
    flat = spatial.tile_counts(points, tile_res, pixel_res)
    raster = spatial.rasterize(points, tile_res, pixel_res)
    back = spatial.vectorize(raster, tile_res, pixel_res)
    # vectorize(rasterize(x)) == tile_counts(x) re-keyed by pixel cell
    want = {
        (int(geo.pack_cell(
            pixel_res,
            (geo.unpack_cell(r.tile)[1] << (pixel_res - tile_res)) + r.py,
            (geo.unpack_cell(r.tile)[2] << (pixel_res - tile_res)) + r.px,
        )), r.cnt)
        for r in flat.collect()
    }
    got = {(r.cell, r.cnt) for r in back.collect()}
    assert got == want


def test_pip_plan_broadcasts_small_polygons(spark, points):
    polys = synth_polygons(spark)
    plan = spatial.pip_join(points, polys, res=6)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pip_join_antimeridian_polygon(spark):
    """A box crossing lon ±180 (170E..170W) must match points on BOTH
    sides of the seam and nothing in the middle of the world."""
    import numpy as np
    from inputosm_spark.operators import spatial as sp

    # ring written in wrap form: 1700000 .. -1700000
    polys = spark.createDataFrame(
        [("seam", [-100000, -100000, 100000, 100000, -100000],
          [1700000, -1700000, -1700000, 1700000, 1700000])],
        "poly_id string, ring_lat_e4 array<long>, ring_lon_e4 array<long>",
    )
    pts_rows = [
        (1, 0, 1750000),     # east of seam -> inside
        (2, 0, -1750000),    # west of seam -> inside
        (3, 0, 0),           # middle of world -> outside
        (4, 0, 1650000),     # east, before the box -> outside
        (5, 150000, 1750000),  # north of the box -> outside
        (6, -99999, 1799999),  # just inside both bounds
    ]
    pts = spark.createDataFrame(
        pts_rows, "doc_id long, lat_e4 long, lon_e4 long"
    )
    got = {
        r.doc_id
        for r in sp.pip_join(pts, polys, res=6).select("doc_id").collect()
    }
    assert got == {1, 2, 6}

    # splitter sanity: two seam-free sub-rings, none spanning the seam
    from inputosm_spark import geo

    parts = geo.split_antimeridian(
        np.array([-100000, -100000, 100000, 100000]),
        np.array([1700000, -1700000, -1700000, 1700000]),
    )
    assert len(parts) == 2
    for la, lo in parts:
        assert lo.max() - lo.min() < 2 * geo.LON_MAX_E4 / 2  # < half world


def test_box_overlap_join_matches_bruteforce(spark):
    """Cell-bucketed rectangle join == brute-force on a fixture with
    boxes that span MANY grid cells, share only edges (closed-open: no
    overlap), or nest entirely."""
    from inputosm_spark.operators import spatial

    a_rows = [
        (1, 0, 50, 0, 50),            # small
        (2, 0, 250_000, 0, 250_000),  # spans 3x3 grid cells at grid=1e5
        (3, 100, 200, 100, 200),      # nested inside 2
        (4, -50, 0, -50, 0),          # touches 1 at the corner only
    ]
    b_rows = [
        (10, 25, 75, 25, 75),          # overlaps 1
        (11, 240_000, 400_000, 0, 10), # overlaps 2 in its last cell row
        (12, 0, 100, 0, 100),          # contains 3, touches 4's edge
        (13, 999_000, 999_100, 0, 10), # far away
    ]
    a = spark.createDataFrame(a_rows, "a_id long, lat0 long, lat1 long, lon0 long, lon1 long")
    b = spark.createDataFrame(b_rows, "b_id long, lat0 long, lat1 long, lon0 long, lon1 long")
    got = sorted(map(tuple, spatial.box_overlap_join(a, b, grid=100_000).collect()))

    brute = []
    for ai, al0, al1, an0, an1 in a_rows:
        for bi, bl0, bl1, bn0, bn1 in b_rows:
            ilat = min(al1, bl1) - max(al0, bl0)
            ilon = min(an1, bn1) - max(an0, bn0)
            if ilat > 0 and ilon > 0:
                brute.append((ai, bi, ilat * ilon))
    assert got == sorted(brute)
    # the closed-open edge touch (4 vs 12) must NOT be a pair
    assert (4, 12) not in {(x, y) for x, y, _ in got}


def test_box_overlap_join_rejects_inverted_box(spark):
    """r4 ADVICE: an inverted box made F.sequence generate a DESCENDING
    cell range, silently fanning the row across cells (the interval
    filter then dropped the pairs, hiding the contract violation). The
    in-plan assert_true now fails loudly."""
    import pytest
    from pyspark.sql import functions as F

    from inputosm_spark.operators import spatial

    good = spark.createDataFrame(
        [("a0", 0, 10_000, 0, 10_000)],
        "a_id string, lat0 long, lat1 long, lon0 long, lon1 long",
    )
    bad = spark.createDataFrame(
        [("b0", 20_000, 10_000, 0, 10_000)],  # lat1 <= lat0
        "b_id string, lat0 long, lat1 long, lon0 long, lon1 long",
    )
    with pytest.raises(Exception, match="inverted box"):
        spatial.box_overlap_join(good, bad).collect()
