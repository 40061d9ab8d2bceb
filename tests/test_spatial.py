"""Spatial join correctness vs independent numpy oracles, including a
BallTree-semantics brute-force kNN oracle (`raster_utils.py:16-30` parity)."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from geo_epic_spark import cells, synth
from geo_epic_spark.geometry import haversine_km, points_in_polygon
from geo_epic_spark.operators.spatial import (
    nearest_grid_join,
    pip_join,
    rasterize,
    vectorize,
    zonal_stats,
)
from geo_epic_spark.plans.checks import executed_plans

N_IMG = 1200
N_POLY = 60


@pytest.fixture(scope="module")
def imgs(spark):
    return synth.images_meta_df(spark, N_IMG).select("i", "cx", "cy").cache()


@pytest.fixture(scope="module")
def flds(spark):
    return synth.fields_df(spark, N_POLY).cache()


def _np_meta():
    return synth.images_meta_np(N_IMG)


def test_pip_join_vs_oracle(spark, imgs, flds):
    got = (
        pip_join(imgs, flds.select("poly_id", "xs", "ys"), res=0.05, lon="cx", lat="cy")
        .select("i", "poly_id")
        .toPandas()
    )
    m = _np_meta()
    fp = flds.select("poly_id", "x0", "y0", "x1", "y1").toPandas()
    want = set()
    for f in fp.itertuples():
        mask = (m["cx"] >= f.x0) & (m["cx"] <= f.x1) & (m["cy"] >= f.y0) & (m["cy"] <= f.y1)
        want |= {(int(i), int(f.poly_id)) for i in m["i"][mask]}
    assert set(map(tuple, got.values.tolist())) == want


def test_pip_join_left_keeps_unmatched(spark, imgs, flds):
    left = pip_join(
        imgs, flds.select("poly_id", "xs", "ys"), res=0.05, lon="cx", lat="cy", how="left"
    )
    n_points = imgs.count()
    ids = left.select("i").distinct().count()
    assert ids == n_points


def test_pip_general_polygon(spark):
    # concave polygon exercised through the full Spark path
    xs = [0.0, 2.0, 2.0, 1.0, 1.0, 0.0]
    ys = [40.0, 40.0, 41.0, 41.0, 42.0, 42.0]
    polys = spark.createDataFrame(
        [(1, xs, ys)], "poly_id long, xs array<double>, ys array<double>"
    )
    pts = spark.createDataFrame(
        [(1, 1.5, 41.5), (2, 0.5, 41.5), (3, 1.5, 40.5), (4, 2.5, 40.5)],
        "i long, lon double, lat double",
    )
    got = {r.i for r in pip_join(pts, polys, res=0.5).select("i").collect()}
    assert got == {2, 3}


def _np_knn(lon, lat, gid, glon, glat, k, metric="euclid_deg"):
    """Brute-force k nearest grid rows per point: numpy lexsort on
    (distance, grid_id), the engine's tie order. Returns (ids, dists), each
    of shape (n_points, k)."""
    if metric == "euclid_deg":
        d = (lon[:, None] - glon[None, :]) ** 2 + (lat[:, None] - glat[None, :]) ** 2
    else:
        d = haversine_km(lon[:, None], lat[:, None], glon[None, :], glat[None, :])
    order = np.array([np.lexsort((gid, row))[:k] for row in d])
    return gid[order], np.take_along_axis(d, order, axis=1)


def test_nearest_grid_join_vs_balltree_semantics(spark, imgs):
    grid = synth.grid_df(spark, 25, 40, 0.125)
    got = (
        nearest_grid_join(imgs, grid, res=0.125, point_id="i", point_lon="cx", point_lat="cy")
        .select("i", "grid_id")
        .toPandas()
        .sort_values("i")
    )
    m = _np_meta()
    gp = grid.toPandas()
    want, _ = _np_knn(m["cx"], m["cy"], gp.grid_id.to_numpy(), gp.lon.to_numpy(),
                      gp.lat.to_numpy(), k=1)
    assert len(got) == N_IMG
    assert np.array_equal(got.grid_id.to_numpy(), want[:, 0])


_KNN_RES, _KNN_MAX_RING = 0.1, 4


def _knn_fixture(seed):
    """A jittered 24x24 lattice at spacing == res with a 9x9-cell hole and
    shuffled grid ids, plus 100 points: 60 over the lattice (mostly resolved
    in ring 1), 30 inside the hole (no ring-1 candidate; resolved in ring 2
    or 4, or by brute force at the hole's centre) and 10 more than a degree
    east of it (no candidate within max_ring rings: brute force)."""
    rng = np.random.default_rng(seed)
    nr = nc = 24
    lon0, lat0 = -97.0 + rng.uniform(-1, 1), 38.0 + rng.uniform(-1, 1)
    rr, cc = np.divmod(np.arange(nr * nc), nc)
    hole = (np.abs(rr - 12) <= 4) & (np.abs(cc - 12) <= 4)
    glon = lon0 + (cc + 0.5 + rng.uniform(-0.1, 0.1, nr * nc)) * _KNN_RES
    glat = lat0 + (rr + 0.5 + rng.uniform(-0.1, 0.1, nr * nc)) * _KNN_RES
    gid = rng.permutation(nr * nc)
    span = nr * _KNN_RES
    lon = np.concatenate([lon0 + rng.uniform(0, span, 60),
                          lon0 + rng.uniform(7.5, 16.5, 30) * _KNN_RES,
                          lon0 + span + rng.uniform(1, 3, 10)])
    lat = np.concatenate([lat0 + rng.uniform(0, span, 60),
                          lat0 + rng.uniform(7.5, 16.5, 30) * _KNN_RES,
                          lat0 + rng.uniform(0, span, 10)])
    return (gid[~hole], glon[~hole], glat[~hole]), (lon, lat)


def _knn_frames(spark, grid, lon, lat):
    gid, glon, glat = grid
    pts = spark.createDataFrame(
        pd.DataFrame({"i": np.arange(len(lon)), "lon": lon, "lat": lat}),
        "i long, lon double, lat double",
    )
    g = spark.createDataFrame(
        pd.DataFrame({"grid_id": gid, "lon": glon, "lat": glat}),
        "grid_id long, lon double, lat double",
    )
    return pts, g


def _np_resolving_ring(lon, lat, grid, k, metric):
    """The ring (1, 2, 4) whose block first holds k candidates with the k-th
    inside the guarantee radius, else 'brute' — a numpy replay of
    nearest_grid_join's escalation, used to prove the fixture covers every
    round."""
    gid, glon, glat = grid
    shift = 2**32
    pc = cells.np_cell_id(lon, lat, _KNN_RES)
    gc = cells.np_cell_id(glon, glat, _KNN_RES)
    out = []
    for x, y, c in zip(lon, lat, pc):
        cheb = np.maximum(np.abs(gc // shift - c // shift), np.abs(gc % shift - c % shift))
        if metric == "euclid_deg":
            d = (glon - x) ** 2 + (glat - y) ** 2
        else:
            d = haversine_km(x, y, glon, glat)
        r = 1
        while r <= _KNN_MAX_RING:
            if metric == "euclid_deg":
                guard = (r * _KNN_RES) ** 2
            else:
                lat_max = min(abs(y) + r * _KNN_RES, 89.9)
                km_per_deg = min(110.574, 111.32 * np.cos(np.radians(lat_max)))
                guard = r * _KNN_RES * 0.99 * km_per_deg
            ds = np.sort(d[cheb <= r])
            if len(ds) >= k and ds[k - 1] < guard:
                break
            r *= 2
        out.append(r if r <= _KNN_MAX_RING else "brute")
    return out


@pytest.mark.parametrize("metric", ["euclid_deg", "haversine"])
@pytest.mark.parametrize("k", [1, 3])
@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_nearest_grid_join_seeded_parity(spark, seed, k, metric):
    """Row-for-row parity with the numpy lexsort oracle across seeds, for
    points resolved in ring 1, in ring 2 or 4, and by the brute-force pass."""
    grid, (lon, lat) = _knn_fixture(seed)
    rings = set(_np_resolving_ring(lon, lat, grid, k, metric))
    assert {1, "brute"} <= rings and rings & {2, 4}, rings
    gid, glon, glat = grid
    pts, g = _knn_frames(spark, grid, lon, lat)
    got = (
        nearest_grid_join(
            pts, g, res=_KNN_RES, k=k, metric=metric, max_ring=_KNN_MAX_RING,
            # odd seeds key the window/grouping on the id, even seeds on
            # all point columns
            point_id="i" if seed % 2 else None,
        )
        .toPandas()
        .sort_values(["i", "nn_rank"])
    )
    want_ids, want_d = _np_knn(lon, lat, gid, glon, glat, k, metric)
    assert len(got) == len(lon) * k
    assert (got.nn_rank.to_numpy().reshape(-1, k) == np.arange(1, k + 1)).all()
    assert np.array_equal(got.grid_id.to_numpy().reshape(-1, k), want_ids)
    d = got.nn_dist.to_numpy().reshape(-1, k)
    if metric == "euclid_deg":
        assert np.array_equal(d, want_d)  # same arithmetic: bit-identical
    else:
        np.testing.assert_allclose(d, want_d, rtol=1e-9)


@pytest.mark.parametrize("k", [1, 3])
def test_nearest_grid_ring_escalation_skips_brute_pass(spark, k):
    """Points that resolve in ring 2 or 4 never reach the brute-force pass,
    which is then absent from every job. Ring 4 explodes the point side, so
    a point's candidate rows mix with null no-candidate rows; a null must
    never rank ahead of a real candidate, or the point would fall through
    to the brute pass."""
    grid, (lon, lat) = _knn_fixture(0)
    rings = np.array(_np_resolving_ring(lon, lat, grid, k, "euclid_deg"), dtype=object)
    keep = (rings == 2) | (rings == 4)
    assert (rings == 4).any()
    lon, lat = lon[keep], lat[keep]
    gid, glon, glat = grid
    pts, g = _knn_frames(spark, grid, lon, lat)
    got = []
    plans = executed_plans(spark, lambda: got.append(nearest_grid_join(
        pts, g, res=_KNN_RES, k=k, point_id="i", max_ring=_KNN_MAX_RING,
    ).toPandas().sort_values(["i", "nn_rank"])))
    assert not any("NestedLoopJoin" in p for p in plans)
    want_ids, _ = _np_knn(lon, lat, gid, glon, glat, k)
    assert np.array_equal(got[0].grid_id.to_numpy().reshape(-1, k), want_ids)


def test_nearest_k3(spark, imgs):
    grid = synth.grid_df(spark, 25, 40, 0.125)
    got = nearest_grid_join(
        imgs.limit(50), grid, res=0.125, k=3, point_id="i", point_lon="cx", point_lat="cy"
    ).toPandas()
    assert sorted(got.nn_rank.unique().tolist()) == [1, 2, 3]
    per = got.groupby("i").size()
    assert (per == 3).all()
    # ranks are distance-ordered
    for _, g in got.groupby("i"):
        d = g.sort_values("nn_rank").nn_dist.to_numpy()
        assert (np.diff(d) >= 0).all()


def test_nearest_escalates_beyond_ring1(spark):
    # a single far-away point: nearest grid cell is many rings away
    pts = spark.createDataFrame([(1, -99.9, 40.1)], "i long, lon double, lat double")
    grid = synth.grid_df(spark, 4, 4, 0.05, lon0=-97.0, lat0=41.0)
    got = nearest_grid_join(pts, grid, res=0.05, point_id="i", max_ring=128).toPandas()
    gp = grid.toPandas()
    d2 = (gp.lon - (-99.9)) ** 2 + (gp.lat - 40.1) ** 2
    assert got.grid_id.iloc[0] == gp.grid_id[d2.idxmin()]


def test_zonal_stats(spark, flds):
    raster = synth.soil_grid_df(spark, 80, 120, 0.03)
    got = zonal_stats(
        raster, flds.select("poly_id", "xs", "ys"), value="mukey", res=0.05,
        stats=("mean", "median", "mode", "count"),
    ).toPandas().set_index("poly_id")
    rp = raster.toPandas()
    fp = flds.select("poly_id", "x0", "y0", "x1", "y1").toPandas()
    checked = 0
    for f in fp.itertuples():
        m = (rp.lon >= f.x0) & (rp.lon <= f.x1) & (rp.lat >= f.y0) & (rp.lat <= f.y1)
        if not m.any():
            assert f.poly_id not in got.index
            continue
        sub = rp[m]
        row = got.loc[f.poly_id]
        assert row.n_cells == len(sub)
        assert abs(row.mukey_mean - sub.mukey.mean()) < 1e-9
        assert abs(row.mukey_median - sub.mukey.median()) < 1e-9
        checked += 1
    assert checked > 5


def test_rasterize_vectorize_roundtrip(spark, flds):
    sub = flds.limit(12)
    rast = rasterize(sub, res=cells.RES_1KM).cache()
    # every burned cell's center is inside its zone polygon
    joined = rast.join(
        sub.select(F.col("poly_id").alias("zone"), "x0", "y0", "x1", "y1"), "zone"
    )
    bad = joined.filter(
        (F.col("lon") < F.col("x0")) | (F.col("lon") > F.col("x1"))
        | (F.col("lat") < F.col("y0")) | (F.col("lat") > F.col("y1"))
    ).count()
    assert bad == 0
    vec = vectorize(rast).toPandas()
    fp = sub.toPandas()
    assert set(vec.zone) <= set(fp.poly_id)
    # vectorized extents sit within the polygon bbox (cell centers only)
    v = vec.set_index("zone").join(fp.set_index("poly_id"))
    assert (v.lon_min >= v.x0 - cells.RES_1KM).all()
    assert (v.lon_max <= v.x1 + cells.RES_1KM).all()


# ---------------------------------------------------------------------------
# polygon_stats + cell_rollup
# ---------------------------------------------------------------------------

def test_polygon_stats_known_shapes(spark):
    from geo_epic_spark.operators.spatial import polygon_stats

    rows = [
        # unit square, CCW: area 1, perimeter 4, centroid (.5, .5)
        (1, [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0]),
        # same square CW: signed area -1
        (2, [0.0, 0.0, 1.0, 1.0], [0.0, 1.0, 1.0, 0.0]),
        # 3-4-5 right triangle: area 6, perimeter 12, centroid (4/3, 1)
        (3, [0.0, 4.0, 0.0], [0.0, 0.0, 3.0]),
        # degenerate segment: zero area, NULL centroid
        (4, [0.0, 1.0], [0.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "poly_id long, xs array<double>, ys array<double>"
    )
    got = {r["poly_id"]: r for r in polygon_stats(df).collect()}
    assert got[1]["area"] == pytest.approx(1.0)
    assert got[1]["signed_area"] == pytest.approx(1.0)
    assert got[1]["perimeter"] == pytest.approx(4.0)
    assert (got[1]["cx"], got[1]["cy"]) == (pytest.approx(0.5), pytest.approx(0.5))
    assert got[2]["signed_area"] == pytest.approx(-1.0)
    assert (got[2]["cx"], got[2]["cy"]) == (pytest.approx(0.5), pytest.approx(0.5))
    assert got[3]["area"] == pytest.approx(6.0)
    assert got[3]["perimeter"] == pytest.approx(12.0)
    assert (got[3]["cx"], got[3]["cy"]) == (pytest.approx(4 / 3), pytest.approx(1.0))
    assert got[4]["area"] == 0.0
    assert got[4]["cx"] is None and got[4]["cy"] is None


def test_polygon_stats_duckdb_parity(spark):
    """The generated DuckDB expressions reproduce every metric on the
    fields fixture bit-for-bit (identical fold order)."""
    import duckdb

    from geo_epic_spark import synth
    from geo_epic_spark.operators.spatial import polygon_stats, sql_polygon_stats

    flds = synth.fields_df(spark, 50).select("poly_id", "xs", "ys")
    got = {
        r["poly_id"]: (r["area"], r["signed_area"], r["perimeter"], r["cx"], r["cy"])
        for r in polygon_stats(flds).collect()
    }
    ex = sql_polygon_stats()
    sql = f"""
    WITH corners AS ({synth.fields_sql(50)}),
    polys AS (
      SELECT poly_id, [x0, x1, x1, x0] AS xs, [y0, y0, y1, y1] AS ys
      FROM corners
    )
    SELECT poly_id, {ex['area']} AS area, {ex['signed_area']} AS signed_area,
           {ex['perimeter']} AS perimeter, {ex['cx']} AS cx, {ex['cy']} AS cy
    FROM polys
    """
    for pid, *vals in duckdb.connect().execute(sql).fetchall():
        assert got[pid] == tuple(vals), pid


def test_polygon_stats_plan_map_only(spark):
    from geo_epic_spark import synth
    from geo_epic_spark.operators.spatial import polygon_stats
    from geo_epic_spark.plans.checks import formatted_plan

    plan = formatted_plan(polygon_stats(synth.fields_df(spark, 10)))
    assert "Exchange" not in plan and "Python" not in plan, plan


def test_cell_rollup_counts_and_parity(spark):
    from geo_epic_spark import synth
    from geo_epic_spark.cells import cell_id
    from geo_epic_spark.operators.spatial import cell_rollup

    pts = synth.images_meta_df(spark, 2000).select(
        F.col("cx").alias("lon"), F.col("cy").alias("lat")
    )
    out = cell_rollup(pts, res=0.05, levels=3).collect()
    by_level = {}
    for r in out:
        by_level.setdefault(r["level"], []).append(r)
    # every level partitions all points
    for l in range(3):
        assert sum(r["n_points"] for r in by_level[l]) == 2000
    # coarser levels have no more cells than finer ones
    assert len(by_level[2]) <= len(by_level[1]) <= len(by_level[0])
    # level-l counts equal an independent single-res aggregation
    for l in (0, 2):
        brute = {
            r["cell"]: r["n"]
            for r in pts.groupBy(
                cell_id(F.col("lon"), F.col("lat"), 0.05 * 2 ** l).alias("cell")
            ).agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert {r["cell"]: r["n_points"] for r in by_level[l]} == brute


def test_cell_rollup_single_exchange(spark):
    import re

    from geo_epic_spark import synth
    from geo_epic_spark.operators.spatial import cell_rollup
    from geo_epic_spark.plans.checks import formatted_plan

    pts = synth.images_meta_df(spark, 100).select(
        F.col("cx").alias("lon"), F.col("cy").alias("lat")
    )
    plan = formatted_plan(cell_rollup(pts, res=0.05, levels=4))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


class TestAdaptiveCells:
    def test_cap_respected_and_hot_splits_deeper(self, spark):
        from geo_epic_spark.operators.spatial import adaptive_cells

        pts = synth.images_meta_df(spark, 4000).select("i", "cx", "cy")
        out = adaptive_cells(pts, base_res=0.4, max_depth=4, cap=120,
                             lon="cx", lat="cy")
        rows = out.collect()
        assert len(rows) == 4000  # every point assigned exactly once
        occ = {}
        for r in rows:
            occ[(r.level, r.cell)] = occ.get((r.level, r.cell), 0) + 1
        # cells below max depth respect the cap
        for (lvl, _), n in occ.items():
            if lvl < 4:
                assert n <= 120
        # HOT points tile strictly deeper than the background median
        import statistics
        hot_lvls = [r.level for r in rows if r.i % 5 == 0]
        bg_lvls = [r.level for r in rows if r.i % 5 != 0]
        assert statistics.median(hot_lvls) > statistics.median(bg_lvls)

    def test_counts_broadcast(self, spark):
        from geo_epic_spark.operators.spatial import adaptive_cells

        pts = synth.images_meta_df(spark, 1000).select("i", "cx", "cy")
        plan = (adaptive_cells(pts, base_res=0.4, max_depth=3, cap=100,
                               lon="cx", lat="cy")
                ._jdf.queryExecution().executedPlan().toString())
        assert "BroadcastHashJoin" in plan

    def test_point_id_keeps_exact_duplicate_rows(self, spark):
        from geo_epic_spark.operators.spatial import adaptive_cells

        # r5 ADVICE regression: two points at the IDENTICAL location must
        # each keep their own output row when a unique point_id is given
        # (the all-columns grouping collapses them).
        rows = [(1, 5.0, 5.0), (2, 5.0, 5.0), (3, 7.3, 2.1)]
        pts = spark.createDataFrame(rows, "pid long, lon double, lat double")
        out = adaptive_cells(pts, base_res=0.4, max_depth=2, cap=10,
                             lon="lon", lat="lat", point_id="pid")
        got = {r.pid: (r.level, r.cell) for r in out.collect()}
        assert set(got) == {1, 2, 3}
        assert got[1] == got[2]  # same location -> same cell, but both rows


class TestMosaic:
    def test_every_covered_cell_gets_best_tile(self, spark):
        from geo_epic_spark.operators.spatial import mosaic_best_tile

        # two overlapping tiles: B is higher-res and must win the overlap
        rows = [(1, 0.0, 0.0, 0.02, 0.02, 100),
                (2, 0.01, 0.01, 0.03, 0.03, 400)]
        df = spark.createDataFrame(
            rows, "i long, lon_min double, lat_min double, "
                  "lon_max double, lat_max double, px long")
        got = {r.cell: (r.i, r.score) for r in mosaic_best_tile(
            df, res=0.01, score=F.col("px"), tile_id="i").collect()}
        from geo_epic_spark import cells as C
        import numpy as np
        # the overlap cell (covering both) belongs to tile 2
        overlap = C.np_cell_id(np.array([0.015]), np.array([0.015]), 0.01)[0]
        assert got[overlap] == (2, 400)
        # a cell only tile 1 covers stays with tile 1
        only1 = C.np_cell_id(np.array([0.005]), np.array([0.005]), 0.01)[0]
        assert got[only1] == (1, 100)

    def test_tie_breaks_lowest_id(self, spark):
        from geo_epic_spark.operators.spatial import mosaic_best_tile

        rows = [(7, 0.0, 0.0, 0.005, 0.005, 64),
                (3, 0.0, 0.0, 0.005, 0.005, 64)]
        df = spark.createDataFrame(
            rows, "i long, lon_min double, lat_min double, "
                  "lon_max double, lat_max double, px long")
        got = mosaic_best_tile(df, res=0.01, score=F.col("px"),
                               tile_id="i").collect()
        assert all(r.i == 3 for r in got)
