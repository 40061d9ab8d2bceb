"""The seeded generator: same seed, same tables; another seed, other tables;
planted properties present."""

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

import inputs
import oracles

SMALL = inputs.Knobs(n_img=2_000, field_cell=0.5, grid_step=0.25, soil_step=0.1,
                     n_payload=20)


def _checksum(df) -> tuple[int, int]:
    row = df.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*df.columns))).first()
    return int(row[0]), int(row[1])


@pytest.mark.parametrize("name", sorted(inputs.BUILDERS))
def test_same_seed_same_table_other_seed_other_table(spark, name):
    build = inputs.BUILDERS[name]
    a = _checksum(build(spark, 7, SMALL))
    assert a == _checksum(build(spark, 7, SMALL))
    assert a != _checksum(build(spark, 8, SMALL))


def test_written_tables_round_trip(spark, tmp_path):
    io = inputs.write_inputs(spark, str(tmp_path), 3, SMALL,
                             {"images": ["row_id", "phash"], "payload": None})
    assert io.read("images").columns == ["row_id", "phash"]
    assert _checksum(io.read("images")) == _checksum(
        inputs.images_df(spark, 3, SMALL).select("row_id", "phash"))
    payload = io.read("payload")
    assert payload.count() == SMALL.n_payload
    assert payload.where(F.length("bytes") == 0).count() == 0


def test_planted_twins_are_near_duplicates(spark):
    k = replace(SMALL, twin_frac=0.1, cap_dup=1.0)
    table = inputs.images_df(spark, 5, k).select("row_id", "phash", "caption").toPandas()
    table = table.set_index("row_id")
    twins = inputs.planted_twins(spark, 5, k).toPandas()
    assert len(twins) == k.n_img - inputs.n_base(k)
    d = oracles.popcount64(table.loc[twins["row_id"], "phash"].to_numpy()
                           ^ table.loc[twins["src"], "phash"].to_numpy())
    assert d.min() >= 1 and d.max() <= k.twin_bits
    jac = [oracles.jaccard(table.loc[a, "caption"], table.loc[b, "caption"])
           for a, b in zip(twins["row_id"], twins["src"])]
    assert sorted(jac)[len(jac) // 2] >= 0.5   # most copies stay above the threshold


def test_hot_cluster_share(spark):
    k = SMALL
    sc = inputs.scene(11, k)
    pts = inputs.images_df(spark, 11, k).select("lon", "lat").toPandas()
    inside = ((pts.lon >= sc.hot_lon0) & (pts.lon <= sc.hot_lon0 + sc.hot_w)
              & (pts.lat >= sc.hot_lat0) & (pts.lat <= sc.hot_lat0 + sc.hot_h))
    assert k.hot_frac - 0.03 < inside.mean() < k.hot_frac + k.hot_area + 0.03


def test_polygons_have_tens_of_varied_vertices(spark):
    polys = inputs.fields_df(spark, 2, SMALL).toPandas()
    n = polys["xs"].map(len)
    assert n.min() >= SMALL.vmin and n.max() <= SMALL.vmax and n.nunique() > 1


def test_hot_box_stays_inside_the_aoi():
    # outside it, points have no grid cell within reach and no polygon, and
    # nearest_grid_join falls back to its brute-force pass
    for seed in range(500):
        sc = inputs.scene(seed, SMALL)
        assert sc.lon0 <= sc.hot_lon0 and sc.hot_lon0 + sc.hot_w <= sc.lon0 + SMALL.aoi_w
        assert sc.lat0 <= sc.hot_lat0 and sc.hot_lat0 + sc.hot_h <= sc.lat0 + SMALL.aoi_h
