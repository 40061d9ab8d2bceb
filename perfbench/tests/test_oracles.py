"""Each oracle accepts the right answer and rejects a planted wrong one."""

import numpy as np
import pandas as pd

import oracles

SQUARE = ([0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0])
TRIANGLE = ([2.0, 3.0, 2.0], [0.0, 0.0, 1.0])


def _polys():
    return pd.DataFrame({"poly_id": [7, 8], "xs": [SQUARE[0], TRIANGLE[0]],
                         "ys": [SQUARE[1], TRIANGLE[1]]})


def _points():
    return pd.DataFrame({"row_id": [1, 2, 3], "lon": [0.5, 2.2, 2.9],
                         "lat": [0.5, 0.3, 0.9]})


def test_pip_oracle():
    right = pd.DataFrame({"row_id": [1, 2], "poly_id": [7, 8]})
    assert oracles.check_pip(right, _points(), _polys()) == []
    # point 3 lies outside the triangle: claiming it is inside must fail
    wrong = pd.DataFrame({"row_id": [1, 2, 3], "poly_id": [7, 8, 8]})
    assert oracles.check_pip(wrong, _points(), _polys())
    assert oracles.check_pip(right.iloc[:1], _points(), _polys())


def test_nearest_oracle_breaks_ties_by_grid_id():
    grid = pd.DataFrame({"grid_id": [5, 3, 9], "lon": [1.0, -1.0, 10.0],
                         "lat": [0.0, 0.0, 0.0]})
    pts = pd.DataFrame({"row_id": [1], "lon": [0.0], "lat": [0.0]})
    want = oracles.nearest_grid(pts, grid)
    assert want["grid_id"].tolist() == [3]  # equidistant from 3 and 5
    assert oracles.check_nearest(want, pts, grid) == []
    wrong = want.assign(grid_id=[5])
    assert oracles.check_nearest(wrong, pts, grid)


def test_zonal_oracle():
    raster = pd.DataFrame({"lon": [0.25, 0.75, 0.5, 5.0], "lat": [0.5, 0.5, 0.25, 5.0],
                           "mukey": [1, 2, 3, 4]})
    polys = _polys().iloc[:1]
    right = pd.DataFrame({"poly_id": [7], "n_cells": [3], "mukey_mean": [2.0]})
    assert oracles.check_zonal(right, raster, polys, "mukey") == []
    assert oracles.check_zonal(right.assign(n_cells=[4]), raster, polys, "mukey")
    assert oracles.check_zonal(right.assign(mukey_mean=[2.5]), raster, polys, "mukey")


def test_popcount():
    x = np.array([0, 1, -1, 0b1011, np.iinfo(np.int64).min], dtype=np.int64)
    assert oracles.popcount64(x).tolist() == [0, 1, 64, 3, 1]


def test_hamming_oracle():
    phash = pd.Series([0b0, 0b111, 0b1, 0b11 << 40], index=[10, 11, 12, 13])
    planted = {(10, 12)}
    right = pd.DataFrame({"id_a": [10, 10], "id_b": [11, 12], "hamming": [3, 1]})
    assert oracles.check_hamming(right, phash, planted, 4) == []
    # a missed planted twin
    assert oracles.check_hamming(right.iloc[:1], phash, planted, 4)
    # a reported pair beyond the distance
    far = pd.concat([right, pd.DataFrame({"id_a": [11], "id_b": [13], "hamming": [5]})])
    assert oracles.check_hamming(far, phash, planted, 4)
    # a wrong reported distance
    assert oracles.check_hamming(right.assign(hamming=[2, 1]), phash, planted, 4)


def test_minhash_oracle():
    caps = pd.Series(["a b c d e f", "a b c d e x", "p q r s t u"], index=[1, 2, 3])
    j12 = oracles.jaccard(caps[1], caps[2])
    assert j12 == 3 / 5
    right = pd.DataFrame({"id_a": [1], "id_b": [2], "jaccard": [j12]})
    assert oracles.check_minhash(right, caps, 0.5) == []
    wrong = pd.DataFrame({"id_a": [1], "id_b": [3], "jaccard": [0.9]})
    assert oracles.check_minhash(wrong, caps, 0.5)
    assert oracles.minhash_recall(right, {(1, 2)}) == 1.0
    assert oracles.minhash_recall(right.iloc[:0], {(1, 2)}) == 0.0


def test_short_text_is_one_shingle():
    assert oracles.shingle_set("a b") == {"a b"}


def test_topk_oracle():
    want = pd.DataFrame({"q_id": ["q0", "q0"], "row_id": [4, 9], "score": [1.5, 1.25],
                         "rank": [1, 2]})
    keys = ["q_id", "row_id", "score", "rank"]
    assert oracles.check_topk(want.copy(), want, keys) == []
    assert oracles.check_topk(want.assign(rank=[2, 1]), want, keys)
    assert oracles.check_topk(want.assign(score=[1.5, 1.250001]), want, keys)


def test_resume_oracle():
    fresh = {"rows": 10, "checksum": 123}
    assert oracles.check_resume(fresh, dict(fresh), 10, 4, 4) == []
    assert oracles.check_resume(fresh, {"rows": 10, "checksum": 124}, 10, 4, 4)
    assert oracles.check_resume(fresh, {"rows": 9, "checksum": 123}, 10, 4, 4)
    assert oracles.check_resume(fresh, dict(fresh), 11, 4, 4)
    assert oracles.check_resume(fresh, dict(fresh), 10, 16, 4)


def test_decode_oracle():
    right = pd.DataFrame({"row_id": [1], "w": [32], "h": [64], "dec_w": [32], "dec_h": [64]})
    assert oracles.check_decode(right) == []
    assert oracles.check_decode(right.assign(dec_h=[32]))
