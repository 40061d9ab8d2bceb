"""Reference answers the benchmark checks the program's outputs against.

Each check is a plain function over numpy/pandas data (no Spark), returns a
list of failure strings (empty means pass), and is tested on its own with a
planted wrong answer in ``tests/test_oracles.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from geo_epic_spark.geometry import points_in_polygon


def _limit(fails: list[str], n: int = 5) -> list[str]:
    return fails if len(fails) <= n else fails[:n] + [f"... {len(fails) - n} more"]


# --------------------------------------------------------------------------
# site_assign
# --------------------------------------------------------------------------

def pip_membership(points: pd.DataFrame, polys: pd.DataFrame) -> dict[int, set[int]]:
    """Brute force: every polygon containing each point (bbox prefilter,
    then ``geometry.points_in_polygon``)."""
    px = points["lon"].to_numpy(np.float64)
    py = points["lat"].to_numpy(np.float64)
    ids = points["row_id"].to_numpy()
    out: dict[int, set[int]] = {int(r): set() for r in ids}
    for pid, xs, ys in zip(polys["poly_id"], polys["xs"], polys["ys"]):
        xs = np.asarray(xs, np.float64)
        ys = np.asarray(ys, np.float64)
        box = (px >= xs.min()) & (px <= xs.max()) & (py >= ys.min()) & (py <= ys.max())
        if not box.any():
            continue
        hit = np.flatnonzero(box)[points_in_polygon(px[box], py[box], xs, ys)]
        for r in ids[hit]:
            out[int(r)].add(int(pid))
    return out


def check_pip(got: pd.DataFrame, points: pd.DataFrame, polys: pd.DataFrame) -> list[str]:
    """``got`` holds (row_id, poly_id) pairs for the sampled points."""
    want = pip_membership(points, polys)
    have: dict[int, set[int]] = {r: set() for r in want}
    for r, p in zip(got["row_id"], got["poly_id"]):
        have.setdefault(int(r), set()).add(int(p))
    return _limit([f"pip row {r}: got {sorted(have.get(r, ()))} want {sorted(w)}"
                   for r, w in want.items() if have.get(r, set()) != w]
                  + [f"pip row {r}: not in sample" for r in have if r not in want])


def nearest_grid(points: pd.DataFrame, grid: pd.DataFrame) -> pd.DataFrame:
    """Argmin squared-degree distance per point, ties broken by grid_id."""
    gx = grid["lon"].to_numpy(np.float64)
    gy = grid["lat"].to_numpy(np.float64)
    gid = grid["grid_id"].to_numpy()
    order = np.argsort(gid, kind="stable")
    gx, gy, gid = gx[order], gy[order], gid[order]
    rows = []
    for r, x, y in zip(points["row_id"], points["lon"], points["lat"]):
        d = (x - gx) * (x - gx) + (y - gy) * (y - gy)
        j = int(np.argmin(d))  # first minimum = smallest grid_id among ties
        rows.append((int(r), int(gid[j]), float(d[j])))
    return pd.DataFrame(rows, columns=["row_id", "grid_id", "nn_dist"])


def check_nearest(got: pd.DataFrame, points: pd.DataFrame, grid: pd.DataFrame) -> list[str]:
    want = nearest_grid(points, grid).set_index("row_id")
    fails = []
    if len(got) != len(want) or got["row_id"].duplicated().any():
        fails.append(f"nearest: {len(got)} rows for {len(want)} points")
    for r, g, d in zip(got["row_id"], got["grid_id"], got["nn_dist"]):
        if r not in want.index:
            fails.append(f"nearest row {r}: not in sample")
            continue
        wg, wd = want.loc[r, "grid_id"], want.loc[r, "nn_dist"]
        if int(g) != int(wg) or abs(float(d) - float(wd)) > 1e-12:
            fails.append(f"nearest row {r}: got ({g}, {d}) want ({wg}, {wd})")
    return _limit(fails)


def zonal_counts(raster: pd.DataFrame, polys: pd.DataFrame, value: str) -> pd.DataFrame:
    """Per polygon: raster cells whose center is inside, and their mean."""
    px = raster["lon"].to_numpy(np.float64)
    py = raster["lat"].to_numpy(np.float64)
    v = raster[value].to_numpy(np.float64)
    rows = []
    for pid, xs, ys in zip(polys["poly_id"], polys["xs"], polys["ys"]):
        xs = np.asarray(xs, np.float64)
        ys = np.asarray(ys, np.float64)
        box = (px >= xs.min()) & (px <= xs.max()) & (py >= ys.min()) & (py <= ys.max())
        inside = points_in_polygon(px[box], py[box], xs, ys)
        n = int(inside.sum())
        if n:
            rows.append((int(pid), n, float(v[box][inside].mean())))
    return pd.DataFrame(rows, columns=["poly_id", "n_cells", "mean"])


def check_zonal(got: pd.DataFrame, raster: pd.DataFrame, polys: pd.DataFrame,
                value: str) -> list[str]:
    """``got`` holds (poly_id, n_cells, <value>_mean) for the sampled polygons."""
    want = zonal_counts(raster, polys, value).set_index("poly_id")
    have = got.set_index("poly_id")
    fails = [f"zonal poly {p}: missing" for p in want.index if p not in have.index]
    fails += [f"zonal poly {p}: unexpected" for p in have.index if p not in want.index]
    for p in want.index.intersection(have.index):
        n, m = int(have.loc[p, "n_cells"]), float(have.loc[p, f"{value}_mean"])
        if n != want.loc[p, "n_cells"] or abs(m - want.loc[p, "mean"]) > 1e-9 * abs(m):
            fails.append(f"zonal poly {p}: got ({n}, {m}) "
                         f"want ({want.loc[p, 'n_cells']}, {want.loc[p, 'mean']})")
    return _limit(fails)


# --------------------------------------------------------------------------
# dedup_search
# --------------------------------------------------------------------------

def popcount64(x: np.ndarray) -> np.ndarray:
    x = np.asarray(x, dtype=np.int64).view(np.uint64)
    n = np.zeros(x.shape, dtype=np.int64)
    for _ in range(64):
        n += (x & np.uint64(1)).astype(np.int64)
        x = x >> np.uint64(1)
    return n


def check_hamming(got: pd.DataFrame, phash: pd.Series, planted: set[tuple[int, int]],
                  max_hamming: int) -> list[str]:
    """Every planted twin pair is reported; every reported pair is within
    ``max_hamming`` bits and reported once. ``phash`` is indexed by row_id."""
    a = got["id_a"].to_numpy()
    b = got["id_b"].to_numpy()
    pairs = set(zip(a.tolist(), b.tolist()))
    fails = []
    if len(pairs) != len(got):
        fails.append(f"hamming: {len(got) - len(pairs)} duplicate pairs")
    if len(got):
        d = popcount64(phash.loc[a].to_numpy() ^ phash.loc[b].to_numpy())
        bad = np.flatnonzero((d > max_hamming) | (d != got["hamming"].to_numpy()))
        fails += [f"hamming pair ({a[i]}, {b[i]}): distance {d[i]}, "
                  f"reported {got['hamming'].iloc[i]}" for i in bad]
    fails += [f"hamming: planted twin {p} not found" for p in sorted(planted - pairs)]
    return _limit(fails)


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Word n-grams as ``minhash_lsh_pairs`` builds them: a text shorter than
    n words is one gram."""
    words = text.split()
    return {" ".join(words[i:i + n]) for i in range(max(len(words) - n, 0) + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


def check_minhash(got: pd.DataFrame, captions: pd.Series, threshold: float) -> list[str]:
    """Every reported pair's exact Jaccard meets ``threshold`` and matches
    the reported value. ``captions`` is indexed by row_id."""
    fails = []
    for a, b, j in zip(got["id_a"], got["id_b"], got["jaccard"]):
        true = jaccard(captions.loc[a], captions.loc[b])
        if true < threshold or abs(true - float(j)) > 1e-9:
            fails.append(f"minhash pair ({a}, {b}): jaccard {true}, reported {j}")
    if got[["id_a", "id_b"]].duplicated().any():
        fails.append("minhash: duplicate pairs")
    return _limit(fails)


def minhash_recall(got: pd.DataFrame, planted: set[tuple[int, int]]) -> float:
    """Found share of the planted caption pairs whose Jaccard meets the
    threshold (1.0 when none are planted)."""
    if not planted:
        return 1.0
    found = set(zip(got["id_a"].tolist(), got["id_b"].tolist()))
    return len(planted & found) / len(planted)


def check_topk(got: pd.DataFrame, want: pd.DataFrame, keys: list[str]) -> list[str]:
    """Exact row-set equality of two ranked top-k tables on ``keys``."""
    g = set(map(tuple, got[keys].itertuples(index=False, name=None)))
    w = set(map(tuple, want[keys].itertuples(index=False, name=None)))
    return _limit([f"bm25 extra {r}" for r in sorted(g - w)]
                  + [f"bm25 missing {r}" for r in sorted(w - g)])


# --------------------------------------------------------------------------
# resume_fanout
# --------------------------------------------------------------------------

def check_resume(fresh: dict, resumed: dict, manifest_rows_out: int,
                 recomputed: int, invalidated: int) -> list[str]:
    """``fresh``/``resumed``: {"rows", "checksum"} of the output read back
    after each run."""
    fails = []
    if resumed["rows"] != fresh["rows"]:
        fails.append(f"resume rows {resumed['rows']} != fresh {fresh['rows']}")
    if resumed["checksum"] != fresh["checksum"]:
        fails.append(f"resume checksum {resumed['checksum']} != fresh {fresh['checksum']}")
    if manifest_rows_out != resumed["rows"]:
        fails.append(f"manifest rows_out {manifest_rows_out} != output rows {resumed['rows']}")
    if recomputed != invalidated:
        fails.append(f"resume recomputed {recomputed} partitions, {invalidated} invalidated")
    return fails


def check_decode(got: pd.DataFrame) -> list[str]:
    """Decoded dimensions equal the stored ones."""
    bad = got[(got["dec_w"] != got["w"]) | (got["dec_h"] != got["h"])]
    return _limit([f"decode row {r}: {dw}x{dh} stored {w}x{h}" for r, dw, dh, w, h in
                   zip(bad["row_id"], bad["dec_w"], bad["dec_h"], bad["w"], bad["h"])])
