"""Seeded input generator for the benchmark.

Every column is built from ``spark.range`` plus ``xxhash64(seed, tag, i, ...)``
(no linear-congruential bits: LCG low bits band together and make the phash
block join degenerate). The few scene scalars (where the area of interest and
its hot cluster sit) come from numpy's PCG64 seeded with the same seed. The
same seed gives the same tables, bit for bit; the program under test only
ever sees the Parquet files written here.

Tables:

* ``images``  - one row per image+caption: ``row_id``, ``lon``/``lat`` (tile
  center), ``w``/``h``/``fmt``/``pix`` (payload shape and pixel seed),
  ``caption``, ``phash``, ``part`` (resume key). Rows past ``n_base`` are
  planted twins of a base row: their phash differs from the source's in 1 to
  ``twin_bits`` bits, and a ``cap_dup`` share of them copy the source caption
  with a few words edited.
* ``payload`` - the first ``n_payload`` rows of ``images`` plus encoded
  ``bytes`` (``images.codec``), for the workspace-run probe.
* ``fields``  - irregular star polygons with ``vmin``..``vmax`` vertices on a
  jittered lattice over the area of interest.
* ``grid``    - jittered weather-grid points (``grid_id``, ``lon``, ``lat``).
* ``soil``    - raster cell centers with a blocky ``mukey`` value.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from geo_epic_spark.images import codec
from geo_epic_spark.sources.tables import TableIO

# One tag per generated property, so no two properties share hash bits.
(T_HOT, T_LON, T_LAT, T_W, T_H, T_FMT, T_PIX, T_PHASH, T_SRC, T_BIT, T_CDUP,
 T_CLEN, T_WORD, T_EDIT, T_PART, T_FX, T_FY, T_FV, T_FA, T_FR, T_GX, T_GY,
 T_MU, T_NODATA) = range(24)

VOCAB = 4096


@dataclass(frozen=True)
class Knobs:
    """Input sizes and shapes. Each field sets one input property; the
    benchmark's README lists which workload behaviour each one drives."""

    n_img: int = 100_000        # image rows: the throughput denominator
    twin_frac: float = 0.05     # share of rows planted as near-duplicates
    twin_bits: int = 3          # phash bits flipped per twin (<= hamming d)
    cap_dup: float = 0.6        # share of twins that copy the source caption
    edit_rate: float = 0.03     # per-word edit probability in a copied caption
    cap_len: tuple[int, int] = (14, 30)   # caption length range, in words
    hot_frac: float = 0.2       # share of images in the hot cluster
    hot_area: float = 0.006     # hot cluster area as a share of the AOI
    aoi_w: float = 4.0          # area of interest, degrees
    aoi_h: float = 3.0
    field_cell: float = 0.1     # lattice pitch of the field polygons, degrees
    vmin: int = 16              # vertices per field polygon, min..max
    vmax: int = 48
    grid_step: float = 0.05     # weather-grid pitch, degrees
    soil_step: float = 0.01     # soil raster pitch, degrees
    parts: int = 16             # distinct resume partition keys
    n_payload: int = 2_000      # leading image rows that also carry payload bytes


@dataclass(frozen=True)
class Scene:
    lon0: float
    lat0: float
    hot_lon0: float
    hot_lat0: float
    hot_w: float
    hot_h: float


SNAP = 1.0  # degrees; a multiple of every lattice pitch and cell size in use


def scene(seed: int, k: Knobs) -> Scene:
    """Seeded placement, snapped to whole degrees: the AOI and hot box then
    sit in the same phase against the engine's fixed cell lattice (and the
    grid and polygon lattices) for every seed, so the seed changes the data
    but not how much work it takes."""
    rng = np.random.Generator(np.random.PCG64(seed))

    def snap(x: float) -> float:
        # floor, not round: the hot box must stay inside the AOI, where the
        # grid and the polygons are
        return math.floor(x / SNAP) * SNAP

    lon0 = snap(-110.0 + 20.0 * rng.random())
    lat0 = snap(34.0 + 10.0 * rng.random())
    s = math.sqrt(k.hot_area)
    hw, hh = k.aoi_w * s, k.aoi_h * s
    return Scene(lon0, lat0,
                 lon0 + snap((k.aoi_w - hw) * rng.random()),
                 lat0 + snap((k.aoi_h - hh) * rng.random()), hw, hh)


def _h(seed: int, tag: int, *cols: Column) -> Column:
    return F.xxhash64(F.lit(seed), F.lit(tag), *cols)


def _u(seed: int, tag: int, *cols: Column) -> Column:
    """Uniform double in [0, 1) from the top 53 bits of the hash."""
    return F.shiftrightunsigned(_h(seed, tag, *cols), 11).cast("double") / F.lit(
        float(1 << 53))


def _word(seed: int, row: Column, pos: Column) -> Column:
    """Log-uniform (Zipf s=1) word rank over ``VOCAB`` -> token ``w<rank>``."""
    u = _u(seed, T_WORD, row, pos)
    rank = F.least(F.floor(F.exp(u * F.lit(math.log(VOCAB + 1)))) - 1, F.lit(VOCAB - 1))
    return F.concat(F.lit("w"), rank.cast("string"))


def n_base(k: Knobs) -> int:
    return k.n_img - int(round(k.n_img * k.twin_frac))


def _twin_cols(seed: int, k: Knobs) -> tuple[Column, Column, Column]:
    """(is twin, source row, copies the source caption) of row ``id``."""
    nb = n_base(k)
    i = F.col("id")
    twin = i >= F.lit(nb)
    src = F.pmod(_h(seed, T_SRC, i), F.lit(nb))
    return twin, src, twin & (_u(seed, T_CDUP, i) < F.lit(k.cap_dup))


def planted_twins(spark: SparkSession, seed: int, k: Knobs) -> DataFrame:
    """Ground truth, never written with the inputs: (row_id, src, cap_dup)
    of every planted twin row."""
    twin, src, cap_dup = _twin_cols(seed, k)
    return spark.range(n_base(k), k.n_img).select(
        F.col("id").alias("row_id"), src.alias("src"), cap_dup.alias("cap_dup"))


def images_df(spark: SparkSession, seed: int, k: Knobs) -> DataFrame:
    sc = scene(seed, k)
    i = F.col("id")
    twin, src, cap_dup = _twin_cols(seed, k)
    hot = _u(seed, T_HOT, i) < F.lit(k.hot_frac)
    lon = F.when(hot, F.lit(sc.hot_lon0) + _u(seed, T_LON, i) * F.lit(sc.hot_w)).otherwise(
        F.lit(sc.lon0) + _u(seed, T_LON, i) * F.lit(k.aoi_w))
    lat = F.when(hot, F.lit(sc.hot_lat0) + _u(seed, T_LAT, i) * F.lit(sc.hot_h)).otherwise(
        F.lit(sc.lat0) + _u(seed, T_LAT, i) * F.lit(k.aoi_h))
    dims = F.array(F.lit(32), F.lit(64), F.lit(128))
    w = F.element_at(dims, F.pmod(_h(seed, T_W, i), F.lit(3)).cast("int") + 1)
    h = F.element_at(dims, F.pmod(_h(seed, T_H, i), F.lit(3)).cast("int") + 1)
    fmt = F.when(_u(seed, T_FMT, i) < F.lit(0.7), F.lit("png")).otherwise(F.lit("fjpg"))
    # twin phash: the source's base hash with 1..twin_bits bits set in the
    # mask (bit positions may repeat, so the distance is in [1, twin_bits])
    mask = F.lit(0).cast("long")
    for b in range(k.twin_bits):
        bit = F.pmod(_h(seed, T_BIT + 100 * b, i), F.lit(64)).cast("int")
        mask = mask.bitwiseOR(F.call_function("shiftleft", F.lit(1).cast("long"), bit))
    phash = F.when(twin, _h(seed, T_PHASH, src).bitwiseXOR(mask)).otherwise(_h(seed, T_PHASH, i))
    # caption: a copied caption keeps the source's words except edited ones
    crow = F.when(cap_dup, src).otherwise(i)
    lo, hi = k.cap_len
    n_words = (F.lit(lo) + F.pmod(_h(seed, T_CLEN, crow), F.lit(hi - lo + 1))).cast("int")
    # one expression per word position, not a lambda over a sequence:
    # plain expressions compile with whole-stage codegen, lambdas do not
    words = []
    for pos in range(hi):
        p = F.lit(pos)
        word = F.when(cap_dup & (_u(seed, T_EDIT, i, p) < F.lit(k.edit_rate)),
                      _word(seed, i, p)).otherwise(_word(seed, crow, p))
        words.append(F.when(p < n_words, word))  # null past the end: skipped below
    return spark.range(k.n_img).select(
        i.alias("row_id"),
        F.format_string("img%012d", i).alias("image_id"),
        lon.alias("lon"), lat.alias("lat"),
        w.alias("w"), h.alias("h"), fmt.alias("fmt"),
        F.pmod(_h(seed, T_PIX, i), F.lit(1 << 31)).alias("pix"),
        F.concat_ws(" ", *words).alias("caption"),
        phash.alias("phash"),
        F.pmod(_h(seed, T_PART, i), F.lit(k.parts)).cast("string").alias("part"),
    )


def with_payload(images: DataFrame) -> DataFrame:
    """Append encoded image bytes (``images.codec``) seeded by ``pix``."""
    schema = StructType(list(images.schema.fields) + [StructField("bytes", BinaryType())])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["bytes"] = [
                codec.encode_image(codec.synth_pixels(int(p), int(w), int(h)), f)
                for p, w, h, f in zip(pdf["pix"], pdf["w"], pdf["h"], pdf["fmt"])
            ]
            yield pdf

    return images.mapInPandas(gen, schema=schema)


def fields_df(spark: SparkSession, seed: int, k: Knobs) -> DataFrame:
    sc = scene(seed, k)
    nc = int(round(k.aoi_w / k.field_cell))
    nr = int(round(k.aoi_h / k.field_cell))
    j = F.col("id")
    r = (j / F.lit(nc)).cast("long")
    c = j % F.lit(nc)
    cx = F.lit(sc.lon0) + (c + F.lit(0.4) + F.lit(0.2) * _u(seed, T_FX, j)) * F.lit(k.field_cell)
    cy = F.lit(sc.lat0) + (r + F.lit(0.4) + F.lit(0.2) * _u(seed, T_FY, j)) * F.lit(k.field_cell)
    nv = (F.lit(k.vmin) + F.pmod(_h(seed, T_FV, j), F.lit(k.vmax - k.vmin + 1))).cast("int")
    rmax = 0.4 * k.field_cell  # + 0.1 cell of center jitter: never crosses into a neighbour

    # strictly increasing angles keep the star polygon simple
    def theta(p: Column) -> Column:
        return F.lit(2 * math.pi) * (p + F.lit(0.9) * _u(seed, T_FA, j, p)) / nv

    def radius(p: Column) -> Column:
        return F.lit(rmax) * (F.lit(0.55) + F.lit(0.45) * _u(seed, T_FR, j, p))

    ks = F.sequence(F.lit(0), nv - 1)
    return spark.range(nr * nc).select(
        j.alias("poly_id"),
        F.transform(ks, lambda p: cx + radius(p) * F.cos(theta(p))).alias("xs"),
        F.transform(ks, lambda p: cy + radius(p) * F.sin(theta(p))).alias("ys"),
    )


def grid_df(spark: SparkSession, seed: int, k: Knobs) -> DataFrame:
    """Lattice over the AOI plus a one-step margin, each point jittered by up
    to 0.1 step per axis. Small enough that every point's nearest grid point
    is within one ring of cells (half the cell diagonal plus the jitter stays
    under one step), so nearest_grid_join finishes in its first round for
    every seed instead of flipping on one straggler point."""
    sc = scene(seed, k)
    nc = int(math.ceil(k.aoi_w / k.grid_step)) + 2
    nr = int(math.ceil(k.aoi_h / k.grid_step)) + 2
    g = F.col("id")
    r = (g / F.lit(nc)).cast("long")
    c = g % F.lit(nc)
    jit = 0.1 * k.grid_step
    return spark.range(nr * nc).select(
        g.alias("grid_id"),
        (F.lit(sc.lon0 - k.grid_step) + c * F.lit(k.grid_step)
         + (_u(seed, T_GX, g) - F.lit(0.5)) * F.lit(2 * jit)).alias("lon"),
        (F.lit(sc.lat0 - k.grid_step) + r * F.lit(k.grid_step)
         + (_u(seed, T_GY, g) - F.lit(0.5)) * F.lit(2 * jit)).alias("lat"),
    )


def soil_df(spark: SparkSession, seed: int, k: Knobs) -> DataFrame:
    """Raster cell centers over the AOI; ``mukey`` is constant on 8x8
    blocks and ~2% of cells are nodata (dropped)."""
    sc = scene(seed, k)
    nc = int(round(k.aoi_w / k.soil_step))
    nr = int(round(k.aoi_h / k.soil_step))
    g = F.col("id")
    r = (g / F.lit(nc)).cast("long")
    c = g % F.lit(nc)
    mukey = F.lit(100000) + F.pmod(
        _h(seed, T_MU, (r / F.lit(8)).cast("long"), (c / F.lit(8)).cast("long")), F.lit(50))
    return spark.range(nr * nc).where(_u(seed, T_NODATA, g) >= F.lit(0.02)).select(
        g.alias("cell_id"),
        (F.lit(sc.lon0) + (c + F.lit(0.5)) * F.lit(k.soil_step)).alias("lon"),
        (F.lit(sc.lat0) + (r + F.lit(0.5)) * F.lit(k.soil_step)).alias("lat"),
        mukey.alias("mukey"),
    )


BUILDERS = {
    "images": images_df,
    "fields": fields_df,
    "grid": grid_df,
    "soil": soil_df,
}


def write_inputs(spark: SparkSession, root: str, seed: int, k: Knobs,
                 tables: dict[str, list[str] | None]) -> TableIO:
    """Write each named table, projected to the listed columns (all when
    None), under ``root`` through ``TableIO`` (Parquet when no Iceberg
    catalog is configured) and return the IO handle."""
    io = TableIO(spark, root)
    for name, cols in tables.items():
        if name == "payload":
            df = with_payload(images_df(spark, seed, k).where(F.col("row_id") < k.n_payload))
        else:
            df = BUILDERS[name](spark, seed, k)
        io.append(df.select(*cols) if cols else df, name)
    return io
