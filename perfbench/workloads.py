"""The workloads: what each runs, how its traced pass splits the work
into spans, and how its outputs are checked.

Every workload is a closed loop: one driver issues its public calls back to
back, and a call starts only after the previous one finished. Outputs that
are not checked go to Spark's ``noop`` sink, which computes every row and
writes nothing.
"""

from __future__ import annotations

import inspect
import math
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import duckdb
import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from geo_epic_spark import cells
from geo_epic_spark.images.udfs import decode_stats
from geo_epic_spark.operators.dedup import hamming_near_dup_pairs, minhash_lsh_pairs
from geo_epic_spark.operators.resume import invalidate_partitions, run_with_resume
from geo_epic_spark.operators.search import bm25_topk, sql_bm25_topk
from geo_epic_spark.operators.spatial import nearest_grid_join, pip_join, zonal_stats
from geo_epic_spark.sources.tables import TableIO

import inputs
import oracles
from spans import Tracer, sql_nodes

PIP_RES = inspect.signature(pip_join).parameters["res"].default


@dataclass
class Ctx:
    spark: SparkSession
    io: TableIO
    seed: int
    knobs: inputs.Knobs
    work: str          # directory for this setup's outputs
    t: dict            # table name -> DataFrame


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def observed_rows(df: DataFrame) -> int:
    """Force ``df`` to the noop sink and return its row count, counted in
    the same job."""
    obs = Observation()
    noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return int(obs.get["n"])


def files_read_bytes(spark: SparkSession, tr: Tracer, sp) -> float:
    """Bytes of files the span's scans read (SQL metric of the scan nodes)."""
    return sum(m.get("size of files read", 0.0) for _, m in
               sql_nodes(spark, *tr.sql_range(sp), frozenset({"size of files read"})))


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def sample_ids(seed: int, n: int, size: int, salt: int) -> list[int]:
    rng = np.random.Generator(np.random.PCG64([seed, salt]))
    return sorted(int(x) for x in rng.choice(n, size=min(size, n), replace=False))


class Workload:
    name = ""
    # table -> columns the workload reads (None: all); only these are written
    tables: dict[str, list[str] | None] = {}
    # extra tables written only for traced runs, whose probes read them
    trace_tables: dict[str, list[str] | None] = {}
    knobs = inputs.Knobs()

    def load(self, ctx: Ctx, traced: bool = False) -> None:
        names = [*self.tables, *(self.trace_tables if traced else {})]
        ctx.t = {name: ctx.io.read(name) for name in names}

    def warmup(self, ctx: Ctx) -> dict:
        """The set-up's warm-up job: every public call of the workload once,
        with the outputs the checks need collected instead of discarded."""
        raise NotImplementedError

    def verify(self, ctx: Ctx, out: dict) -> tuple[dict[str, list[str]], dict[str, float]]:
        """Untimed: {check name: failures} for the warm-up outputs, and the
        layer metrics measured on the way."""
        raise NotImplementedError

    def job(self, ctx: Ctx) -> None:
        """The timed unit."""
        raise NotImplementedError

    def traced(self, ctx: Ctx, tr: Tracer) -> tuple[dict[str, float], dict[str, list[str]]]:
        """The timed unit with each public call forced on its own inside a
        span, plus probe spans (``Span.probe``) that isolate one layer.
        Returns the layer counters of the pass and {check name: failures}
        for checks only the traced pass can make."""
        raise NotImplementedError


# --------------------------------------------------------------------------
# site_assign
# --------------------------------------------------------------------------

class SiteAssign(Workload):
    """geo-epic's site workflow: field id by point-in-polygon, nearest weather
    cell, and soil zonal statistics per field. No writes, no Python stage."""

    name = "site_assign"
    tables = {"images": ["row_id", "lon", "lat"], "fields": None, "grid": None,
              "soil": None}
    trace_tables = {"payload": None}
    knobs = inputs.Knobs(n_img=100_000, field_cell=0.1, grid_step=0.05, soil_step=0.02)

    def _pts(self, ctx: Ctx) -> DataFrame:
        return ctx.t["images"].select("row_id", "lon", "lat")

    def _calls(self, ctx: Ctx) -> dict[str, Callable[[], DataFrame]]:
        """The public calls, each built only when called: building one can
        already run Spark jobs (nearest_grid_join probes rings eagerly)."""
        pts = self._pts(ctx)
        t = ctx.t
        return {
            "spatial.pip_join": lambda: pip_join(pts, t["fields"]),
            "spatial.nearest_grid": lambda: nearest_grid_join(
                pts, t["grid"], res=ctx.knobs.grid_step, point_id="row_id"),
            "spatial.zonal_stats": lambda: zonal_stats(t["soil"], t["fields"], value="mukey"),
        }

    def job(self, ctx: Ctx) -> None:
        for build in self._calls(ctx).values():
            noop(build())

    def warmup(self, ctx: Ctx) -> dict:
        calls = self._calls(ctx)
        return {
            "pip": calls["spatial.pip_join"]().select("row_id", "poly_id").toPandas(),
            "nearest": calls["spatial.nearest_grid"]()
            .select("row_id", "grid_id", "nn_dist").toPandas(),
            "zonal": calls["spatial.zonal_stats"]().toPandas(),
        }

    def verify(self, ctx: Ctx, out: dict):
        ids = sample_ids(ctx.seed, ctx.knobs.n_img, 300, 1)
        sample = self._pts(ctx).where(F.col("row_id").isin(ids)).toPandas()
        polys = ctx.t["fields"].toPandas()
        pids = sample_ids(ctx.seed, len(polys), 40, 2)
        pip, nearest, zonal = out["pip"], out["nearest"], out["zonal"]
        return {
            "site_assign.pip_vs_bruteforce": oracles.check_pip(
                pip[pip["row_id"].isin(ids)], sample, polys),
            "site_assign.nearest_vs_argmin": oracles.check_nearest(
                nearest[nearest["row_id"].isin(ids)], sample, ctx.t["grid"].toPandas()),
            "site_assign.zonal_counts": oracles.check_zonal(
                zonal[zonal["poly_id"].isin(pids)], ctx.t["soil"].toPandas(),
                polys[polys["poly_id"].isin(pids)], "mukey"),
        }, {}

    def traced(self, ctx: Ctx, tr: Tracer) -> tuple[dict[str, float], dict[str, list[str]]]:
        pts = self._pts(ctx)
        with tr.span("tables.scan", probe=True) as sp:
            noop(pts)
        scan_bytes = files_read_bytes(ctx.spark, tr, sp)
        cover = ctx.t["fields"].select(
            F.explode(cells.cover_polygon(F.col("xs"), F.col("ys"), PIP_RES)).alias("cell"))
        with tr.span("cells.cover", probe=True):
            cover_rows = cover.count()
        with tr.span("cells.candidates", probe=True):
            candidates = pts.select(cells.cell_id(F.col("lon"), F.col("lat"), PIP_RES)
                                    .alias("cell")).join(cover, "cell").count()
        matches = 0
        for name, build in self._calls(ctx).items():
            with tr.span(name):
                if name == "spatial.pip_join":
                    matches = observed_rows(build())
                else:
                    noop(build())
        counters, checks = WorkspaceRun().traced(ctx, tr)
        counters.update({
            "tables.scan_bytes": scan_bytes,
            "cells.cover_rows": cover_rows,
            "cells.candidates_per_point": candidates / ctx.knobs.n_img,
            "spatial.pip_match_ratio": matches / candidates if candidates else 0.0,
        })
        return counters, checks


# --------------------------------------------------------------------------
# dedup_search
# --------------------------------------------------------------------------

class DedupSearch(Workload):
    """The caption/phash side of the image table: phash near-dup pairs,
    caption minhash near-dup pairs and bm25 top-k. No spatial code."""

    name = "dedup_search"
    tables = {"images": ["row_id", "caption", "phash"]}
    knobs = inputs.Knobs(n_img=15_000)
    max_hamming = 4
    threshold = 0.5
    n_queries = 4
    topk = 10

    def queries(self, seed: int) -> list[tuple[str, str]]:
        """One word from each of three Zipf rank bands per query: common
        enough to match many captions, rare enough to rank them, and with
        about the same total frequency for every seed."""
        rng = np.random.Generator(np.random.PCG64([seed, 3]))
        bands = [(8, 16), (32, 64), (128, 256)]
        return [(f"q{q}", " ".join(f"w{rng.integers(lo, hi)}" for lo, hi in bands))
                for q in range(self.n_queries)]

    def _calls(self, ctx: Ctx) -> dict[str, Callable[[], DataFrame]]:
        """The public calls, each built only when called: building one can
        already run Spark jobs (hamming_near_dup_pairs counts its input)."""
        docs = ctx.t["images"]
        queries = self.queries(ctx.seed)
        return {
            "dedup.hamming": lambda: hamming_near_dup_pairs(
                docs, key="row_id", hash_col="phash", max_hamming=self.max_hamming),
            "dedup.minhash": lambda: minhash_lsh_pairs(
                docs, threshold=self.threshold, key="row_id", text="caption"),
            "search.bm25": lambda: bm25_topk(
                docs, ctx.spark.createDataFrame(queries, "q_id string, q_text string"),
                text="caption", key="row_id", k=self.topk),
        }

    def job(self, ctx: Ctx) -> None:
        calls = self._calls(ctx)
        noop(calls["dedup.hamming"]())
        noop(calls["dedup.minhash"]())
        calls["search.bm25"]().collect()

    def warmup(self, ctx: Ctx) -> dict:
        return {name: build().toPandas() for name, build in self._calls(ctx).items()}

    def verify(self, ctx: Ctx, out: dict):
        table = ctx.t["images"].toPandas().set_index("row_id")
        twins = inputs.planted_twins(ctx.spark, ctx.seed, ctx.knobs).toPandas()
        planted_phash = {(min(a, b), max(a, b)) for a, b in zip(twins["row_id"], twins["src"])}
        caps = table["caption"]
        copied = twins[twins["cap_dup"]]
        planted_caps = {
            (min(a, b), max(a, b)) for a, b in zip(copied["row_id"], copied["src"])
            if oracles.jaccard(caps.loc[a], caps.loc[b]) >= self.threshold
        }
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 1")
            images = os.path.join(ctx.io.root, "images", "*.parquet")
            con.execute(f"CREATE VIEW docs AS SELECT row_id, caption "
                        f"FROM read_parquet('{images}')")
            want_b = con.execute(sql_bm25_topk(self.queries(ctx.seed), k=self.topk,
                                               docs_table="docs", text="caption",
                                               key="row_id")).fetchdf()
        finally:
            con.close()
        got_m = out["dedup.minhash"]
        return {
            "dedup_search.hamming_twins": oracles.check_hamming(
                out["dedup.hamming"], table["phash"], planted_phash, self.max_hamming),
            "dedup_search.minhash_pairs": oracles.check_minhash(got_m, caps, self.threshold),
            "dedup_search.bm25_vs_duckdb": oracles.check_topk(
                out["search.bm25"].astype({"rank": "int64"}),
                want_b.astype({"rank": "int64"}), ["q_id", "row_id", "score", "rank"]),
        }, {"dedup.minhash_recall": oracles.minhash_recall(got_m, planted_caps)}

    def traced(self, ctx: Ctx, tr: Tracer) -> tuple[dict[str, float], dict[str, list[str]]]:
        with tr.span("tables.scan", probe=True) as sp:
            noop(ctx.t["images"])
        scan_bytes = files_read_bytes(ctx.spark, tr, sp)
        calls = self._calls(ctx)
        with tr.span("dedup.hamming"):
            hamming_pairs = observed_rows(calls["dedup.hamming"]())
        with tr.span("dedup.minhash"):
            minhash_pairs = observed_rows(calls["dedup.minhash"]())
        with tr.span("search.bm25") as sp:
            calls["search.bm25"]().collect()
        scans = sum(1 for name, _ in sql_nodes(ctx.spark, *tr.sql_range(sp))
                    if name.startswith("Scan"))
        return {
            "tables.scan_bytes": scan_bytes,
            "dedup.hamming_pairs": hamming_pairs,
            "dedup.minhash_pairs": minhash_pairs,
            "search.bm25_scans": scans,
        }, {}


# --------------------------------------------------------------------------
# workspace run (traced site_assign runs only)
# --------------------------------------------------------------------------

class WorkspaceRun:
    """``workspace run``: read images with payload bytes, assign fields,
    decode, write partitioned output + manifest through ``run_with_resume``;
    then invalidate a seeded share of the partitions and resume. Run as a
    probe inside the traced site_assign pass, with its checks."""

    invalidate_frac = 0.25
    out_cols = ["row_id", "image_id", "part", "w", "h", "fmt", "poly_id"]

    def _process(self, ctx: Ctx):
        fields = ctx.t["fields"]

        def process(df: DataFrame) -> DataFrame:
            return (pip_join(df, fields)
                    .select(*self.out_cols, decode_stats("bytes", "fmt").alias("d"))
                    .select(*self.out_cols, "d.*"))
        return process

    def invalidated(self, seed: int, parts: int) -> list[str]:
        rng = np.random.Generator(np.random.PCG64([seed, 4]))
        n = max(1, math.ceil(self.invalidate_frac * parts))
        return sorted(str(p) for p in rng.permutation(parts)[:n])

    def _run(self, ctx: Ctx, out: str, man: str) -> dict:
        return run_with_resume(ctx.spark, ctx.t["payload"], "part", self._process(ctx),
                               out, man)

    def _readback(self, ctx: Ctx, out: str) -> dict:
        df = ctx.spark.read.parquet(out)
        row = df.agg(F.count(F.lit(1)).alias("n"),
                     F.bit_xor(F.xxhash64(*sorted(df.columns))).alias("x")).first()
        return {"rows": int(row["n"]), "checksum": int(row["x"] or 0)}

    def traced(self, ctx: Ctx, tr: Tracer) -> tuple[dict[str, float], dict[str, list[str]]]:
        work = ctx.t["payload"]
        with tr.span("images.decode", probe=True) as sp:
            noop(work.select("row_id", decode_stats("bytes", "fmt").alias("d")))
        py_metrics = frozenset({"data sent to Python workers",
                                "data returned from Python workers"})
        py_bytes = sum(v for _, metrics in sql_nodes(ctx.spark, *tr.sql_range(sp), py_metrics)
                       for v in metrics.values())
        base = os.path.join(ctx.work, "workspace")
        shutil.rmtree(base, ignore_errors=True)
        out, man = os.path.join(base, "out"), os.path.join(base, "manifest")
        with tr.span("resume.fresh", probe=True) as sp:
            self._run(ctx, out, man)
        jobs = len(tr.jobs(sp))
        written = dir_bytes(out) + dir_bytes(man)
        with tr.span("resume.check", probe=True):
            fresh = self._readback(ctx, out)
        ids = self.invalidated(ctx.seed, ctx.knobs.parts)
        with tr.span("resume.invalidate", probe=True):
            invalidate_partitions(ctx.spark, man, ids)
        with tr.span("resume.rerun", probe=True):
            stats = self._run(ctx, out, man)
        with tr.span("resume.check", probe=True):
            resumed = self._readback(ctx, out)
            rows_out = ctx.spark.read.parquet(man).agg(F.sum("rows_out")).first()[0] or 0
            dec = (ctx.spark.read.parquet(out)
                   .select("row_id", "w", "h", "dec_w", "dec_h").toPandas())
        counters = {
            "images.python_bytes": py_bytes,
            "resume.jobs": jobs,
            "resume.recompute_ratio": stats["partitions"] / len(ids),
            "resume.write_amp": written / dir_bytes(os.path.join(ctx.io.root, "payload")),
        }
        checks = {
            "workspace_run.resume_matches_fresh": oracles.check_resume(
                fresh, resumed, int(rows_out), stats["partitions"], len(ids)),
            "workspace_run.decoded_dims": oracles.check_decode(dec)
            + ([] if len(dec) else ["decode: no output rows"]),
        }
        return counters, checks


WORKLOADS: dict[str, Workload] = {
    w.name: w for w in (SiteAssign(), DedupSearch())
}
