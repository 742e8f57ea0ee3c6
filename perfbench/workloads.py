"""The three benchmark workloads: seeded inputs, the operator calls of
one pass, and the output check of each call.

A workload hands the engine only generated DataFrames. Every pass
builds its DataFrame chains afresh from the persisted inputs, because
Spark serves a repeated action on the same DataFrame object from its
result cache.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from gdal_spark.datagen import EXTENT, docs_table, geom_cols_sql, geom_wkt_sql, zones_table
from gdal_spark.metrics import write_snapshot
from gdal_spark.operators.cells import BYTE20_GRID, s2_cell_udf, s2_parent_col
from gdal_spark.operators.geotiff import cog_overview_dims, read_geotiff, write_cog
from gdal_spark.operators.raster import RasterSpec, checksum_col, rasterize
from gdal_spark.operators.spatial import extract_geom, spatial_join, spatial_join_cells
from gdal_spark.operators.tiles import overview_level, raster_tile, tile_keys_for_envelopes
from gdal_spark.queries import TILE_N, TILE_TLX, TILE_TLY, TILE_W

from perfbench import oracles

PARTITIONS = 8  # input partitions, fixed so every core count runs the same plan
NARROW = ["_id", "wkt", "env_minx", "env_miny", "env_maxx", "env_maxy", "geom_error"]
ENV4 = ("env_minx", "env_miny", "env_maxx", "env_maxy")


# Id range slots. The datagen hashes ids as id * 2654435761 in 64-bit
# ANSI arithmetic, which overflows past id 3.47e9, so every seed maps to
# one of 3000 slots of 10^6 ids and the largest id stays below 3.0e9.
ID_SLOTS = 3000


def id_offset(seed: int) -> int:
    """First doc id of a seed's id range (a multiple of 1000, so the
    datagen's id % 1000 rules keep their meaning)."""
    return (seed % ID_SLOTS) * 1_000_000


@dataclass
class Step:
    name: str
    call: Callable[[], Any]
    check: Callable[[Any], list[str]]
    # optional size of the call's output, reported as <name>.<size_name>
    size_name: str = ""
    size: Callable[[Any], float] | None = None


def _same(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, expected {want!r}"]


class Workload:
    name = ""
    steps: tuple[str, ...] = ()
    unit_docs = 0  # docs per pass at scale 1

    def __init__(self, seed: int, scale: float, workdir: str) -> None:
        self.seed = seed
        self.n = max(200, int(self.unit_docs * scale))
        self.lo = id_offset(seed)
        self.workdir = workdir

    # the doc ids of the input, as Spark and as DuckDB SQL
    def ids_df(self, spark: SparkSession) -> DataFrame:
        return spark.range(self.lo, self.lo + self.n, 1, PARTITIONS)

    def ids_sql(self) -> str:
        return oracles.range_ids_sql(self.lo, self.lo + self.n)

    def make_inputs(self, spark: SparkSession) -> dict:
        raise NotImplementedError

    def expected(self) -> dict:
        """Oracle answers for this input, computed without the engine."""
        raise NotImplementedError

    def pass_steps(self, spark: SparkSession, inputs: dict, expected: dict, tag: str) -> tuple[list[Step], Callable[[], None]]:
        """The operator calls of one pass, plus a cleanup to run after it."""
        raise NotImplementedError


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    df.count()
    return df


# -- join workloads -----------------------------------------------------------


class _JoinWorkload(Workload):
    def _extract(self, inputs: dict, state: dict, expected: dict) -> Step:
        def call():
            geom = extract_geom(inputs["docs"]).select(*NARROW).persist()
            state["geom"] = geom
            return geom.agg(F.count("*"), F.count("geom_error")).collect()[0]

        def check(row):
            return _same("extract rows", int(row[0]), self.n) + _same(
                "extract error rows", int(row[1]), expected["invalid"]
            )

        return Step("extract", call, check)

    def _cleanup(self, state: dict) -> Callable[[], None]:
        def cleanup():
            for df in state.values():
                if isinstance(df, DataFrame):
                    df.unpersist(blocking=True)

        return cleanup


class JoinPointsFewZones(_JoinWorkload):
    """The default datagen mix (~80% points with a 10% hot-cell blob,
    10% squares, 0.1% invalid WKT) against the 10 fixture zones."""

    name = "join_points_fewzones"
    steps = ("extract", "join", "join_cells", "s2", "tile_keys", "snapshot")
    unit_docs = 20_000

    def make_inputs(self, spark):
        return {"docs": _persist(docs_table(spark, ids=self.ids_df(spark))), "zones": zones_table(spark)}

    def expected(self):
        counts = oracles.zone_counts(self.ids_sql())
        geom = oracles.doc_geometry(self.ids_sql())
        return {
            "zone_counts": counts,
            "pairs": sum(counts.values()),
            "invalid": int((~geom["valid"]).sum()),
            "tile_keys": oracles.tile_key_counts(self.ids_sql()),
            "s2_cells": s2_level8_counts(np.arange(self.lo, self.lo + self.n, dtype=np.int64)),
        }

    def pass_steps(self, spark, inputs, expected, tag):
        state: dict = {}
        zones, docs = inputs["zones"], inputs["docs"]
        snap = os.path.join(self.workdir, f"snapshot-{tag}")

        def valid():
            return state["geom"].filter(F.col("geom_error").isNull())

        def zone_counts(rows):
            return _same("per-zone counts", {int(r[0]): int(r[1]) for r in rows}, expected["zone_counts"])

        def join():
            # the pairs stay cached for the snapshot step, which then
            # times the parquet write and lineage sidecar alone
            pairs = spatial_join(state["geom"], zones, project=["_id"]).persist()
            state["pairs"] = pairs
            return pairs.groupBy("zone_fid").count().collect()

        def join_cells():
            return (
                spatial_join_cells(valid(), zones, BYTE20_GRID, salt=8)
                .groupBy("zone_fid").count().collect()
            )

        def s2():
            return s2_histogram(docs, "_id").collect()

        def check_s2(rows):
            got = {int(p8) % (1 << 64): int(c) for p8, c in rows}
            return _same("s2 level-8 cell counts", got, expected["s2_cells"])

        def tile_keys():
            return (
                tile_keys_for_envelopes(valid(), TILE_TLX, TILE_TLY, TILE_W, TILE_N)
                .groupBy("tx", "ty").count().collect()
            )

        def check_tiles(rows):
            return _same("tile key counts", {(int(r[0]), int(r[1])): int(r[2]) for r in rows}, expected["tile_keys"])

        def snapshot():
            return write_snapshot(state["pairs"], snap, job_id=f"perfbench-{self.seed}-{tag}")

        def check_snapshot(rec):
            return _same("snapshot lineage row_count", rec["row_count"], expected["pairs"])

        steps = [
            self._extract(inputs, state, expected),
            Step("join", join, zone_counts),
            Step("join_cells", join_cells, zone_counts),
            Step("s2", s2, check_s2),
            Step("tile_keys", tile_keys, check_tiles, "rows_out", lambda rows: sum(int(r[2]) for r in rows)),
            Step("snapshot", snapshot, check_snapshot),
        ]
        drop = self._cleanup(state)

        def cleanup():
            drop()
            shutil.rmtree(snap, ignore_errors=True)

        return steps, cleanup


def s2_directions(i):
    """The direction each doc encodes, from its id `i` (a Column or an
    int64 array): an even integer, an odd integer and a half-integer,
    so no two components have equal magnitude and the cube face is
    never a tie. The periods 1001, 999 and 997 spread the ids over
    many level-8 cells."""
    return ((i * 7) % 1001) * 2 - 1000, ((i * 11) % 999) * 2 - 997, (i * 13) % 997 - 497.5


def s2_histogram(docs: DataFrame, id_col: str) -> DataFrame:
    """Level-8 S2 cell histogram of one direction per doc."""
    a, b, c = (v.cast("double") for v in s2_directions(F.col(id_col)))
    n = F.sqrt(a * a + b * b + c * c)
    cells = docs.select(s2_cell_udf(level=30)(a / n, b / n, c / n).alias("cell"))
    return cells.groupBy(s2_parent_col(F.col("cell"), 8).alias("p8")).count()


def s2_level8_counts(ids: np.ndarray) -> dict[int, int]:
    """Level-8 cell id (unsigned) -> doc count of the directions
    s2_histogram encodes, from the oracle's own S2 numbering."""
    a, b, c = (np.asarray(v, dtype=np.float64) for v in s2_directions(ids))
    n = np.sqrt(a * a + b * b + c * c)
    vals, counts = np.unique(oracles.s2_cells(a / n, b / n, c / n, 8), return_counts=True)
    return {int(v): int(k) for v, k in zip(vals, counts)}


# -- many zones ---------------------------------------------------------------


def make_zones(seed: int, count: int) -> list[tuple[int, list]]:
    """Seeded zones inside the datagen extent, as (fid, closed integer
    rings): half quads, 30% L-shapes, 20% rectangles with a hole."""
    rng = np.random.default_rng([seed % (1 << 63), 20])
    minx, miny, maxx, maxy = EXTENT
    zones = []
    for fid in range(count):
        w, h = (int(v) for v in rng.integers(24, 72, size=2))
        x0 = int(rng.integers(minx, maxx - w))
        y0 = int(rng.integers(miny, maxy - h))
        x1, y1 = x0 + w, y0 + h
        kind = fid % 10
        if kind < 5:  # quad: each corner jittered inside its own quadrant
            j = [int(v) for v in rng.integers(-(min(w, h) // 4), min(w, h) // 4 + 1, size=8)]
            shell = [(x0 + j[0], y0 + j[1]), (x1 + j[2], y0 + j[3]), (x1 + j[4], y1 + j[5]), (x0 + j[6], y1 + j[7])]
            rings = [shell + shell[:1]]
        elif kind < 8:  # L-shape: the upper-right block is cut away
            xm = x0 + int(rng.integers(w // 3, 2 * w // 3))
            ym = y0 + int(rng.integers(h // 3, 2 * h // 3))
            rings = [[(x0, y0), (x1, y0), (x1, ym), (xm, ym), (xm, y1), (x0, y1), (x0, y0)]]
        else:  # rectangle with a rectangular hole
            a, b, c, d = (int(v) for v in rng.integers(3, min(w, h) // 3, size=4))
            rings = [
                [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)],
                [(x0 + a, y0 + b), (x0 + a, y1 - d), (x1 - c, y1 - d), (x1 - c, y0 + b), (x0 + a, y0 + b)],
            ]
        zones.append((fid, rings))
    return zones


def zones_wkt(zones: list[tuple[int, list]]) -> list[tuple[int, int, str]]:
    def ring(r):
        return "(" + ",".join(f"{x} {y}" for x, y in r) + ")"

    return [(fid, fid, "POLYGON (" + ",".join(ring(r) for r in rings) + ")") for fid, rings in zones]


class JoinPolygonsManyZones(_JoinWorkload):
    """A polygon-heavy doc mix (70% squares, 30% points, 0.1% invalid)
    against 1000 seeded zones (over 5000 edges): the numpy R-tree probe,
    the per-row non-point verify and the zone-cell classifier carry the
    work; the Catalyst point path does none."""

    name = "join_polygons_manyzones"
    steps = ("extract", "join", "join_cells")
    unit_docs = 1_000
    n_zones = 1000
    n_sample = 120

    def _id_case(self, r: str) -> str:
        # slot 7 = square, slot 1 = uniform point, slot 9 of every 1000th
        # row = invalid WKT (the datagen's id % 10 / id % 1000 rules)
        return (
            f"{self.lo} + {r} * 10 + CASE WHEN {r} % 1000 = 999 THEN 9 "
            f"WHEN {r} % 10 < 7 THEN 7 ELSE 1 END"
        )

    def ids_df(self, spark):
        return spark.range(0, self.n, 1, PARTITIONS).select(F.expr(self._id_case("id")).alias("id"))

    def ids_sql(self):
        return f"SELECT {self._id_case('range')} AS doc_id FROM range(0, {self.n})"

    def make_inputs(self, spark):
        zones = spark.createDataFrame(zones_wkt(make_zones(self.seed, self.n_zones)), "fid bigint, eas_id bigint, wkt string")
        return {"docs": _persist(docs_table(spark, ids=self.ids_df(spark))), "zones": _persist(zones)}

    def expected(self):
        geom = oracles.doc_geometry(self.ids_sql())
        sample = sorted(random.Random(self.seed).sample(range(self.n), self.n_sample))
        sample_ids = [int(geom["id"][i]) for i in sample]
        sgeom = {k: v[sample] for k, v in geom.items()}
        return {
            "invalid": int((~geom["valid"]).sum()),
            "sample_ids": sample_ids,
            "sample_pairs": oracles.brute_force_pairs(sgeom, make_zones(self.seed, self.n_zones)),
        }

    def pass_steps(self, spark, inputs, expected, tag):
        state: dict = {}
        zones = inputs["zones"]
        sample = F.lit(expected["sample_ids"])

        def summary(df: DataFrame, did: str) -> DataFrame:
            # pair count, an order-free hash of the pair set, and the
            # pairs of the sampled docs
            h = F.xxhash64(F.col(did), F.col("zone_fid")).bitwiseAND(F.lit(0xFFFFFFFF))
            picked = F.when(F.array_contains(sample, F.col(did)), F.struct(F.col(did), F.col("zone_fid")))
            return df.agg(F.count("*"), F.sum(h), F.collect_list(picked))

        def join():
            return summary(spatial_join(state["geom"], zones, project=["_id"]), "_id").collect()[0]

        def join_cells():
            valid = state["geom"].filter(F.col("geom_error").isNull())
            return summary(spatial_join_cells(valid, zones, BYTE20_GRID, salt=8), "doc_id").collect()[0]

        def check(which: str):
            def _check(row):
                n, hsum, picked = int(row[0]), int(row[1] or 0), {(int(a), int(b)) for a, b in row[2]}
                errs = _same(f"{which} sample pairs", picked, expected["sample_pairs"])
                if "pair_summary" in state:  # both joins must return the same pair set
                    errs += _same(f"{which} pair count vs join", n, state["pair_summary"][0])
                    errs += _same(f"{which} pair hash vs join", hsum, state["pair_summary"][1])
                else:
                    state["pair_summary"] = (n, hsum)
                return errs

            return _check

        steps = [
            self._extract(inputs, state, expected),
            Step("join", join, check("join")),
            Step("join_cells", join_cells, check("join_cells")),
        ]
        return steps, self._cleanup(state)


# -- raster tiling ------------------------------------------------------------


class RasterTiling(Workload):
    """Point docs of the default mix burned into an int32 grid over the
    datagen extent, then its checksum, one overview level, a bilinear
    warp to Web Mercator and a COG with the full pyramid: raster kernels,
    tile-keyed shuffles and a driver-streamed sink, no vector join."""

    name = "raster_tiling"
    steps = ("rasterize", "overview", "warp", "cog")
    unit_docs = 20_000
    size = 512  # grid pixels per side; 1200 / 512 m is exact in binary
    warp_zoom = 16

    @property
    def spec(self) -> RasterSpec:
        px = 1200.0 / self.size
        return RasterSpec(
            width=self.size, height=self.size, gt=(float(EXTENT[0]), px, 0.0, float(EXTENT[3]), 0.0, -px),
            dtype="int32", nbands=1, tile_size=256,
        )

    def make_inputs(self, spark):
        # point features with envelope columns, straight from the
        # datagen arithmetic (no engine operator runs in set-up)
        c = geom_cols_sql("id")
        shapes = self.ids_df(spark).select(
            F.col("id").alias("fid"),
            F.expr(geom_wkt_sql("id")).alias("wkt"),
            *[F.expr(c[k]).cast("double").alias(name) for k, name in (("gx", "env_minx"), ("gy", "env_miny"), ("gx", "env_maxx"), ("gy", "env_maxy"))],
            F.array(F.lit(1.0)).alias("burn_values"),
            F.expr(f"{c['valid']} AND {c['half']} = 0").alias("_pt"),
        ).filter("_pt").drop("_pt")
        return {"shapes": _persist(shapes)}

    def expected(self):
        g = oracles.doc_geometry(self.ids_sql())
        pt = g["valid"] & (g["half"] == 0)
        minx, _miny, maxx, maxy = EXTENT
        arr = oracles.burn_points(g["gx"][pt], g["gy"][pt], minx, maxy, maxx - minx, self.size)
        return {
            "raster": arr,
            "checksum": oracles.checksum(arr),
            "overview": oracles.average_2x2(arr),
            "levels": len(cog_overview_dims(self.size, self.size, 256)),
        }

    def pass_steps(self, spark, inputs, expected, tag):
        from gdal_spark.geom.proj import Pipeline, utm

        spec = self.spec
        state: dict = {}
        cog_path = os.path.join(self.workdir, f"cog-{tag}.tif")
        arr = expected["raster"]
        ts = spec.tile_size

        def do_rasterize():
            burn = rasterize(inputs["shapes"], spec, merge_alg="add", env_cols=ENV4).persist()
            state["burn"] = burn
            return checksum_col(burn, spec).collect()

        def check_rasterize(rows):
            return _same("checksum", {int(r[0]): int(r[1]) for r in rows}, {1: expected["checksum"]})

        def overview():
            return overview_level(state["burn"].withColumn("z", F.lit(2)), resampling="average", tile_size=ts).collect()

        def check_overview(rows):
            ovr = expected["overview"]
            bad = 0
            for r in rows:
                t = np.frombuffer(r["payload"], dtype=r["dtype"]).reshape(ts, ts)
                want = np.zeros((ts, ts), dtype=np.int64)
                block = ovr[r["ty"] * ts : (r["ty"] + 1) * ts, r["tx"] * ts : (r["tx"] + 1) * ts]
                want[: block.shape[0], : block.shape[1]] = block
                bad += int(not np.array_equal(t, want))
            touched = {(ty // 2, tx // 2) for ty in range(spec.ntiles_y) for tx in range(spec.ntiles_x)
                       if arr[ty * ts : (ty + 1) * ts, tx * ts : (tx + 1) * ts].any()}
            return _same("overview tiles differing", bad, 0) + _same(
                "overview tile set", {(r["ty"], r["tx"]) for r in rows}, touched
            )

        def warp():
            pipe = Pipeline(src=utm(11), dst="webmercator")
            out = raster_tile(state["burn"], spec, pipe, min_zoom=self.warp_zoom, max_zoom=self.warp_zoom,
                              resampling="bilinear", approx_error=0.125)
            return out.groupBy("band").count().collect()

        def check_warp(rows):
            # no independent warp reference: both bands tile the same
            # footprint, and every pass must tile it identically
            got = {int(r[0]): int(r[1]) for r in rows}
            errs = _same("warp bands", sorted(got), [1, 2]) + _same("warp tiles per band", len(set(got.values())), 1)
            if "warp" in expected:
                errs += _same("warp tile counts vs first pass", got, expected["warp"])
            else:
                expected["warp"] = got
            return errs

        def cog():
            return write_cog(state["burn"], spec, cog_path, epsg=26711)

        def check_cog(info):
            back = read_geotiff(cog_path)
            lv = back["levels"][0]
            full = np.zeros((spec.height, spec.width), dtype=np.int64)
            for (_b, ty, tx), t in lv["tiles"].items():
                full[ty * ts : (ty + 1) * ts, tx * ts : (tx + 1) * ts] = t
            return (
                _same("cog levels", (info["levels"], len(back["levels"])), (expected["levels"],) * 2)
                + _same("cog bytes", info["bytes"], os.path.getsize(cog_path))
                + _same("cog full-resolution pixels equal the burn", bool(np.array_equal(full, arr)), True)
            )

        steps = [
            Step("rasterize", do_rasterize, check_rasterize),
            Step("overview", overview, check_overview),
            Step("warp", warp, check_warp),
            Step("cog", cog, check_cog, "bytes_written", lambda info: info["bytes"]),
        ]

        def cleanup():
            if "burn" in state:
                state["burn"].unpersist(blocking=True)
            if os.path.exists(cog_path):
                os.remove(cog_path)

        return steps, cleanup


WORKLOADS = {w.name: w for w in (JoinPointsFewZones, JoinPolygonsManyZones, RasterTiling)}
