"""``zonal_docs``: the BASELINE flagship, ``plans.flagship.doc_zonal_stats``.

Zipf-skewed interleaved documents read from parquet, a cached synthetic raster
with ~1% NaN cells, and 102 seeded zones: 100 star-shaped polygons with 32-256
vertices on a jittered 10×10 grid, one concave polygon and one polygon with a
hole. Both the doc side (``media_refs`` explode, salted
broadcast join, ``groupBy(zone_id, doc_id)``) and the tile side (one PIP pass
per tile, whatever the doc fan-in) do real work.

Output check: Σ``cell_count`` and Σ``sum`` over the whole output equal a
numpy recomputation made at set-up (per-tile media-ref counts × per-(tile,
zone) masked sums over the cached raster, with a PIP written here, not the
engine's), and every row has ``min ≤ mean ≤ max``. The single aggregate that
reads them forces every output column.
"""

from __future__ import annotations

import math
import shutil
import time
from pathlib import Path

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from rastr_spark.geometry import Geometry, points_in_geometry
from rastr_spark.meta import Affine, RasterMeta
from rastr_spark.plans.flagship import doc_zonal_stats, tile_zone_partials
from rastr_spark.sources.documents import generate_documents, media_refs
from rastr_spark.sources.io import write_raster
from rastr_spark.tiles import RasterFrame

import raster_layers
from harness import CheckFailed, Tracer, noop_rows

GRID = 256
TILE = 32
CELL = 8.0
WORLD = GRID * CELL
N_DOCS = 10_000
N_STARS = 100
# Hot tiles (> SALT_THRESHOLD media refs, a handful of the Zipf head at this
# doc count) take the salted join path.
SALT_THRESHOLD = N_DOCS // 50
RASTER_ID = "bench"
META = RasterMeta(CELL, "EPSG:2193", Affine(CELL, 0, 0, 0, -CELL, WORLD), GRID, GRID, tile_size=TILE)


def build_raster(spark: SparkSession, seed: int) -> RasterFrame:
    """Seeded smooth field with ~1% NaN cells, generated on the executors."""
    base = RasterFrame.full(spark, META, 0.0, raster_id=RASTER_ID)
    rng = np.random.default_rng(seed)
    fy, fx = (float(v) for v in rng.uniform(60.0, 140.0, 2))
    py, px = (float(v) for v in rng.uniform(0.0, 2 * math.pi, 2))

    def value(i):
        row = (F.col("tile_row") * TILE + (i / TILE).cast("int")).cast("double")
        col = (F.col("tile_col") * TILE + i % TILE).cast("double")
        return F.sin(row / fy + py) + F.cos(col / fx + px)

    df = base.df.select(
        "raster_id", "tile_row", "tile_col", "cell_id",
        F.transform(
            F.sequence(F.lit(0), F.size("values") - 1),
            lambda i: F.when(
                F.pmod(F.xxhash64(F.lit(seed), F.col("tile_row"), F.col("tile_col"), i), 100) < 1,
                F.lit(float("nan")),
            ).otherwise(value(i)),
        ).alias("values"),
    )
    return RasterFrame(df, META, RASTER_ID)


def make_zones(seed: int) -> list[tuple[str, Geometry]]:
    rng = np.random.default_rng(seed + 1)
    w = WORLD
    zones: list[tuple[str, Geometry]] = []
    # The same vertex counts and radii for every seed, in a seeded order, and
    # one star per cell of a 10×10 grid (centre jittered inside the cell), so
    # the PIP work and the zones' coverage of the Zipf-hot top rows barely
    # vary with the seed.
    n_vertices = rng.permutation(np.linspace(32, 256, N_STARS).astype(int))
    radii = rng.permutation(np.linspace(0.2, 0.6, N_STARS)) * TILE * CELL
    side = int(math.isqrt(N_STARS))
    for k, (n, radius) in enumerate(zip(n_vertices.tolist(), radii.tolist())):
        gx, gy = (k % side + rng.uniform(0.2, 0.8)) * w / side, (k // side + rng.uniform(0.2, 0.8)) * w / side
        ang = np.sort(rng.uniform(0.0, 2 * math.pi, n))
        r = radius * rng.uniform(0.45, 1.0, n)
        zones.append((f"star{k:03d}", Geometry.polygon(np.column_stack([gx + r * np.cos(ang), gy + r * np.sin(ang)]))))
    j = lambda v: v * w + float(rng.uniform(-0.02, 0.02)) * w  # noqa: E731
    zones.append(("concave", Geometry.polygon(
        [(j(0.1), j(0.1)), (j(0.9), j(0.1)), (j(0.9), j(0.9)), (j(0.62), j(0.9)),
         (j(0.62), j(0.35)), (j(0.38), j(0.35)), (j(0.38), j(0.9)), (j(0.1), j(0.9))]
    )))
    zones.append(("holed", Geometry.polygon(
        [(j(0.2), j(0.2)), (j(0.8), j(0.2)), (j(0.8), j(0.8)), (j(0.2), j(0.8))],
        holes=[[(j(0.35), j(0.35)), (j(0.35), j(0.65)), (j(0.65), j(0.65)), (j(0.65), j(0.35))]],
    )))
    return zones


def _inside(px: np.ndarray, py: np.ndarray, geom: Geometry) -> np.ndarray:
    """Even-odd crossing test, half-open edge rule, one edge at a time: the
    benchmark's own reference PIP (independent of ``rastr_spark.geometry``)."""
    inside = np.zeros(px.shape, dtype=bool)
    for ring in geom.rings():
        if len(ring) < 4:
            continue
        for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
            if y0 == y1:  # a horizontal edge is never crossed
                continue
            t = (py - y0) / (y1 - y0)
            inside ^= ((y0 <= py) != (y1 <= py)) & (px < x0 + t * (x1 - x0))
    return inside


def _bbox_cells(geom: Geometry) -> tuple[slice, slice]:
    xmin, ymin, xmax, ymax = geom.bbox()
    t = META.transform
    c0 = max(int(math.floor((xmin - t.c) / t.a)) - 1, 0)
    c1 = min(int(math.ceil((xmax - t.c) / t.a)) + 1, GRID)
    r0 = max(int(math.floor((ymax - t.f) / t.e)) - 1, 0)
    r1 = min(int(math.ceil((ymin - t.f) / t.e)) + 1, GRID)
    return slice(r0, r1), slice(c0, c1)


def _centres(rs: slice, cs: slice) -> tuple[np.ndarray, np.ndarray]:
    t = META.transform
    rowg = np.arange(rs.start, rs.stop, dtype=np.float64)[:, None] + 0.5
    colg = np.arange(cs.start, cs.stop, dtype=np.float64)[None, :] + 0.5
    X = t.a * colg + t.b * rowg + t.c
    Y = t.d * colg + t.e * rowg + t.f
    return X, Y


class ZonalDocs:
    name = "zonal_docs"

    def __init__(self, spark: SparkSession, seed: int, work: Path):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.zones = make_zones(seed)
        self.rf: RasterFrame | None = None
        self.docs = None
        self.expected: tuple[int, float] | None = None
        self.build_s: list[float] = []

    @property
    def input_rows(self) -> int:
        return N_DOCS

    def setup(self, rep: int) -> None:
        """Build and persist the inputs: the cached raster and the document
        table written to parquet and read back."""
        if self.rf is not None:
            self.rf.df.unpersist(blocking=True)
        t0 = time.perf_counter()
        rf = build_raster(self.spark, self.seed)
        self.rf = RasterFrame(rf.df.cache(), rf.meta, rf.raster_id)
        self.rf.df.count()
        self.build_s.append(time.perf_counter() - t0)
        path = self.work / f"docs-{rep}"
        generate_documents(
            self.spark, N_DOCS, seed=self.seed, n_tile_rows=META.n_tile_rows,
            n_tile_cols=META.n_tile_cols, raster_id=RASTER_ID, world_size=WORLD,
        ).write.mode("overwrite").parquet(str(path))
        self.docs = self.spark.read.parquet(str(path))
        if rep > 0:
            shutil.rmtree(self.work / f"docs-{rep - 1}", ignore_errors=True)

    def build_oracle(self) -> None:
        """Expected (Σcell_count, Σsum) from per-tile ref counts × per-(tile,
        zone) masked partials, all computed on the driver."""
        arr = np.full((GRID, GRID), np.nan)
        for r in self.rf.df.select("tile_row", "tile_col", "values").collect():
            r0, c0 = r["tile_row"] * TILE, r["tile_col"] * TILE
            arr[r0 : r0 + TILE, c0 : c0 + TILE] = np.asarray(r["values"]).reshape(TILE, TILE)
        refs = np.zeros(META.n_tile_rows * META.n_tile_cols)
        media = self.docs.selectExpr("inline(filter(spans, s -> s.kind = 'media'))")
        for r in media.groupBy("media_ref").count().collect():
            rid, tr, tc = r["media_ref"].split("/")
            if rid == RASTER_ID:
                refs[int(tr) * META.n_tile_cols + int(tc)] += r["count"]
        cnt_total, sum_total = 0, 0.0
        for _, geom in self.zones:
            rs, cs = _bbox_cells(geom)
            X, Y = _centres(rs, cs)
            vals = arr[rs, cs]
            m = _inside(X, Y, geom) & ~np.isnan(vals)
            rows = np.arange(rs.start, rs.stop)[:, None] // TILE
            cols = np.arange(cs.start, cs.stop)[None, :] // TILE
            tile = np.broadcast_to(rows * META.n_tile_cols + cols, m.shape)[m]
            w = refs[tile]
            cnt_total += int(w.sum())
            sum_total += float((w * vals[m]).sum())
        self.expected = (cnt_total, sum_total)

    def query(self):
        return doc_zonal_stats(self.docs, self.rf, self.zones, salt_threshold=SALT_THRESHOLD)

    def execute(self) -> None:
        mean_ok = (F.col("min") - 1e-9 <= F.col("mean")) & (F.col("mean") <= F.col("max") + 1e-9)
        row = self.query().agg(
            F.sum("cell_count").alias("cnt"),
            F.sum("sum").alias("s"),
            F.sum(F.when(mean_ok, 0).otherwise(1)).alias("bad"),
        ).collect()[0]
        cnt, s = self.expected
        if row["cnt"] != cnt:
            raise CheckFailed(f"sum(cell_count) {row['cnt']} != expected {cnt}")
        if not math.isclose(row["s"], s, rel_tol=1e-9, abs_tol=1e-6):
            raise CheckFailed(f"sum(sum) {row['s']!r} != expected {s!r}")
        if row["bad"]:
            raise CheckFailed(f"{row['bad']} rows violate min <= mean <= max")

    def summary(self) -> dict:
        return {"expected_cell_count": self.expected[0], "expected_sum": self.expected[1]}

    def trace_layers(self, tr: Tracer) -> dict[str, float]:
        """One call per layer, each forced on its own by a noop write."""
        n_pairs = META.n_tile_rows * META.n_tile_cols * len(self.zones)
        with tr.span("sources.documents.media_refs") as s_refs:
            refs_rows = noop_rows(media_refs(self.docs).filter(F.col("raster_id") == RASTER_ID))
        with tr.span("plans.flagship.tile_zone_partials") as s_part:
            part_rows = noop_rows(tile_zone_partials(self.rf, self.zones))
        with tr.span("plans.flagship.doc_zonal_stats") as s_whole:
            out_rows = noop_rows(self.query())
        with tr.span("geometry.points_in_geometry") as s_geom:
            n_points = 0
            for _, geom in self.zones:
                X, Y = (a.ravel() for a in _centres(*_bbox_cells(geom)))
                for i in range(0, X.size, 16384):
                    points_in_geometry(X[i : i + 16384], Y[i : i + 16384], geom)
                n_points += X.size
        store = self.work / "trace-store"
        if not store.exists():
            write_raster(self.rf, store)
        etl = raster_layers.probe(tr, store, self.work / "trace-out")
        for s, k, v in ((s_refs, "rows", refs_rows), (s_part, "rows", part_rows),
                        (s_whole, "rows_out", out_rows), (s_geom, "points", n_points)):
            s.counts[k] = v
        return {
            **etl,
            "sources.documents.media_refs.s": s_refs.duration,
            "sources.documents.media_refs.rows": refs_rows,
            "plans.flagship.tile_zone_partials.s": s_part.duration,
            "plans.flagship.tile_zone_partials.rows": part_rows,
            "plans.flagship.tile_zone_partials.hit_ratio": part_rows / n_pairs,
            "geometry.points_in_geometry.mpoints_per_s": n_points / s_geom.duration / 1e6,
            "plans.flagship.doc_zonal_stats.s": s_whole.duration,
            "plans.flagship.doc_zonal_stats.join_agg_self_s": s_whole.duration - s_refs.duration - s_part.duration,
            "plans.flagship.doc_zonal_stats.rows_out": out_rows,
        }
