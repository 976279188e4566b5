"""raster<->vector: zonal stats vs NumPy brute force; rasterize vs ray cast."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pycuda_raster_spark.fixtures import (
    CorpusSpec,
    build_images,
    build_zones,
    golden_pip,
    grid_for,
    image_origin,
    point_in_ring,
)
from pycuda_raster_spark.functions.codecs import NODATA, decode
from pycuda_raster_spark.operators.decode import decode_tiles
from pycuda_raster_spark.operators.zonal import rasterize_zones, zonal_stats

SPEC = CorpusSpec(n_images=16, w=32, h=32)
RES = 6
TILE_ROWS = 8


def _images_with_geo(spark):
    from pycuda_raster_spark.fixtures import image_cellsize, images_with_geo

    rows = images_with_geo(SPEC)
    return spark.createDataFrame(rows), rows, image_cellsize(SPEC)


def test_zonal_stats_vs_numpy(spark):
    images, rows, cs = _images_with_geo(spark)
    zones = build_zones(10, res=RES)
    zones_df = spark.createDataFrame(zones)
    tiles = decode_tiles(images, tile_rows=TILE_ROWS)
    got = {r.zone_id: r for r in zonal_stats(tiles, zones_df).collect()}

    # brute force: per tile centroid -> zone via golden ray cast, then
    # accumulate decoded pixel stats
    acc: dict[int, list] = {}
    for i, row in enumerate(rows):
        g = decode(bytes(row["bytes"]), row["fmt"], SPEC.w, SPEC.h)
        for t in range((SPEC.h + TILE_ROWS - 1) // TILE_ROWS):
            ty0 = t * TILE_ROWS
            th = min(TILE_ROWS, SPEC.h - ty0)
            cx = row["x0"] + SPEC.w / 2.0 * cs
            cy = row["y0"] + (ty0 + th / 2.0) * cs
            px = g[ty0 : ty0 + th].ravel()
            px = px[px != NODATA].astype(np.float64)
            for z in zones:
                if point_in_ring(np.array([cx]), np.array([cy]), z["ring"])[0]:
                    acc.setdefault(z["zone_id"], []).append(px)
    want = {z: np.concatenate(v) for z, v in acc.items() if v}
    assert set(got) == set(want)
    for z, px in want.items():
        r = got[z]
        assert r.n_px == len(px)
        assert abs(r.sum_px - px.sum()) < 1e-6 * max(1.0, abs(px.sum()))
        assert r.min_px == px.min() and r.max_px == px.max()
        assert abs(r.mean_px - px.mean()) < 1e-9 * max(1.0, abs(px.mean()))
        assert abs(r.std_px - px.std()) < 1e-6


def test_rasterize_zones_vs_raycast(spark):
    images, rows, cs = _images_with_geo(spark)
    zones = build_zones(10, res=RES)
    zones_df = spark.createDataFrame(zones)
    tiles = decode_tiles(images.limit(4), tile_rows=TILE_ROWS)
    out = rasterize_zones(tiles, zones_df).collect()
    assert out
    checked_hits = 0
    for r in out:
        i = int(r.image_id[3:])
        x0, y0 = image_origin(i, SPEC.n_images)
        mask = np.asarray(r.zone_mask).reshape(r.th, r.w)
        # spot-check every 7th pixel against a direct ray cast
        for yi in range(0, r.th, 7):
            for xi in range(0, r.w, 7):
                px = x0 + (xi + 0.5) * cs
                py = y0 + (r.ty0 + yi + 0.5) * cs
                hits = [
                    z["zone_id"]
                    for z in zones
                    if point_in_ring(np.array([px]), np.array([py]), z["ring"])[0]
                ]
                if mask[yi, xi] == -1:
                    assert not hits
                else:
                    assert mask[yi, xi] in hits
                    checked_hits += 1
    assert checked_hits > 0, "rasterize test exercised no in-zone pixels"


def test_rasterize_zones_is_collect_free(spark, monkeypatch):
    """Scale gate (VERDICT r3 #3): building AND running rasterize_zones
    must never collect the zones table to the driver — candidates come
    from the cover-cell equi-join. collect()/first()/toPandas are patched
    to raise for the whole construction; the result arrives via
    toLocalIterator only."""
    import pyspark.sql.dataframe as _df_mod

    images, rows, cs = _images_with_geo(spark)
    zones = build_zones(10, res=RES)
    zones_df = spark.createDataFrame(zones)
    tiles = decode_tiles(images.limit(2), tile_rows=TILE_ROWS)

    def _banned(self, *a, **k):
        raise AssertionError("driver-side collect inside rasterize_zones")

    monkeypatch.setattr(_df_mod.DataFrame, "collect", _banned)
    monkeypatch.setattr(_df_mod.DataFrame, "first", _banned)
    monkeypatch.setattr(_df_mod.DataFrame, "toPandas", _banned)
    out = rasterize_zones(tiles, zones_df, res=RES)
    got = list(out.toLocalIterator())
    monkeypatch.undo()
    assert got
    # and the masks are still the exact ray-cast answer on a spot check
    r = got[0]
    i = int(r.image_id[3:])
    x0, y0 = image_origin(i, SPEC.n_images)
    mask = np.asarray(r.zone_mask).reshape(r.th, r.w)
    for yi in range(0, r.th, 5):
        for xi in range(0, r.w, 5):
            px = x0 + (xi + 0.5) * cs
            py = y0 + (r.ty0 + yi + 0.5) * cs
            hits = [z["zone_id"] for z in zones
                    if point_in_ring(np.array([px]), np.array([py]), z["ring"])[0]]
            assert (mask[yi, xi] == -1) == (not hits)
            if hits:
                assert mask[yi, xi] in hits


def test_rasterize_overlap_highest_zone_wins(spark):
    """Overlapping zones resolve deterministically to the HIGHEST zone_id
    (partition-invariant — not dependent on any DataFrame row order)."""
    from pycuda_raster_spark.functions import cellindex

    images, rows, cs = _images_with_geo(spark)
    x0, y0 = rows[0]["x0"], rows[0]["y0"]
    # two zones both covering the whole first image
    big = [{"x": x0 - 1.0, "y": y0 - 1.0},
           {"x": x0 + 40 * cs, "y": y0 - 1.0},
           {"x": x0 + 40 * cs, "y": y0 + 40 * cs},
           {"x": x0 - 1.0, "y": y0 + 40 * cs}]
    cover = [int(c) for c in cellindex.cells_covering_bbox(
        x0 - 1.0, y0 - 1.0, x0 + 40 * cs, y0 + 40 * cs, RES)]
    zones = spark.createDataFrame(
        [{"zone_id": 7, "name": "a", "ring": big, "cover_cells": cover},
         {"zone_id": 3, "name": "b", "ring": big, "cover_cells": cover}])
    tiles = decode_tiles(images.filter(F.col("image_id") == "img000000"),
                         tile_rows=TILE_ROWS)
    for npart in (1, 5):
        out = rasterize_zones(tiles.repartition(npart), zones, res=RES).collect()
        assert out
        for r in out:
            vals = set(np.asarray(r.zone_mask).tolist())
            assert vals == {7}, vals  # highest id wins everywhere


def test_zonal_exact_sums_partitioning_invariant(spark):
    """zonal_stats routes partial sums through DECIMAL: the result must be
    BIT-IDENTICAL across partitionings (a raw double SUM over a shuffled
    set is not — that is the 1000-executor reproducibility property)."""
    images, _, _ = _images_with_geo(spark)
    zones_df = spark.createDataFrame(build_zones(10, res=RES))

    def run(npart):
        tiles = decode_tiles(images.repartition(npart), tile_rows=TILE_ROWS)
        out = zonal_stats(tiles, zones_df, res=RES)
        return {r.zone_id: (r.n_px, r.sum_px, r.min_px, r.max_px)
                for r in out.collect()}

    a, b = run(1), run(13)
    assert a == b, "decimal-routed sums must not depend on partitioning"


def test_pipeline_zonal_partitioning_invariant(spark, tmp_path):
    """run_pipeline's zonal output, read back from the tile sink, must be
    BIT-IDENTICAL whether the sink holds the tiles in 1 bucket or 13: the
    final SUM sees the same per-tile partials in a different order. (This
    corpus is large enough that a raw double SUM differs on some zones.)"""
    from pycuda_raster_spark.fixtures import images_with_geo
    from pycuda_raster_spark.plans.pipeline import run_pipeline

    images = spark.createDataFrame(images_with_geo(CorpusSpec(n_images=32, w=64, h=64)))
    zones_df = spark.createDataFrame(build_zones(16, res=RES))

    def run(n_buckets):
        out = str(tmp_path / f"buckets{n_buckets}")
        run_pipeline(spark, images, out, zones=zones_df, tile_rows=4,
                     n_buckets=n_buckets, compute_psnr=False, zones_res=RES)
        return {r.zone_id: tuple(r) for r in spark.read.parquet(f"{out}/zonal").collect()}

    a, b = run(1), run(13)
    assert a and a == b, "pipeline zonal stats must not depend on partitioning"
