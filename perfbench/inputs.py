"""Seeded inputs of raster_pipeline. The same ``--seed`` gives the same
inputs; the amount of work (image count, formats, NODATA islands,
duplicates, zone count) is the same for every seed, only the content moves.

Images reuse the program's fixture DEM generator (``fixtures.make_grid``)
and codecs, so they have the shape of the engine's own corpus; the zones
are generated here."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pycuda_raster_spark import fixtures
from pycuda_raster_spark.functions.cellindex import WORLD, cells_covering_bbox
from pycuda_raster_spark.functions.codecs import encode
from pycuda_raster_spark.functions.phash import phash64

REGION = fixtures.REGION  # images and zones share [0, REGION)^2
FMT_CYCLE = ("raw", "png", "q8", "raw")
DUP_EVERY = 10    # image i (i >= 10, i % 10 == 9) repeats image i - 10
NODATA_EVERY = 9  # source images with i % 9 == 8 carry a NODATA island
ZONE_RES = 6


def _source(i: int) -> int:
    if i >= DUP_EVERY and i % DUP_EVERY == DUP_EVERY - 1:
        return i - DUP_EVERY
    return i


def corpus(seed: int, n_images: int, edge: int) -> tuple[pa.Table, list[dict]]:
    """Images table (the engine's images schema plus geo columns) and, per
    image, what the benchmark needs to check it: source grid, format,
    placement. ``make_grid`` seeds its generator with its index, so each
    benchmark seed draws from its own disjoint index range."""
    base = 1_000_000 * (seed % 1000)
    rows, meta, grids = [], [], {}
    for i in range(n_images):
        src = _source(i)
        fmt = FMT_CYCLE[src % len(FMT_CYCLE)]
        nodata = src % NODATA_EVERY == NODATA_EVERY - 1
        if src not in grids:
            grids[src] = fixtures.make_grid(base + src, edge, edge, fmt, nodata)
        g = grids[src]
        x0, y0, cs = fixtures.image_geo(i, n_images, edge)
        rows.append({
            "image_id": f"img{i:06d}", "bytes": encode(g, fmt), "w": edge, "h": edge,
            "fmt": fmt, "caption": f"image {i} (source {src}), seed {seed}",
            "phash": phash64(g), "x0": x0, "y0": y0, "cellsize": cs,
        })
        meta.append({"image_id": f"img{i:06d}", "src": src, "fmt": fmt, "nodata": nodata,
                     "grid": g, "x0": x0, "y0": y0, "cellsize": cs})
    schema = pa.schema([
        ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
        ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
        ("phash", pa.int64()), ("x0", pa.float64()), ("y0", pa.float64()),
        ("cellsize", pa.float64()),
    ])
    return pa.Table.from_pylist(rows, schema=schema), meta


def zones(seed: int, n_zones: int = 16) -> pa.Table:
    """Simple polygons (some concave) over the image region with their
    bbox cover cells at ZONE_RES, the engine's zones schema."""
    rng = np.random.default_rng([seed, 7])
    rows = []
    for z in range(n_zones):
        cx, cy = rng.uniform(0.1 * REGION, 0.9 * REGION, size=2)
        n_v = int(rng.integers(5, 12))
        base_r = rng.uniform(0.03 * REGION, 0.2 * REGION)
        ang = np.sort(rng.uniform(0, 2 * np.pi, size=n_v))
        rad = base_r * (1.0 + rng.uniform(-0.4, 0.6, size=n_v))
        xs = np.clip(cx + rad * np.cos(ang), 0, WORLD - 1e-9)
        ys = np.clip(cy + rad * np.sin(ang), 0, WORLD - 1e-9)
        cover = cells_covering_bbox(xs.min(), ys.min(), xs.max(), ys.max(), ZONE_RES)
        rows.append({"zone_id": z, "name": f"zone_{z}",
                     "ring": [{"x": float(x), "y": float(y)} for x, y in zip(xs, ys)],
                     "cover_cells": [int(c) for c in cover]})
    schema = pa.schema([
        ("zone_id", pa.int64()), ("name", pa.string()),
        ("ring", pa.list_(pa.struct([("x", pa.float64()), ("y", pa.float64())]))),
        ("cover_cells", pa.list_(pa.int64())),
    ])
    return pa.Table.from_pylist(rows, schema=schema)


def write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path
