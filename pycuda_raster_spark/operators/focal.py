"""Focal stencil operator: tiles (+halos) -> slope/aspect/hillshade tiles.

The Spark-native replacement for the reference's per-chunk CUDA kernel
launch ([ref?: gpuCalc.py]; kernels per B:6). Each tile row is
self-contained once halos are attached, so the stencil is a ``mapInPandas``
— embarrassingly parallel, no grouping shuffle needed (the reference needed
a serial rolling buffer; we pre-attached the halos as data instead).

All three products are computed in ONE pass sharing dzdx/dzdy (the
reference's one-input-pass -> many-outputs fan-out, [ref?: scheduler.py
(output, func) pairs]) — at 10^12-image scale re-reading the corpus per
product would triple the dominant I/O cost.

Every stencil runs through one body (``_stencil_tiles``) driven by one
kernel table (``_KERNELS``); the fused decode stage
(``decode_focal_arrow``) runs entries of the same table on whole grids.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions.focal_kernels import (
    NODATA,
    curvature_products,
    flow_dir,
    hillshade_md,
    horn_products,
    terrain_products,
)

PRODUCTS = ("slope", "aspect", "hillshade")
TERRAIN_PRODUCTS = ("tri", "tpi", "roughness")

# one entry per group of output columns that share a window: the columns
# and the kernel (grid, cellsize, halo_top, halo_bot) -> one array each
_KERNELS = {
    "horn": (PRODUCTS, lambda g, cs, ht, hb: horn_products(
        g, cs, halo_top=ht, halo_bot=hb)),
    "terrain": (TERRAIN_PRODUCTS, lambda g, cs, ht, hb: terrain_products(
        g, halo_top=ht, halo_bot=hb)),
    "curvature": (("curv_profile", "curv_plan"),
                  lambda g, cs, ht, hb: curvature_products(
                      g, cs, halo_top=ht, halo_bot=hb)),
    "hillshade_md": (("hillshade_md",), lambda g, cs, ht, hb: (hillshade_md(
        g, cs, halo_top=ht, halo_bot=hb),)),
    "flow_dir": (("flow_dir",), lambda g, cs, ht, hb: (flow_dir(
        g, halo_top=ht, halo_bot=hb),)),
}

_TILE_META = ("image_id", "tile_y", "ty0", "th", "w", "h", "cellsize", "x0",
              "y0", "crs", "caption", "psnr")
_TILE_META_SCHEMA = (
    "image_id string, tile_y int, ty0 int, th int, w int, h int, "
    "cellsize double, x0 double, y0 double, crs string, caption string, psnr double"
)


def _stencil_tiles(tiles: DataFrame, kernel: str,
                   products: tuple[str, ...] | None = None,
                   keep_px: bool = False) -> DataFrame:
    """tiles with halo_top/halo_bot -> one product array per output column
    of ``_KERNELS[kernel]`` (flattened row-major, same shape as px).
    Columns outside ``products`` (default: all) come back null — Catalyst
    prunes them when the caller never selects them. ``keep_px=True``
    carries the input band through after the products."""
    cols, fn = _KERNELS[kernel]
    want = set(cols if products is None else products)
    unknown = want - set(cols)
    if unknown:
        raise ValueError(f"unknown products: {sorted(unknown)}")

    def halo(v) -> np.ndarray | None:
        return None if v is None else np.asarray(v, dtype=np.float32)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            out = {c: pdf[c] for c in _TILE_META}
            out.update({c: [None] * n for c in cols})
            if keep_px:
                out["px"] = pdf["px"]
            for i in range(n):
                th, w = int(pdf["th"].iat[i]), int(pdf["w"].iat[i])
                grid = np.asarray(pdf["px"].iat[i], dtype=np.float32).reshape(th, w)
                res = fn(grid, float(pdf["cellsize"].iat[i]),
                         halo(pdf["halo_top"].iat[i]), halo(pdf["halo_bot"].iat[i]))
                for c, arr in zip(cols, res):
                    if c in want:
                        out[c][i] = arr.ravel()
            yield pd.DataFrame(out)

    schema = ", ".join([_TILE_META_SCHEMA, *(f"{c} array<float>" for c in cols),
                        *(["px array<float>"] if keep_px else [])])
    return tiles.select(*_TILE_META, "px", "halo_top", "halo_bot").mapInPandas(
        gen, schema=schema)


def focal_products(tiles: DataFrame, products: tuple[str, ...] = PRODUCTS) -> DataFrame:
    """tiles with halo_top/halo_bot -> Horn slope/aspect/hillshade tiles;
    unrequested products come back null."""
    return _stencil_tiles(tiles, "horn", products)


def terrain_tiles(tiles: DataFrame,
                  products: tuple[str, ...] = TERRAIN_PRODUCTS) -> DataFrame:
    """tiles with halo_top/halo_bot -> gdaldem TRI/TPI/roughness tiles —
    the three share the window so they cost one pass."""
    return _stencil_tiles(tiles, "terrain", products)


def curvature_tiles(tiles: DataFrame) -> DataFrame:
    """tiles with halo_top/halo_bot -> Zevenbergen-Thorne profile + plan
    curvature tiles (``functions/focal_kernels.py curvature_products``);
    the two curvatures share the window and the D/E/F/G/H terms."""
    return _stencil_tiles(tiles, "curvature")


def hillshade_md_tiles(tiles: DataFrame) -> DataFrame:
    """tiles with halo_top/halo_bot -> multidirectional hillshade tiles
    (gdaldem -multidirectional)."""
    return _stencil_tiles(tiles, "hillshade_md")


def flow_dir_tiles(tiles: DataFrame, keep_px: bool = False) -> DataFrame:
    """tiles with halo_top/halo_bot -> D8 flow-direction tiles (ESRI
    codes; functions/focal_kernels.flow_dir) — the hydrology entry point
    the gdaldem family lacks. ``keep_px=True`` carries the elevation band
    through (for consumers that derive per-cell weights, e.g. weighted
    flow accumulation)."""
    return _stencil_tiles(tiles, "flow_dir", keep_px=keep_px)


# the table entries the fused stage runs on whole grids
_FUSED_KERNELS = ("horn", "terrain", "flow_dir")
ALL_PRODUCTS = tuple(c for k in _FUSED_KERNELS for c in _KERNELS[k][0])

_FUSED_META = ("image_id", "tile_y", "ty0", "th", "w", "h", "cellsize",
               "x0", "y0", "crs", "caption", "phash", "psnr")
_PARTIALS = ("pn", "ps", "pss", "pmin", "pmax")
FUSED_SCHEMA_BIN = (
    "image_id string, tile_y int, ty0 int, th int, w int, h int, "
    "cellsize double, x0 double, y0 double, crs string, caption string, phash long, psnr double, "
    + ", ".join(f"{p} binary" for p in ALL_PRODUCTS)
    + ", pn bigint, ps double, pss double, pmin double, pmax double"
)


def decode_focal_arrow(
    images: DataFrame,
    tile_rows: int = 32,
    products: tuple[str, ...] = PRODUCTS,
    compute_psnr: bool = False,
    partitions: int | None = None,
) -> DataFrame:
    """FUSED fast path: decode -> stencil -> tile slice in ONE Python stage.

    The composable pair (decode_tiles -> focal_products) crosses Arrow
    twice per pixel; at 100 TB that doubles the dominant serialization
    cost. Here the whole image is decoded once, the requested kernels run
    on the full grid (halo exchange is implicit — the grid is in hand), and
    tiles of the PRODUCT arrays are emitted, together with the per-tile
    input-pixel partials (pn/ps/pss/pmin/pmax) that downstream zonal
    aggregation needs — so zonal stats never touch pixels again.
    Identical results to the tiled+halo path (tests assert equality).

    ``partitions``: repartition the (small) image rows before the heavy
    Python stage so decode parallelizes even when the scan produced few
    splits (a handful of big parquet files otherwise serializes the run).

    Product tiles are packed little-endian float32 BINARY blobs, not
    array<float>: parquet LIST encoding pays per-ELEMENT def/rep levels and
    JVM array-object churn — measured as a kernel-time storm at high write
    concurrency (300M list values); packed bytes are flat buffer copies.
    Decode with the ``px_f32`` helper. Unrequested products are empty
    (non-null) blobs.

    mapInArrow: input RecordBatches are consumed column-wise, output
    RecordBatches are assembled from raw NumPy buffers (binary columns =
    one concatenated data buffer + an offsets vector — no per-value PyBytes
    objects, no object-dtype arrays).
    """
    import pyarrow as pa

    from ..functions import codecs
    from .decode import _ensure_geo

    want = set(products)
    unknown = want - set(ALL_PRODUCTS)
    if unknown:
        raise ValueError(f"unknown products: {sorted(unknown)}")
    run = [_KERNELS[k] for k in _FUSED_KERNELS if want & set(_KERNELS[k][0])]
    images = _ensure_geo(images)
    if partitions:
        images = images.repartition(partitions, "image_id")

    def bin_array(chunks: list[bytes], lengths: np.ndarray) -> pa.Array:
        data = b"".join(chunks)
        offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
        np.cumsum(lengths, out=offsets[1:])
        return pa.BinaryArray.from_buffers(
            pa.binary(), len(lengths),
            [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data)],
        )

    def gen(batches):
        for rb in batches:
            col = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
            fmts = col["fmt"].to_pylist()
            ws = col["w"].to_numpy()
            hs = col["h"].to_numpy()
            css = col["cellsize"].to_numpy()
            blob = col["bytes"]
            # one output row per tile: its image's row index and tile number
            n_tiles = (hs + tile_rows - 1) // tile_rows
            img = np.repeat(np.arange(rb.num_rows), n_tiles)
            tile_y = np.arange(img.size) - np.repeat(np.cumsum(n_tiles) - n_tiles, n_tiles)
            ty0 = tile_y * tile_rows
            th = np.minimum(tile_rows, hs[img] - ty0)

            psnr: list[float] = []
            part: dict[str, list] = {k: [] for k in _PARTIALS}
            prod_chunks: dict[str, list[bytes]] = {p: [] for p in ALL_PRODUCTS}
            prod_lens: dict[str, list[int]] = {p: [] for p in ALL_PRODUCTS}

            for i in range(rb.num_rows):
                w, h = int(ws[i]), int(hs[i])
                grid = codecs.decode(blob[i].as_buffer(), fmts[i], w, h)
                p = float("inf")
                if compute_psnr:
                    rt = codecs.decode(codecs.encode(grid, fmts[i]), fmts[i], w, h)
                    p = codecs.psnr(grid, rt)
                psnr.append(p)
                prod: dict[str, np.ndarray] = {}
                for pcols, fn in run:
                    prod.update(zip(pcols, fn(grid, float(css[i]), None, None)))
                for t in range(n_tiles[i]):
                    sl = slice(t * tile_rows, (t + 1) * tile_rows)
                    blk = grid[sl]
                    valid = blk[blk != NODATA].astype(np.float64)
                    part["pn"].append(int(valid.size))
                    part["ps"].append(float(valid.sum()) if valid.size else 0.0)
                    part["pss"].append(float((valid * valid).sum()) if valid.size else 0.0)
                    part["pmin"].append(float(valid.min()) if valid.size else None)
                    part["pmax"].append(float(valid.max()) if valid.size else None)
                    for pname in ALL_PRODUCTS:
                        if pname in want:
                            b = np.ascontiguousarray(prod[pname][sl], dtype="<f4").tobytes()
                            prod_chunks[pname].append(b)
                            prod_lens[pname].append(len(b))
                        else:
                            prod_chunks[pname].append(b"")
                            prod_lens[pname].append(0)

            per_tile = pa.array(img)
            take = lambda c, typ: col[c].take(per_tile).cast(typ)  # noqa: E731
            arrays = [
                take("image_id", pa.string()),
                pa.array(tile_y.astype(np.int32)),
                pa.array(ty0.astype(np.int32)),
                pa.array(th.astype(np.int32)),
                take("w", pa.int32()),
                take("h", pa.int32()),
                take("cellsize", pa.float64()),
                take("x0", pa.float64()),
                take("y0", pa.float64()),
                take("crs", pa.string()),
                take("caption", pa.string()),
                take("phash", pa.int64()),
                pa.array(np.repeat(np.asarray(psnr, np.float64), n_tiles)),
                *[bin_array(prod_chunks[p], np.asarray(prod_lens[p], np.int64))
                  for p in ALL_PRODUCTS],
                pa.array(np.asarray(part["pn"], np.int64)),
                pa.array(np.asarray(part["ps"], np.float64)),
                pa.array(np.asarray(part["pss"], np.float64)),
                pa.array(part["pmin"], pa.float64()),
                pa.array(part["pmax"], pa.float64()),
            ]
            yield pa.RecordBatch.from_arrays(
                arrays, names=[*_FUSED_META, *ALL_PRODUCTS, *_PARTIALS])

    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash",
            "cellsize", "x0", "y0", "crs"]
    return images.select(*cols).mapInArrow(gen, schema=FUSED_SCHEMA_BIN)


def px_f32(buf) -> np.ndarray:
    """Decode a packed product blob back to float32 (helper for consumers
    of the binary tile schema)."""
    return np.frombuffer(bytes(buf), dtype="<f4")
