"""CLI entry point mirroring the reference's scheduler surface.

The reference is driven as ``python scheduler.py <in> <out1> <func1>
[<out2> <func2> ...]`` ([ref?: scheduler.py]; EP1 in SURVEY.md §3.1). The
engine keeps that exact shape:

    python -m pycuda_raster_spark INPUT OUT1 FUNC1 [OUT2 FUNC2 ...]
           [--tile-rows N] [--cores N]

INPUT: an images-table parquet path, or a directory/glob of raster files
(ESRI ASCII Grid .asc and/or GeoTIFF .tif). FUNC in {slope, aspect,
hillshade, tri, tpi, roughness, curv_profile, curv_plan, flow_dir,
flow_accum, shreve, strahler, basins, twi} (the gdaldem product set plus
Zevenbergen-Thorne curvature and the D8 hydrology family — all hydro
products share ONE decode+flow_dir pass), plus "dem" (the elevation
itself — useful with --resample). Each OUT receives a
parquet tile table for its product (one input pass computes all
requested products — the reference's multi-output fan-out).

--resample=HxW (gdal_translate -outsize + gdaldem in one run): resample
every DEM to H rows x W cols first (--resample-method=nearest|bilinear,
default bilinear), then compute the products on the resampled grid via
the halo-exchange path. Product tiles are written as array<float> in
this mode (the default fused mode writes packed f32 binary blobs).

--warp=HxW (gdalwarp-style regrid, r4): warp every DEM onto an
H-rows x W-cols destination grid with --warp-dcell=<cellsize> (default:
source cellsize), origin shifted by --warp-offset=DX,DY (default 0,0),
--warp-method=nearest|bilinear (default bilinear). Out-of-extent
destination pixels are NODATA. Composes with the same product list as
--resample (mutually exclusive with it).

--mosaic=HxW (gdal_merge-style, r4): compose ALL input DEMs onto one
shared canvas with origin --mosaic-origin=X0,Y0 (default 0,0), cell
size --mosaic-dcell (default: min source cellsize), merge rule
--mosaic-rule=first|last|max|min (default first), then compute the
product list on the composite. Mutually exclusive with the other
regrid modes.

--crop=R0,C0,HxW (gdal_translate -srcwin, r4): cut the window rows
[R0, R0+H) x cols [C0, C0+W) (south-up row order) out of every DEM
first, then compute the products on the cropped grid. Mutually
exclusive with the other regrid modes.

--polygonize=K (gdal_polygonize, r5): classify every DEM by floor(v/K)
(K <= 0 keeps raw values) and extract connected equal-valued regions;
FUNC "regions" writes the labeled inventory (label/value/count/bbox),
FUNC "rings" the world-coordinate outer rings. Mutually exclusive with
the other modes.

--contour=L1,L2,... (gdal_contour, r5): iso-elevation contour extraction
at the given levels; FUNC "segments" writes raw marching-squares
segments, FUNC "lines" stitched polylines (line_id per connected
contour). Mutually exclusive with the other modes.

--proximity=DIV,MOD (gdal_proximity, r5): exact Euclidean distance to
the nearest target cell, targets = floor(v/DIV) % MOD == 0; or
--proximity-values=V1,V2,... for an explicit target value list
(gdal_proximity -values). FUNC "proximity" writes per-tile dist2 (exact
squared cell distance; -1 = no target in image) + dist (georeferenced)
tables. Mutually exclusive with the other modes.

--fillnodata=default|DIV,MOD (gdal_fillnodata nearest variant, r5):
every invalid cell takes the value of the nearest valid cell
(deterministic tiebreak min(dist2, src_r, src_c)). "default" treats
NODATA cells as the holes; DIV,MOD restricts sources to cells with
floor(v/DIV) % MOD == 0 (everything else refilled); or
--fillnodata-values=V1,V2,... for an explicit source value list. FUNC
"fillnodata" writes per-tile filled/dist2/src_r/src_c tables. Mutually
exclusive with the other modes.

--sieve=THRESHOLD (gdal_sieve deterministic variant, r5): merge
connected same-value regions smaller than THRESHOLD cells into their
largest adjacent region (tie -> smallest label; one-shot, no cascade —
documented deviation from GDAL's order-dependent merging).
--sieve-class=K first classifies by floor(v/K) like --polygonize. FUNC
"sieve" writes the sieved tile table, FUNC "sieve_regions" the
region-level decision table. Mutually exclusive with the other modes.

--viewshed=OROW,OCOL[,OZ[,MD]] (gdal_viewshed, r5): 0/1 visibility grid
from an observer at cell (OROW,OCOL) raised OZ (default 2.0) above the
terrain; MD = max distance in cells (gdal_viewshed -md; bands beyond it
are pruned before the shuffle). FUNC "viewshed" writes the per-tile
visibility table. Mutually exclusive with the other modes.

--fill (ArcGIS Fill / GRASS r.fill.dir, r5): depression filling
(Planchon-Darboux spill elevations) — the hydrology preprocessing
step; FUNC "fill" writes per-tile filled-elevation tables. Mutually
exclusive with the other modes.

--profile=R0,C0,R1,C1 (GRASS r.profile, r5): transect sampling — S+1
evenly spaced samples along the cell-space segment, S = max(|dr|,|dc|);
FUNC "profile" writes (image_id, step, r, c, dist, val) rows. Mutually
exclusive with the other modes.

--lake=R,C,LEVEL (GRASS r.lake, r5): flood-fill lake extent — the
4-connected region of cells with elevation <= LEVEL containing seed
cell (R,C); FUNC "lake" writes per-tile DEPTH tables (level -
elevation inside the lake, NODATA outside). Mutually exclusive with
the other modes.

--streams=THRESHOLD (GRASS r.stream.extract / ArcGIS Stream Link, r5):
channel cells = cells whose weakly-upstream count (flow_accum + 1) >=
THRESHOLD; the channel graph is cut at junctions and labeled into
links. FUNC "streams" writes the SPARSE link table (image_id, r, c,
acc, link_id, link_cells). Mutually exclusive with the other modes.

--overviews=K1,K2,... (gdaladdo, r5): overview pyramid — compute the
product list on every /K reduced level (--overviews-method=
nearest|bilinear, default nearest), written under OUT/level=K/.
Mutually exclusive with the other regrid modes.

--reproject=HxW (gdalwarp -t_srs, r5): true CRS reprojection of every
DEM onto an H-rows x W-cols grid in --reproject-to=EPSG:3857|EPSG:4326
(default EPSG:3857), headers interpreted in --reproject-from (default
EPSG:4326), cell size --reproject-dcell (default: the source cellsize
converted at equator scale), --reproject-method=nearest|bilinear
(default bilinear). Dest origin is the projected source origin.
Mutually exclusive with the other regrid modes.
"""

from __future__ import annotations

import sys


def main(argv: list[str]) -> int:
    args = [a for a in argv if not a.startswith("--")]
    opts = dict(a.lstrip("-").split("=", 1) for a in argv if a.startswith("--") and "=" in a)
    if len(args) < 3 or len(args) % 2 == 0:
        print(__doc__)
        return 2
    inp, pairs = args[0], list(zip(args[1::2], args[2::2]))
    products = tuple(func for _, func in pairs)
    from .operators.focal import ALL_PRODUCTS, decode_focal_arrow

    resample = opts.get("resample")
    warp = opts.get("warp")
    mosaic = opts.get("mosaic")
    crop = opts.get("crop")
    reproject = opts.get("reproject")
    overviews = opts.get("overviews")
    polygonize = opts.get("polygonize")
    contour = opts.get("contour")
    proximity = opts.get("proximity") or opts.get("proximity-values")
    fillnodata = opts.get("fillnodata") or opts.get("fillnodata-values")
    sieve = opts.get("sieve")
    viewshed = opts.get("viewshed")
    streams = opts.get("streams")
    lake = opts.get("lake")
    profile = opts.get("profile")
    fill = "fill" in [a.lstrip("-") for a in argv if a.startswith("--")]
    modes = (resample, warp, mosaic, crop, reproject, overviews, polygonize,
             contour, proximity, fillnodata, sieve, viewshed, streams, lake,
             profile, fill)
    if sum(bool(m) for m in modes) > 1:
        print("--resample / --warp / --mosaic / --crop / --reproject / "
              "--overviews / --polygonize / --contour / --proximity / "
              "--fillnodata / --sieve / --viewshed / --streams / --lake / "
              "--profile / --fill are mutually exclusive")
        return 2
    allowed = (("regions", "rings") if polygonize
               else ("segments", "lines") if contour
               else ("proximity",) if proximity
               else ("fillnodata",) if fillnodata
               else ("sieve", "sieve_regions") if sieve
               else ("viewshed",) if viewshed
               else ("streams",) if streams
               else ("lake",) if lake
               else ("profile",) if profile
               else ("fill",) if fill
               else ALL_PRODUCTS
               + ("flow_accum", "shreve", "strahler", "basins", "twi",
                  "curv_profile", "curv_plan")
               + (("dem",) if any(modes) else ()))
    bad = set(products) - set(allowed)
    if bad:
        print(f"unknown products: {sorted(bad)}; available: {allowed}")
        return 2

    from .session import get_spark

    spark = get_spark("pycuda_raster_spark.cli", cores=opts.get("cores"))
    if inp.endswith(".asc") or inp.endswith("/") or not inp.endswith(".parquet"):
        try:
            images = spark.read.parquet(inp)
        except Exception:
            from .sources.rasters import read_raster_files

            images = read_raster_files(spark, inp)
    else:
        images = spark.read.parquet(inp)

    tile_rows = int(opts.get("tile-rows", 64))
    if resample:
        from .operators.resample import resample_tiles

        out_h, out_w = (int(x) for x in resample.lower().split("x"))
        method = opts.get("resample-method", "bilinear")
        _run_regridded(
            spark, images, pairs, products, tile_rows,
            lambda tiles: resample_tiles(tiles, out_h, out_w, method=method,
                                         out_tile_rows=tile_rows),
            f"{out_h}x{out_w} {method}")
        return 0
    if warp:
        out_h, out_w = (int(x) for x in warp.lower().split("x"))
        dcell = opts.get("warp-dcell")
        dx, dy = (float(v) for v in opts.get("warp-offset", "0,0").split(","))
        method = opts.get("warp-method", "bilinear")

        def regrid(tiles):
            from pyspark.sql import functions as F

            from .operators.warp import warp_affine_tiles

            dc = float(dcell) if dcell is not None else float(
                tiles.select(F.min("cellsize")).first()[0])
            return warp_affine_tiles(tiles, out_h, out_w, dc, dx_off=dx,
                                     dy_off=dy, method=method,
                                     out_tile_rows=tile_rows)

        _run_regridded(spark, images, pairs, products, tile_rows,
                       regrid, f"warp {out_h}x{out_w} {method}")
        return 0
    if contour:
        # --contour=L1,L2,...: gdal_contour — iso-elevation segments
        # ("segments") or stitched polylines ("lines") at each level
        from .operators.contour import contour_polylines, contour_tiles
        from .operators.decode import decode_tiles

        levels = [float(v) for v in contour.split(",")]
        segs = contour_tiles(
            decode_tiles(images, tile_rows=tile_rows), levels)
        segs = segs.localCheckpoint(eager=True)
        for out, func in pairs:
            df = contour_polylines(segs) if func == "lines" else segs
            df.write.mode("overwrite").parquet(out)
            print(f"wrote contour {func} -> {out}")
        return 0
    if polygonize:
        # --polygonize=K: gdal_polygonize — classify by floor(v/K)
        # (K <= 0 keeps raw values), then write the region inventory
        # ("regions") and/or world-coordinate outer rings ("rings")
        from pyspark.sql import functions as F

        from .operators.decode import decode_tiles
        from .operators.vectorize import polygonize_tiles, region_rings

        kf = float(polygonize)
        tiles = decode_tiles(images, tile_rows=tile_rows)
        if kf > 0:
            tiles = tiles.withColumn(
                "px", F.transform(
                    "px", lambda v: F.when(v == F.lit(-9999.0), v)
                    .otherwise(F.floor(v / F.lit(kf)).cast("float"))))
        tiles = tiles.localCheckpoint(eager=True)
        regions = polygonize_tiles(tiles, pinned=False)
        for out, func in pairs:
            if func == "regions":
                regions.write.mode("overwrite").parquet(out)
            else:
                region_rings(tiles, regions).write.mode(
                    "overwrite").parquet(out)
            print(f"wrote {func} -> {out}")
        return 0
    if proximity:
        # --proximity=DIV,MOD | --proximity-values=V1,...: gdal_proximity
        from .operators.decode import decode_tiles
        from .operators.proximity import (
            proximity_tiles, target_class_mod, target_values)

        if opts.get("proximity-values"):
            pred = target_values(
                [float(v) for v in opts["proximity-values"].split(",")])
        else:
            div, mod = opts["proximity"].split(",")
            pred = target_class_mod(float(div), int(mod))
        prox = proximity_tiles(
            decode_tiles(images, tile_rows=tile_rows), pred)
        for out, func in pairs:
            prox.write.mode("overwrite").parquet(out)
            print(f"wrote proximity tiles -> {out}")
        return 0
    if fillnodata:
        # --fillnodata=default|DIV,MOD | --fillnodata-values=V1,...
        from .operators.decode import decode_tiles
        from .operators.fillnodata import fill_nearest_tiles
        from .operators.proximity import target_class_mod, target_values

        if opts.get("fillnodata-values"):
            pred = target_values(
                [float(v) for v in opts["fillnodata-values"].split(",")])
        elif opts["fillnodata"] != "default":
            div, mod = opts["fillnodata"].split(",")
            pred = target_class_mod(float(div), int(mod))
        else:
            pred = None
        filled = fill_nearest_tiles(
            decode_tiles(images, tile_rows=tile_rows), valid=pred)
        for out, func in pairs:
            filled.write.mode("overwrite").parquet(out)
            print(f"wrote fillnodata tiles -> {out}")
        return 0
    if sieve:
        # --sieve=THRESHOLD [--sieve-class=K]: gdal_sieve variant
        from .operators.decode import decode_tiles
        from .operators.sieve import sieve_regions, sieve_tiles

        tiles = decode_tiles(images, tile_rows=tile_rows)
        k = float(opts.get("sieve-class", 0))
        if k > 0:
            from pyspark.sql import functions as F

            tiles = tiles.withColumn(
                "px", F.transform(
                    "px", lambda v: F.when(v == F.lit(-9999.0), v)
                    .otherwise(F.floor(v / F.lit(k)).cast("float"))))
        thr = int(sieve)
        for out, func in pairs:
            res = (sieve_regions(tiles, thr) if func == "sieve_regions"
                   else sieve_tiles(tiles, thr))
            res.write.mode("overwrite").parquet(out)
            print(f"wrote {func} -> {out}")
        return 0
    if fill:
        # --fill: Planchon-Darboux depression filling
        from .operators.decode import decode_tiles
        from .operators.hydro import fill_sinks_tiles

        fl = fill_sinks_tiles(decode_tiles(images, tile_rows=tile_rows))
        for out, func in pairs:
            fl.write.mode("overwrite").parquet(out)
            print(f"wrote filled tiles -> {out}")
        return 0
    if profile:
        # --profile=R0,C0,R1,C1: transect sampling rows
        from .operators.decode import decode_tiles
        from .operators.gridding import profile_tiles

        a = [int(v) for v in profile.split(",")]
        prof = profile_tiles(decode_tiles(images, tile_rows=tile_rows),
                             (a[0], a[1]), (a[2], a[3]))
        for out, func in pairs:
            prof.write.mode("overwrite").parquet(out)
            print(f"wrote profile rows -> {out}")
        return 0
    if lake:
        # --lake=R,C,LEVEL: flood-fill lake depth tiles
        from .operators.decode import decode_tiles
        from .operators.vectorize import lake_tiles

        parts = lake.split(",")
        lk = lake_tiles(decode_tiles(images, tile_rows=tile_rows),
                        (int(parts[0]), int(parts[1])), float(parts[2]))
        for out, func in pairs:
            lk.write.mode("overwrite").parquet(out)
            print(f"wrote lake tiles -> {out}")
        return 0
    if streams:
        # --streams=THRESHOLD: stream-link extraction (sparse table)
        from .operators.decode import decode_tiles
        from .operators.focal import flow_dir_tiles
        from .operators.hydro import stream_links_tiles

        links = stream_links_tiles(
            flow_dir_tiles(decode_tiles(images, tile_rows=tile_rows)),
            threshold=int(streams))
        for out, func in pairs:
            links.write.mode("overwrite").parquet(out)
            print(f"wrote stream links -> {out}")
        return 0
    if viewshed:
        # --viewshed=OROW,OCOL[,OZ[,MD]]: gdal_viewshed
        from .operators.decode import decode_tiles
        from .operators.viewshed import viewshed_tiles

        parts = viewshed.split(",")
        orow, ocol = int(parts[0]), int(parts[1])
        oz = float(parts[2]) if len(parts) > 2 else 2.0
        md = float(parts[3]) if len(parts) > 3 else None
        vis = viewshed_tiles(decode_tiles(images, tile_rows=tile_rows),
                             orow=orow, ocol=ocol, oz=oz, max_dist=md)
        for out, func in pairs:
            vis.write.mode("overwrite").parquet(out)
            print(f"wrote viewshed tiles -> {out}")
        return 0
    if overviews:
        # --overviews=2,4,8: gdaladdo — products on every reduced level,
        # standard level=k/ directory layout under each OUT
        levels = tuple(int(v) for v in overviews.split(","))
        method = opts.get("overviews-method", "nearest")
        first = images.select("h", "w").first()
        bh, bw = int(first["h"]), int(first["w"])
        for k in levels:
            from .operators.resample import resample_tiles

            def regrid(tiles, k=k):
                return resample_tiles(tiles, -(-bh // k), -(-bw // k),
                                      method=method,
                                      out_tile_rows=tile_rows)

            _run_regridded(
                spark, images,
                [(f"{out}/level={k}", func) for out, func in pairs],
                products, tile_rows, regrid, f"overview /{k} {method}")
        return 0
    if reproject:
        out_h, out_w = (int(x) for x in reproject.lower().split("x"))
        src = opts.get("reproject-from", "EPSG:4326")
        dst = opts.get("reproject-to", "EPSG:3857")
        dcell = opts.get("reproject-dcell")
        method = opts.get("reproject-method", "bilinear")

        def regrid(tiles):
            from pyspark.sql import functions as F

            from .functions import mercator as mc
            from .operators.reproject import reproject_tiles

            if dcell is not None:
                dc = float(dcell)
            else:
                cs = float(tiles.select(F.min("cellsize")).first()[0])
                dc = ((cs * mc.RAD) * mc.RM if dst == "EPSG:3857"
                      else (cs / mc.RM) * mc.DEG)
            return reproject_tiles(tiles, out_h, out_w, dc, src_crs=src,
                                   dst_crs=dst, method=method,
                                   out_tile_rows=tile_rows)

        _run_regridded(spark, images, pairs, products, tile_rows,
                       regrid, f"reproject {out_h}x{out_w} {dst} {method}")
        return 0
    if crop:
        # --crop=R0,C0,HxW  (gdal_translate -srcwin, south-up rows)
        pos, dims = crop.rsplit(",", 1)
        r0, c0 = (int(v) for v in pos.split(","))
        ch, cw = (int(v) for v in dims.lower().split("x"))

        def regrid(tiles):
            from .operators.calc import crop_tiles

            return crop_tiles(tiles, r0, c0, ch, cw)

        _run_regridded(spark, images, pairs, products, tile_rows,
                       regrid, f"crop {r0},{c0} {ch}x{cw}")
        return 0
    if mosaic:
        out_h, out_w = (int(x) for x in mosaic.lower().split("x"))
        dcell = opts.get("mosaic-dcell")
        mx, my = (float(v) for v in opts.get("mosaic-origin", "0,0").split(","))
        rule = opts.get("mosaic-rule", "first")

        def regrid(tiles):
            from pyspark.sql import functions as F

            from .operators.mosaic import mosaic_tiles

            dc = float(dcell) if dcell is not None else float(
                tiles.select(F.min("cellsize")).first()[0])
            return mosaic_tiles(tiles, out_h, out_w, dc, mx, my, rule=rule,
                                out_tile_rows=tile_rows)

        _run_regridded(spark, images, pairs, products, tile_rows,
                       regrid, f"mosaic {out_h}x{out_w} {rule}")
        return 0
    twi_pairs = [(o, f) for o, f in pairs if f == "twi"]
    if twi_pairs:
        from .operators.decode import decode_tiles
        from .operators.hydro import twi_tiles

        keep = ["image_id", "tile_y", "ty0", "th", "w", "h", "cellsize",
                "x0", "y0", "crs"]
        tw = twi_tiles(decode_tiles(images, tile_rows=tile_rows))
        for out, _ in twi_pairs:
            tw.select(*keep, "twi").write.mode("overwrite").parquet(out)
            print(f"wrote twi tiles -> {out}")
        pairs = [(o, f) for o, f in pairs if f != "twi"]
        products = tuple(f for _, f in pairs)
        if not pairs:
            return 0
    curv_pairs = [(o, f) for o, f in pairs
                  if f in ("curv_profile", "curv_plan")]
    if curv_pairs:
        from .operators.decode import decode_tiles
        from .operators.focal import curvature_tiles

        keep = ["image_id", "tile_y", "ty0", "th", "w", "h", "cellsize",
                "x0", "y0", "crs"]
        curv = curvature_tiles(decode_tiles(images, tile_rows=tile_rows))
        if len(curv_pairs) > 1:
            curv = curv.localCheckpoint(eager=True)
        for out, func in curv_pairs:
            curv.select(*keep, func).write.mode("overwrite").parquet(out)
            print(f"wrote {func} tiles -> {out}")
        pairs = [(o, f) for o, f in pairs
                 if f not in ("curv_profile", "curv_plan")]
        products = tuple(f for _, f in pairs)
        if not pairs:
            return 0
    HYDRO = {"flow_accum": "flow_accum", "shreve": "shreve",
             "strahler": "strahler", "basins": "basin"}
    hydro_pairs = [(o, f) for o, f in pairs if f in HYDRO]
    if hydro_pairs:
        from .operators.decode import decode_tiles
        from .operators.focal import flow_dir_tiles
        from .operators.hydro import (
            basins_tiles,
            flow_accum_tiles,
            shreve_tiles,
            strahler_tiles,
        )

        keep = ["image_id", "tile_y", "ty0", "th", "w", "h", "cellsize",
                "x0", "y0", "crs"]
        # ONE decode + flow_dir pass shared by every requested hydro
        # product (pinned here, so the operators skip their own pin)
        dirs = flow_dir_tiles(decode_tiles(
            images, tile_rows=tile_rows)).localCheckpoint(eager=True)
        ops = {"flow_accum": flow_accum_tiles, "shreve": shreve_tiles,
               "strahler": strahler_tiles, "basins": basins_tiles}
        built: dict = {}
        from pyspark.sql import functions as F

        for out, func in hydro_pairs:
            if func not in built:
                built[func] = ops[func](dirs, pinned=False)
            built[func].select(
                *keep, F.col(HYDRO[func]).alias(func)).write.mode(
                "overwrite").parquet(out)
            print(f"wrote {func} tiles -> {out}")
        pairs = [(o, f) for o, f in pairs if f not in HYDRO]
        products = tuple(f for _, f in pairs)
        if not pairs:
            return 0
    fused = decode_focal_arrow(images, tile_rows=tile_rows, products=products,
                               partitions=spark.sparkContext.defaultParallelism * 2)
    keep = ["image_id", "tile_y", "ty0", "th", "w", "h", "cellsize", "x0",
            "y0", "crs", "caption"]
    fused = fused.cache()
    for out, func in pairs:
        fused.select(*keep, func).write.mode("overwrite").parquet(out)
        print(f"wrote {func} tiles -> {out}")
    fused.unpersist()
    return 0


def _run_regridded(spark, images, pairs, products, tile_rows, regrid, label):
    """decode -> regrid (resample or affine warp) -> halo exchange ->
    products (the composable path; products on the REGRIDDED grid, like
    gdal_translate/gdalwarp | gdaldem)."""
    from pyspark.sql import functions as F

    from .operators.decode import decode_tiles
    from .operators.focal import (
        PRODUCTS,
        TERRAIN_PRODUCTS,
        flow_dir_tiles,
        focal_products,
        terrain_tiles,
    )
    from .operators.tiling import halo_exchange

    tiles = regrid(decode_tiles(images, tile_rows=tile_rows)) \
        .withColumn("caption", F.lit(None).cast("string")) \
        .withColumn("psnr", F.lit(float("inf")))
    # materialize the regridded tiles once BEFORE the halo join:
    # halo_exchange references its input three times (payload + two edge
    # projections), so without this the decode+regrid pipeline ran 3x
    # inside the .cache() materialization below (r6 audit)
    tiles = tiles.localCheckpoint(eager=True)
    tiles = halo_exchange(tiles).cache()
    keep = ["image_id", "tile_y", "ty0", "th", "w", "h", "cellsize", "x0",
            "y0", "crs"]
    horn_want = tuple(p for p in set(products) & set(PRODUCTS))
    terr_want = tuple(p for p in set(products) & set(TERRAIN_PRODUCTS))
    horn = focal_products(tiles, products=horn_want).cache() if horn_want else None
    terr = terrain_tiles(tiles, products=terr_want).cache() if terr_want else None
    hydro_cols = {"flow_accum": "flow_accum", "shreve": "shreve",
                  "strahler": "strahler", "basins": "basin"}
    flow = (flow_dir_tiles(tiles).localCheckpoint(eager=True)
            if ({"flow_dir"} | set(hydro_cols)) & set(products) else None)
    hydro: dict = {}
    if set(hydro_cols) & set(products):
        from .operators.hydro import (
            basins_tiles,
            flow_accum_tiles,
            shreve_tiles,
            strahler_tiles,
        )

        ops = {"flow_accum": flow_accum_tiles, "shreve": shreve_tiles,
               "strahler": strahler_tiles, "basins": basins_tiles}
        for func in set(hydro_cols) & set(products):
            hydro[func] = ops[func](flow, pinned=False)
    curv = None
    if {"curv_profile", "curv_plan"} & set(products):
        from .operators.focal import curvature_tiles

        curv = curvature_tiles(tiles)
    twi = None
    if "twi" in products:
        from .operators.hydro import twi_tiles

        twi = twi_tiles(tiles, pinned=False)
    for out, func in pairs:
        if func == "dem":
            src = tiles
        elif func == "twi":
            src = twi
        elif func == "flow_dir":
            src = flow
        elif func in hydro_cols:
            src = hydro[func]
        elif func in ("curv_profile", "curv_plan"):
            src = curv
        else:
            src = horn if func in PRODUCTS else terr
        col = ("px" if func == "dem"
               else hydro_cols.get(func, func))
        src.select(*keep, F.col(col).alias(func)).write.mode(
            "overwrite").parquet(out)
        print(f"wrote {func} tiles ({label}) -> {out}")
    for df in (tiles, horn, terr, flow):
        if df is not None:
            df.unpersist()


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
