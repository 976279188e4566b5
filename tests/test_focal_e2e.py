"""End-to-end focal pipeline vs whole-grid oracle (SURVEY.md §5.1-5.2).

The engine's TILED slope/aspect/hillshade must equal the UNTILED NumPy
oracle bit-for-bit — the reference's golden-comparison methodology (B:6)
with the oracle playing GDAL's role. Seam tests run the same grid at
multiple tile heights; both halo strategies (fused decode-time halos and
the lag/lead halo_exchange) must agree.
"""

import numpy as np
import pytest

from pycuda_raster_spark.fixtures import CorpusSpec, build_images, grid_for
from pycuda_raster_spark.functions.focal_kernels import oracle_whole_grid
from pycuda_raster_spark.operators.decode import decode_tiles
from pycuda_raster_spark.operators.focal import focal_products, px_f32
from pycuda_raster_spark.operators.tiling import halo_exchange, strip_halos

SPEC = CorpusSpec(n_images=12, w=48, h=40)  # covers raw/png/q8 + NODATA + dup


@pytest.fixture(scope="module")
def images_df(spark):
    return spark.createDataFrame(build_images(SPEC)).cache()


def _f32(v):
    """Product cell -> float32 array: packed blobs (the fused stage) or
    array<float> (the stencil stages)."""
    return px_f32(v) if isinstance(v, (bytes, bytearray)) else np.asarray(v, np.float32)


def _collect_products(focal_df):
    """-> {image_id: {product: (h, w) ndarray}} reassembled from tiles."""
    rows = focal_df.select(
        "image_id", "ty0", "th", "w", "h", "slope", "aspect", "hillshade"
    ).collect()
    per_img = {}
    for r in rows:
        per_img.setdefault(r.image_id, []).append(r)
    out = {}
    for iid, tiles in per_img.items():
        tiles.sort(key=lambda r: r.ty0)
        h, w = tiles[0].h, tiles[0].w
        assert sum(t.th for t in tiles) == h
        out[iid] = {
            p: np.vstack(
                [_f32(t[p]).reshape(t.th, w) for t in tiles]
            )
            for p in ("slope", "aspect", "hillshade")
        }
    return out


def _expected():
    exp = {}
    for i in range(SPEC.n_images):
        g = grid_for(i, SPEC)
        exp[f"img{i:06d}"] = {
            k: v.astype(np.float32) for k, v in oracle_whole_grid(g, 1.0).items()
        }
    return exp


@pytest.mark.parametrize("tile_rows", [8, 13, 40])
def test_fused_halo_tiling_matches_oracle(spark, images_df, tile_rows):
    tiles = decode_tiles(images_df, tile_rows=tile_rows)
    got = _collect_products(focal_products(tiles))
    exp = _expected()
    assert set(got) == set(exp)
    # engine output is computed from DECODED pixels; for lossy fmt (q8) the
    # decoded grid differs from the generator grid, so the exact comparison
    # runs against the oracle ON THE DECODED grid
    from pycuda_raster_spark.functions.codecs import decode
    for row in images_df.select("image_id", "bytes", "fmt", "w", "h").collect():
        g = decode(bytes(row.bytes), row.fmt, row.w, row.h)
        o = oracle_whole_grid(g, 1.0)
        for p in ("slope", "aspect", "hillshade"):
            np.testing.assert_array_equal(
                got[row.image_id][p], o[p].astype(np.float32),
                err_msg=f"{row.image_id}/{p} tile_rows={tile_rows}",
            )


@pytest.mark.parametrize("tile_rows", [8, 13, 40])
def test_terrain_tiling_matches_oracle(spark, images_df, tile_rows):
    """gdaldem TRI/TPI/roughness: tiled engine == whole-grid oracle
    bit-for-bit at every tile height (seam/halo correctness), and the
    lag/lead halo_exchange path agrees with the fused-halo path."""
    from pycuda_raster_spark.functions.codecs import decode
    from pycuda_raster_spark.operators.focal import terrain_tiles

    tiles = decode_tiles(images_df, tile_rows=tile_rows)
    rows = terrain_tiles(tiles).select(
        "image_id", "ty0", "th", "w", "h", "tri", "tpi", "roughness").collect()
    per = {}
    for r in rows:
        per.setdefault(r.image_id, []).append(r)
    got = {}
    for iid, ts in per.items():
        ts.sort(key=lambda r: r.ty0)
        got[iid] = {
            p: np.vstack([np.asarray(t[p], np.float32).reshape(t.th, t.w) for t in ts])
            for p in ("tri", "tpi", "roughness")
        }
    for row in images_df.select("image_id", "bytes", "fmt", "w", "h").collect():
        g = decode(bytes(row.bytes), row.fmt, row.w, row.h)
        o = oracle_whole_grid(g, 1.0)
        for p in ("tri", "tpi", "roughness"):
            np.testing.assert_array_equal(
                got[row.image_id][p], o[p],
                err_msg=f"{row.image_id}/{p} tile_rows={tile_rows}")


def test_terrain_halo_exchange_equals_fused(spark, images_df):
    from pycuda_raster_spark.operators.focal import terrain_tiles

    fused = decode_tiles(images_df, tile_rows=16)
    exchanged = halo_exchange(strip_halos(fused))
    key = lambda r: (r.image_id, r.ty0)  # noqa: E731
    a = {key(r): r for r in terrain_tiles(fused).collect()}
    b = {key(r): r for r in terrain_tiles(exchanged).collect()}
    assert set(a) == set(b)
    for k in a:
        for p in ("tri", "tpi", "roughness"):
            np.testing.assert_array_equal(
                np.asarray(a[k][p], np.float32), np.asarray(b[k][p], np.float32))


@pytest.mark.parametrize("tile_rows", [8, 13, 40])
def test_hillshade_md_tiling_matches_oracle(spark, images_df, tile_rows):
    """Multidirectional hillshade: tiled == whole-grid oracle bit-for-bit
    at every tile height; flat cells, NODATA dilation and [0,255] rint
    all ride through the seams."""
    from pycuda_raster_spark.functions.codecs import decode
    from pycuda_raster_spark.operators.focal import hillshade_md_tiles

    tiles = decode_tiles(images_df, tile_rows=tile_rows)
    rows = hillshade_md_tiles(tiles).select(
        "image_id", "ty0", "th", "w", "hillshade_md").collect()
    per = {}
    for r in rows:
        per.setdefault(r.image_id, []).append(r)
    for row in images_df.select("image_id", "bytes", "fmt", "w", "h").collect():
        g = decode(bytes(row.bytes), row.fmt, row.w, row.h)
        want = oracle_whole_grid(g, 1.0)["hillshade_md"]
        ts = sorted(per[row.image_id], key=lambda r: r.ty0)
        got = np.vstack(
            [np.asarray(t.hillshade_md, np.float32).reshape(t.th, t.w) for t in ts])
        np.testing.assert_array_equal(
            got, want, err_msg=f"{row.image_id} tile_rows={tile_rows}")
        valid = got[got != -9999.0]
        assert valid.min() >= 0.0 and valid.max() <= 255.0
        assert np.all(valid == np.rint(valid))  # integer-valued by design


def test_fused_terrain_equals_composed(spark, images_df):
    """decode_focal_arrow with terrain products must be bit-identical to
    the composable decode_tiles -> terrain_tiles path; unrequested
    products come back as empty blobs."""
    from pycuda_raster_spark.operators.focal import decode_focal_arrow, terrain_tiles

    composed = {(r.image_id, r.ty0): r
                for r in terrain_tiles(decode_tiles(images_df, tile_rows=16)).collect()}
    fused = decode_focal_arrow(images_df, tile_rows=16,
                               products=("tri", "tpi", "roughness")).collect()
    assert len(fused) == len(composed)
    for r in fused:
        c = composed[(r.image_id, r.ty0)]
        assert bytes(r.slope) == b""
        for p in ("tri", "tpi", "roughness"):
            np.testing.assert_array_equal(
                px_f32(r[p]), np.asarray(c[p], np.float32),
                err_msg=f"{r.image_id}/{p}")
    arrow = decode_focal_arrow(images_df, tile_rows=16, products=("tri",)).collect()
    for r in arrow[:6]:
        c = composed[(r.image_id, r.ty0)]
        np.testing.assert_array_equal(px_f32(r.tri), np.asarray(c.tri, np.float32))
        assert bytes(r.slope) == b"" and bytes(r.tpi) == b""


def test_cli_multi_output_fanout_with_terrain(spark, images_df, tmp_path):
    """EP1 CLI surface (the reference's scheduler shape, [ref?:
    scheduler.py (output, func) pairs]): one input pass, several
    (OUT, FUNC) pairs, now including the gdaldem terrain products."""
    from pycuda_raster_spark.__main__ import main
    from pycuda_raster_spark.operators.focal import px_f32

    src = tmp_path / "images"
    images_df.write.parquet(str(src))
    argv = [str(src)]
    for func in ("slope", "tri", "roughness"):
        argv += [str(tmp_path / func), func]
    assert main(argv + ["--tile-rows=16"]) == 0

    from pycuda_raster_spark.functions.codecs import decode

    img = images_df.first()
    g = decode(bytes(img.bytes), img.fmt, img.w, img.h)
    o = oracle_whole_grid(g, 1.0)
    for func in ("slope", "tri", "roughness"):
        rows = [r for r in spark.read.parquet(str(tmp_path / func)).collect()
                if r.image_id == img.image_id]
        rows.sort(key=lambda r: r.ty0)
        got = np.vstack([px_f32(r[func]).reshape(r.th, r.w) for r in rows])
        np.testing.assert_array_equal(got, o[func], err_msg=func)


def test_cli_resample_then_products(spark, images_df, tmp_path):
    """--resample=HxW: dem + slope computed on the RESAMPLED grid (the
    gdal_translate -outsize | gdaldem composition) match the NumPy
    resample->Horn oracle chain, including the rescaled cellsize."""
    from pycuda_raster_spark.__main__ import main
    from pycuda_raster_spark.functions.codecs import decode
    from pycuda_raster_spark.functions.focal_kernels import horn_products
    from pycuda_raster_spark.operators.resample import resample_grid

    src = tmp_path / "images"
    images_df.write.parquet(str(src))
    argv = [str(src), str(tmp_path / "dem"), "dem",
            str(tmp_path / "slope"), "slope",
            "--resample=20x24", "--resample-method=bilinear",
            "--tile-rows=8"]
    assert main(argv) == 0

    img = images_df.first()
    g = resample_grid(decode(bytes(img.bytes), img.fmt, img.w, img.h), 20, 24,
                      method="bilinear")
    want_slope, _, _ = horn_products(g, 1.0 * img.h / 20)

    for func, want in (("dem", g), ("slope", want_slope)):
        rows = [r for r in spark.read.parquet(str(tmp_path / func)).collect()
                if r.image_id == img.image_id]
        rows.sort(key=lambda r: r.ty0)
        assert rows[0].cellsize == 1.0 * img.h / 20
        got = np.vstack([np.asarray(r[func], np.float32).reshape(r.th, r.w)
                         for r in rows])
        np.testing.assert_array_equal(got, want, err_msg=func)


def test_cli_warp_then_products(spark, images_df, tmp_path):
    """--warp=HxW: dem + slope computed on the WARPED grid (the
    gdalwarp | gdaldem composition) match the NumPy warp->Horn chain,
    including the shifted origin and explicit destination cellsize."""
    from pycuda_raster_spark.__main__ import main
    from pycuda_raster_spark.functions.codecs import decode
    from pycuda_raster_spark.functions.focal_kernels import horn_products
    from pycuda_raster_spark.operators.warp import warp_affine_grid

    src = tmp_path / "images"
    images_df.write.parquet(str(src))
    argv = [str(src), str(tmp_path / "dem"), "dem",
            str(tmp_path / "slope"), "slope",
            "--warp=20x24", "--warp-dcell=1.5", "--warp-offset=-2.0,3.0",
            "--warp-method=bilinear", "--tile-rows=8"]
    assert main(argv) == 0

    img = images_df.first()
    g = warp_affine_grid(decode(bytes(img.bytes), img.fmt, img.w, img.h),
                         20, 24, 1.5, cellsize=1.0, dx_off=-2.0, dy_off=3.0,
                         method="bilinear")
    want_slope, _, _ = horn_products(g, 1.5)

    for func, want in (("dem", g), ("slope", want_slope)):
        rows = [r for r in spark.read.parquet(str(tmp_path / func)).collect()
                if r.image_id == img.image_id]
        rows.sort(key=lambda r: r.ty0)
        assert rows[0].cellsize == 1.5
        assert rows[0].x0 == -2.0 and rows[0].y0 == 3.0
        got = np.vstack([np.asarray(r[func], np.float32).reshape(r.th, r.w)
                         for r in rows])
        np.testing.assert_array_equal(got, want, err_msg=func)


def test_halo_exchange_equals_fused(spark, images_df):
    fused = decode_tiles(images_df, tile_rows=16)
    exchanged = halo_exchange(strip_halos(fused))
    a = _collect_products(focal_products(fused))
    b = _collect_products(focal_products(exchanged))
    assert set(a) == set(b)
    for iid in a:
        for p in ("slope", "aspect", "hillshade"):
            np.testing.assert_array_equal(a[iid][p], b[iid][p])


def test_fused_decode_focal_equals_composed(spark, images_df):
    """The fused fast path (decode_focal_arrow) must be bit-identical to
    the composable decode_tiles -> focal_products path: every tile's
    metadata equals decode_tiles', its products equal focal_products', and
    its five pixel partials equal NumPy reductions of the decoded tile."""
    from pycuda_raster_spark.functions.codecs import NODATA
    from pycuda_raster_spark.operators.focal import decode_focal_arrow

    tiles = decode_tiles(images_df, tile_rows=16)
    composed = _collect_products(focal_products(tiles))
    fused_df = decode_focal_arrow(images_df, tile_rows=16, partitions=4)
    fused = _collect_products(fused_df)
    assert set(fused) == set(composed)
    for iid in composed:
        for p in ("slope", "aspect", "hillshade"):
            np.testing.assert_array_equal(fused[iid][p], composed[iid][p])

    meta = ["image_id", "tile_y", "ty0", "th", "w", "h", "cellsize", "x0",
            "y0", "crs", "caption", "phash"]
    key = lambda r: (r.image_id, r.tile_y)  # noqa: E731
    want = {key(r): r for r in tiles.select(*meta, "px").collect()}
    got = {key(r): r for r in fused_df.collect()}
    assert set(got) == set(want) and len(got) > 0
    for k, r in got.items():
        t = want[k]
        for c in meta:
            assert r[c] == t[c], (k, c, r[c], t[c])
        px = np.asarray(t.px, np.float32)
        v = px[px != NODATA].astype(np.float64)
        assert r.pn == v.size, k
        if v.size:
            exp = (float(v.sum()), float((v * v).sum()), float(v.min()), float(v.max()))
        else:
            exp = (0.0, 0.0, None, None)
        assert (r.ps, r.pss, r.pmin, r.pmax) == exp, k
    assert any(r.pn < r.th * r.w for r in got.values()), "corpus must exercise NODATA"


def test_stencil_schemas_pinned(spark, images_df):
    """Names, order and types of every stencil stage's output, for the
    ``products``/``keep_px`` combinations callers use: downstream selects,
    parquet sinks and the contract queries all read these columns."""
    from pycuda_raster_spark.operators.focal import (
        curvature_tiles,
        decode_focal_arrow,
        flow_dir_tiles,
        hillshade_md_tiles,
        terrain_tiles,
    )

    meta = ("image_id:string,tile_y:int,ty0:int,th:int,w:int,h:int,"
            "cellsize:double,x0:double,y0:double,crs:string,caption:string,")
    arr = lambda *cs: ",".join(f"{c}:array<float>" for c in cs)  # noqa: E731
    horn = f"struct<{meta}psnr:double,{arr('slope', 'aspect', 'hillshade')}>"
    terr = f"struct<{meta}psnr:double,{arr('tri', 'tpi', 'roughness')}>"
    flow = f"struct<{meta}psnr:double,{arr('flow_dir')}"
    fused = (f"struct<{meta}phash:bigint,psnr:double,"
             + ",".join(f"{c}:binary" for c in (
                 "slope", "aspect", "hillshade", "tri", "tpi", "roughness", "flow_dir"))
             + ",pn:bigint,ps:double,pss:double,pmin:double,pmax:double>")
    tiles = decode_tiles(images_df, tile_rows=16)
    cases = [
        (focal_products(tiles), horn),
        (focal_products(tiles, products=("slope",)), horn),
        (focal_products(tiles, products=()), horn),
        (terrain_tiles(tiles), terr),
        (terrain_tiles(tiles, products=("tri",)), terr),
        (curvature_tiles(tiles),
         f"struct<{meta}psnr:double,{arr('curv_profile', 'curv_plan')}>"),
        (hillshade_md_tiles(tiles), f"struct<{meta}psnr:double,{arr('hillshade_md')}>"),
        (flow_dir_tiles(tiles), flow + ">"),
        (flow_dir_tiles(tiles, keep_px=True), flow + ",px:array<float>>"),
        (decode_focal_arrow(images_df), fused),
        (decode_focal_arrow(images_df, products=()), fused),
        (decode_focal_arrow(images_df, products=("flow_dir",), compute_psnr=True,
                            partitions=4), fused),
    ]
    for i, (df, want) in enumerate(cases):
        assert df.schema.simpleString() == want, i


def test_caption_passthrough(spark, images_df):
    """Caption equality end-to-end (BASELINE.json:15)."""
    tiles = decode_tiles(images_df, tile_rows=16)
    out = focal_products(tiles).select("image_id", "caption").distinct().collect()
    want = {r.image_id: r.caption for r in images_df.select("image_id", "caption").collect()}
    got = {r.image_id: r.caption for r in out}
    assert got == want


def test_halo_exchange_plan_is_broadcast_join_not_window(spark, images_df):
    """The standalone halo exchange must not funnel an image through a
    single per-image window task (the old lag/lead shape serialized huge
    single-image canvases): edge sides broadcast, no Window operator."""
    out = halo_exchange(strip_halos(decode_tiles(images_df, tile_rows=16)))
    out.write.format("noop").mode("overwrite").save()  # let AQE finalize
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Window" not in final, final[:2000]
    assert "BroadcastHashJoin" in final, final[:2000]


@pytest.mark.parametrize("tile_rows", [8, 13, 40])
def test_flow_dir_tiling_matches_oracle(spark, images_df, tile_rows):
    """D8 flow direction: tiled engine == whole-grid kernel bit-for-bit
    at every tile height (codes are exact floats, so equality is strict),
    and codes stay in the ESRI set."""
    from pycuda_raster_spark.functions.codecs import decode
    from pycuda_raster_spark.operators.focal import flow_dir_tiles

    tiles = decode_tiles(images_df, tile_rows=tile_rows)
    rows = flow_dir_tiles(tiles).select(
        "image_id", "ty0", "th", "w", "flow_dir").collect()
    per = {}
    for r in rows:
        per.setdefault(r.image_id, []).append(r)
    got = {}
    for iid, ts in per.items():
        ts.sort(key=lambda r: r.ty0)
        got[iid] = np.vstack([
            np.asarray(t.flow_dir, np.float32).reshape(t.th, t.w) for t in ts])
    from pycuda_raster_spark.functions.focal_kernels import NODATA, flow_dir

    allowed = {0.0, 1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0, 128.0, NODATA}
    for row in images_df.select("image_id", "bytes", "fmt", "w", "h").collect():
        g = decode(bytes(row.bytes), row.fmt, row.w, row.h)
        np.testing.assert_array_equal(
            got[row.image_id], flow_dir(g),
            err_msg=f"{row.image_id} tile_rows={tile_rows}")
        assert set(np.unique(got[row.image_id])) <= allowed


def test_flow_dir_semantics_inclined_plane():
    """A plane rising to the north (row+1 higher, south-up) must drain due
    SOUTH (code 4) everywhere; flat plane -> 0; a pit cell -> 0."""
    from pycuda_raster_spark.functions.focal_kernels import NODATA, flow_dir

    rows = np.arange(12, dtype=np.float32)[:, None]
    plane = np.broadcast_to(rows * 3.0, (12, 10)).copy()
    fd = flow_dir(plane)
    inner = fd[1:-1, 1:-1]
    assert (inner == 4.0).all()

    flat = np.full((8, 8), 5.0, dtype=np.float32)
    assert (flow_dir(flat)[1:-1, 1:-1] == 0.0).all()

    pit = flat.copy()
    pit[4, 4] = -10.0
    fd = flow_dir(pit)
    assert fd[4, 4] == 0.0            # pit has no downhill neighbor
    assert fd[4, 3] == 1.0            # east neighbor drains INTO the pit
    assert fd[4, 5] == 16.0           # west
    assert fd[3, 4] == 64.0           # pit sits at row+1 = north of (3,4)


def test_fused_flow_dir_equals_composed(spark, images_df):
    """decode_focal_arrow with flow_dir must be bit-identical to
    decode_tiles -> flow_dir_tiles."""
    from pycuda_raster_spark.operators.focal import decode_focal_arrow, flow_dir_tiles

    composed = {(r.image_id, r.ty0): r
                for r in flow_dir_tiles(decode_tiles(images_df, tile_rows=16)).collect()}
    fused = decode_focal_arrow(images_df, tile_rows=16,
                               products=("flow_dir",)).collect()
    assert len(fused) == len(composed)
    for r in fused:
        c = composed[(r.image_id, r.ty0)]
        assert bytes(r.slope) == b"" and bytes(r.tri) == b""
        np.testing.assert_array_equal(
            px_f32(r.flow_dir), np.asarray(c.flow_dir, np.float32),
            err_msg=r.image_id)


def test_cli_flow_dir_output(spark, images_df, tmp_path):
    """CLI fan-out accepts flow_dir alongside the gdaldem products, and
    the regridded path routes it through flow_dir_tiles."""
    from pycuda_raster_spark.__main__ import main
    from pycuda_raster_spark.operators.focal import px_f32

    inp = str(tmp_path / "in.parquet")
    images_df.write.parquet(inp)
    out_f = str(tmp_path / "flow")
    out_s = str(tmp_path / "slope")
    assert main([inp, out_f, "flow_dir", out_s, "slope",
                 "--tile-rows=16", "--cores=4"]) == 0
    rows = spark.read.parquet(out_f).collect()
    assert rows and all(r.flow_dir is not None for r in rows)
    vals = np.unique(np.concatenate(
        [px_f32(r.flow_dir) for r in rows]))
    assert set(vals) <= {0.0, 1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0, 128.0,
                         -9999.0}

    out_r = str(tmp_path / "flow_resampled")
    assert main([inp, out_r, "flow_dir", "--resample=20x24",
                 "--tile-rows=16", "--cores=4"]) == 0
    rows = spark.read.parquet(out_r).collect()
    assert rows and all(r.flow_dir is not None for r in rows)
