"""Source/sink tests: ASCII Grid parser, catalog overwrite semantics."""

import numpy as np
import pytest

from pycuda_raster_spark.functions.codecs import NODATA, decode
from pycuda_raster_spark.sources import catalog
from pycuda_raster_spark.sources.rasters import (
    parse_ascii_grid,
    read_ascii_grid,
    read_raster_files,
    write_ascii_grid,
)


def test_ascii_grid_roundtrip(tmp_path):
    rng = np.random.default_rng(5)
    g = rng.uniform(-10, 100, size=(12, 9)).astype(np.float32)
    g[2:4, 3:5] = -1.0  # custom nodata in file
    text = write_ascii_grid(g, 10.0, 20.0, 2.5, nodata=-1.0)
    out, hdr = parse_ascii_grid(text)
    assert hdr["ncols"] == 9 and hdr["nrows"] == 12
    assert hdr["xllcorner"] == 10.0 and hdr["cellsize"] == 2.5
    want = np.where(g == -1.0, np.float32(NODATA), g)
    np.testing.assert_array_equal(out, want)


def test_read_ascii_grid_distributed(spark, tmp_path):
    rng = np.random.default_rng(6)
    grids = {}
    for i in range(3):
        g = rng.uniform(0, 50, size=(8, 6)).astype(np.float32)
        grids[f"g{i}.asc"] = g
        (tmp_path / f"g{i}.asc").write_text(write_ascii_grid(g, i * 10.0, 0.0, 1.0))
    df = read_ascii_grid(spark, str(tmp_path))
    rows = {r.image_id: r for r in df.collect()}
    assert set(rows) == set(grids)
    for name, g in grids.items():
        r = rows[name]
        assert (r.w, r.h) == (6, 8)
        np.testing.assert_array_equal(decode(bytes(r.bytes), "raw", r.w, r.h), g)
        assert r.x0 == float(name[1]) * 10.0


def test_ascii_grid_is_north_up_on_disk():
    """Spec fixture: the FIRST data row of a .asc is the northernmost
    (y = yll + (nrows-1)*cellsize). Regression for the round-1 bug where
    writer and parser were self-consistently south-up."""
    g = np.zeros((3, 2), dtype=np.float32)
    g[2] = 7.0  # engine row 2 = north
    text = write_ascii_grid(g, 0.0, 0.0, 1.0)
    first_row = text.splitlines()[6].split()
    assert first_row == ["7.0", "7.0"]
    # and a hand-written spec file parses to the right orientation
    spec = ("ncols 2\nnrows 2\nxllcorner 0\nyllcorner 0\ncellsize 1\n"
            "NODATA_value -9999\n5 5\n1 1\n")
    out, _ = parse_ascii_grid(spec)
    assert out[0, 0] == 1.0 and out[1, 0] == 5.0  # row 0 = south = last file row


def test_geotiff_roundtrip_and_read(spark, tmp_path):
    from pycuda_raster_spark.sources.geotiff import decode_geotiff, encode_geotiff

    rng = np.random.default_rng(11)
    grids = {}
    for i in range(3):
        g = rng.uniform(-100, 4000, size=(40, 25)).astype(np.float32)
        g[5:9, 3:6] = NODATA
        grids[f"dem{i}.tif"] = g
        blob = encode_geotiff(g, x0=i * 100.0, y0=50.0, cellsize=30.0,
                              crs="EPSG:32633",
                              compression="deflate" if i % 2 else "none",
                              rows_per_strip=16)
        (tmp_path / f"dem{i}.tif").write_bytes(blob)
        out, hdr = decode_geotiff(blob)
        np.testing.assert_array_equal(out, g)
        assert (hdr["x0"], hdr["y0"], hdr["cellsize"]) == (i * 100.0, 50.0, 30.0)
        assert hdr["crs"] == "EPSG:32633"
    df = read_raster_files(spark, str(tmp_path) + "/dem0.tif")
    assert df.count() == 1
    rows = {r.image_id: r for r in read_raster_files(spark, str(tmp_path)).collect()}
    assert set(rows) == set(grids)
    for name, g in grids.items():
        r = rows[name]
        np.testing.assert_array_equal(decode(bytes(r.bytes), "raw", r.w, r.h), g)
        assert r.cellsize == 30.0 and r.y0 == 50.0


def test_geotiff_uint16_and_bigendian_read():
    """The reader claims uint16 and big-endian support — pin both with a
    hand-built minimal TIFF (external files won't come from our writer)."""
    import struct

    from pycuda_raster_spark.sources.geotiff import decode_geotiff

    w, h = 3, 2
    vals = np.array([[10, 20, 30], [40, 50, 60]], dtype=np.uint16)
    for bo, order in (("<", b"II"), (">", b"MM")):
        data = vals[::-1].astype(bo + "u2").tobytes()  # disk is north-up
        entries = [
            (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 16), (259, 3, 1, 1),
            (262, 3, 1, 1), (277, 3, 1, 1), (278, 4, 1, h), (339, 3, 1, 1),
        ]
        # strip offset/count point past the IFD
        ifd_off = 8
        n = len(entries) + 2
        data_off = ifd_off + 2 + 12 * n + 4
        entries += [(273, 4, 1, data_off), (279, 4, 1, len(data))]
        entries.sort()
        buf = struct.pack(bo + "2sHI", order, 42, ifd_off)
        buf += struct.pack(bo + "H", n)
        for tag, typ, cnt, val in entries:
            size = {3: 2, 4: 4}[typ]
            packed = struct.pack(bo + {3: "H", 4: "I"}[typ], val).ljust(4, b"\x00")
            buf += struct.pack(bo + "HHI", tag, typ, cnt) + packed
        buf += struct.pack(bo + "I", 0) + data
        grid, hdr = decode_geotiff(buf)
        np.testing.assert_array_equal(grid, vals.astype(np.float32))
        assert (hdr["w"], hdr["h"]) == (w, h)


def test_geotiff_tiled_and_predictor_match_strip_twin(spark, tmp_path):
    """Every layout/predictor variant must decode bit-identically to its
    plain strip-encoded twin — tiled (COG-style, tags 322-325), deflate
    with the float predictor (3), and uint16 with horizontal differencing
    (2, GDAL's default deflate companion for integer data)."""
    from pycuda_raster_spark.sources.geotiff import decode_geotiff, encode_geotiff

    rng = np.random.default_rng(21)
    g = rng.uniform(-100, 4000, size=(40, 25)).astype(np.float32)
    g[5:9, 3:6] = NODATA
    golden, _ = decode_geotiff(encode_geotiff(g, cellsize=3.0, compression="none"))
    variants = {
        "tiled_none": dict(compression="none", tile_size=(16, 16)),
        "tiled_deflate": dict(compression="deflate", tile_size=(16, 32)),
        "strip_pred3": dict(compression="deflate", predictor=3),
        "tiled_pred3": dict(compression="deflate", predictor=3,
                            tile_size=(16, 16)),
    }
    for name, kw in variants.items():
        blob = encode_geotiff(g, cellsize=3.0, **kw)
        out, hdr = decode_geotiff(blob)
        np.testing.assert_array_equal(out, golden, err_msg=name)
        assert hdr["cellsize"] == 3.0, name
        (tmp_path / f"{name}.tif").write_bytes(blob)

    gu = (rng.uniform(1, 60000, size=(33, 18))).astype(np.uint16)
    golden_u = gu.astype(np.float32)  # no zeros, so nodata=0 maps nothing
    for name, kw in {
        "u16_pred2_strip": dict(compression="deflate", predictor=2),
        "u16_pred2_tiled": dict(compression="deflate", predictor=2,
                                tile_size=(16, 16)),
    }.items():
        out, _ = decode_geotiff(
            encode_geotiff(golden_u, dtype="u2", nodata=0, **kw))
        np.testing.assert_array_equal(out, golden_u, err_msg=name)

    # read_raster_files dispatches the tiled/predictor variants unchanged
    rows = {r.image_id: r for r in read_raster_files(spark, str(tmp_path)).collect()}
    assert set(rows) == {f"{n}.tif" for n in variants}
    for name, r in rows.items():
        np.testing.assert_array_equal(
            decode(bytes(r.bytes), "raw", r.w, r.h), golden, err_msg=name)


def test_lzw_bitstream_pinned_and_roundtrips():
    """TIFF-flavor LZW, pinned at the bit level (independent of the
    decoder, so a paired encoder+decoder bug can't hide): b"A" must emit
    exactly CLEAR(256), 65, EOI(257) as 9-bit MSB-first codes =
    0x80 0x10 0x60 0x20. Then the stress cases: the KwKwK pattern
    (code == next free entry), every code-width transition
    (511/1023/2047 with the early-change rule) and the 4094-entry CLEAR
    reset, via roundtrips on data shaped to cross each threshold."""
    from pycuda_raster_spark.sources.geotiff import (
        _lzw_compress,
        _lzw_decompress,
    )

    assert _lzw_compress(b"A") == bytes([0x80, 0x10, 0x60, 0x20])
    assert _lzw_decompress(bytes([0x80, 0x10, 0x60, 0x20])) == b"A"
    assert _lzw_decompress(_lzw_compress(b"")) == b""
    # KwKwK: decoding "aaaa" hits code==next_code (entry not yet in table)
    assert _lzw_decompress(_lzw_compress(b"aaaa")) == b"aaaa"

    rng = np.random.default_rng(5)
    cases = [
        b"ab" * 4000,                       # long repeats, slow table growth
        bytes(range(256)) * 64,             # cyclic, dense literal reuse
        rng.integers(0, 256, 60_000, dtype=np.uint8).tobytes(),  # incompressible:
        # ~1 table add per 2 bytes -> crosses 511/1023/2047 AND the 4094
        # CLEAR reset several times
        rng.integers(0, 4, 3_000, dtype=np.uint8).tobytes(),
    ]
    for i, payload in enumerate(cases):
        assert _lzw_decompress(_lzw_compress(payload)) == payload, f"case {i}"
    # exact width-transition boundaries: trim incompressible data so the
    # final code lands just before/on/after each bump
    blob = rng.integers(0, 256, 9000, dtype=np.uint8).tobytes()
    for n in (505, 506, 507, 1020, 1021, 2044, 2045, 8188, 8189):
        assert _lzw_decompress(_lzw_compress(blob[:n])) == blob[:n], n


def test_geotiff_lzw_variants_match_strip_twin(spark, tmp_path):
    """LZW (compression 5) files — strip, tiled, and with predictors 2/3
    (GDAL's common LZW companions) — decode bit-identically to the
    uncompressed twin, and read_raster_files dispatches them."""
    from pycuda_raster_spark.sources.geotiff import decode_geotiff, encode_geotiff

    rng = np.random.default_rng(33)
    g = rng.uniform(-50, 2000, size=(37, 29)).astype(np.float32)
    g[10:13, 4:9] = NODATA
    golden, _ = decode_geotiff(encode_geotiff(g, cellsize=5.0, compression="none"))
    variants = {
        "lzw_strip": dict(compression="lzw"),
        "lzw_tiled": dict(compression="lzw", tile_size=(16, 16)),
        "lzw_pred3": dict(compression="lzw", predictor=3),
    }
    for name, kw in variants.items():
        blob = encode_geotiff(g, cellsize=5.0, **kw)
        out, hdr = decode_geotiff(blob)
        np.testing.assert_array_equal(out, golden, err_msg=name)
        (tmp_path / f"{name}.tif").write_bytes(blob)

    gu = rng.integers(1, 60000, size=(20, 45)).astype(np.uint16)
    out, _ = decode_geotiff(
        encode_geotiff(gu.astype(np.float32), dtype="u2", nodata=0,
                       compression="lzw", predictor=2))
    np.testing.assert_array_equal(out, gu.astype(np.float32))

    rows = {r.image_id: r for r in read_raster_files(spark, str(tmp_path)).collect()}
    assert set(rows) == {f"{n}.tif" for n in variants}
    for name, r in rows.items():
        np.testing.assert_array_equal(
            decode(bytes(r.bytes), "raw", r.w, r.h), golden, err_msg=name)


def test_geotiff_hand_built_predictor2_fixture():
    """Predictor-2 decode pinned against a HAND-diffed uint16 strip file
    (independent of our encoder, so an encoder+decoder paired bug can't
    hide): each row stores x[0], x[1]-x[0], ... with uint16 wraparound."""
    import struct

    from pycuda_raster_spark.sources.geotiff import decode_geotiff

    w, h = 4, 2
    vals = np.array([[100, 90, 65535, 3], [7, 7, 8, 1]], dtype=np.uint16)
    north_up = vals[::-1]
    diffed = north_up.copy()
    diffed[:, 1:] = north_up[:, 1:] - north_up[:, :-1]  # wraps at 2^16
    data = diffed.astype("<u2").tobytes()
    entries = [
        (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 16), (259, 3, 1, 1),
        (262, 3, 1, 1), (277, 3, 1, 1), (278, 4, 1, h), (317, 3, 1, 2),
        (339, 3, 1, 1),
    ]
    ifd_off = 8
    n = len(entries) + 2
    data_off = ifd_off + 2 + 12 * n + 4
    entries += [(273, 4, 1, data_off), (279, 4, 1, len(data))]
    entries.sort()
    buf = struct.pack("<2sHI", b"II", 42, ifd_off) + struct.pack("<H", n)
    for tag, typ, cnt, val in entries:
        packed = struct.pack("<" + {3: "H", 4: "I"}[typ], val).ljust(4, b"\x00")
        buf += struct.pack("<HHI", tag, typ, cnt) + packed
    buf += struct.pack("<I", 0) + data
    grid, _ = decode_geotiff(buf)
    np.testing.assert_array_equal(grid, vals.astype(np.float32))


def test_geotiff_bigtiff_read():
    """Hand-built BigTIFF (version 43: 8-byte IFD offset, 8-byte entry
    counts, 20-byte entries, LONG8 strip offsets/counts, external payload
    behind an 8-byte pointer) decodes to the same grid + georeference a
    classic encoding carries."""
    import struct

    from pycuda_raster_spark.sources.geotiff import decode_geotiff

    h, w = 3, 4
    rng = np.random.default_rng(17)
    grid = rng.uniform(-10, 900, size=(h, w)).astype(np.float32)
    disk = np.ascontiguousarray(grid[::-1]).astype("<f4")  # north-up rows
    data = disk.tobytes()
    scale = struct.pack("<3d", 2.5, 2.5, 0.0)

    # layout: header(16) | IFD | scale payload | pixel data
    n_entries = 11
    ifd_off = 16
    scale_off = ifd_off + 8 + 20 * n_entries + 8
    data_off = scale_off + len(scale)
    entries = [
        (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 32), (259, 3, 1, 1),
        (262, 3, 1, 1),
        (273, 16, 1, data_off),           # StripOffsets as LONG8
        (277, 3, 1, 1), (278, 4, 1, h),
        (279, 16, 1, len(data)),          # StripByteCounts as LONG8
        (339, 3, 1, 3),
        (33550, 12, 3, scale_off),        # external payload, 8-byte pointer
    ]
    assert len(entries) == n_entries
    buf = struct.pack("<2sHHHQ", b"II", 43, 8, 0, ifd_off)
    buf += struct.pack("<Q", n_entries)
    for tag, typ, cnt, val in entries:
        buf += struct.pack("<HHQQ", tag, typ, cnt, val)
    buf += struct.pack("<Q", 0)  # next IFD
    buf += scale + data
    assert len(buf) == data_off + len(data)

    out, hdr = decode_geotiff(buf)
    np.testing.assert_array_equal(out, grid)
    assert hdr["cellsize"] == 2.5 and (hdr["w"], hdr["h"]) == (w, h)


def test_geotiff_epsg_geokeys():
    """EPSG codes ride real GeoKeys: ProjectedCSTypeGeoKey (3072) for
    projected CRS, GeographicTypeGeoKey (2048) for geographic (4xxx),
    citation string for everything else; decode prefers the key."""
    import struct

    from pycuda_raster_spark.sources.geotiff import decode_geotiff, encode_geotiff

    g = np.ones((4, 4), dtype=np.float32)

    def geokey_ids(blob):
        tags = {}
        (n,) = struct.unpack("<H", blob[8:10])
        for k in range(n):
            tag, typ, cnt = struct.unpack("<HHI", blob[10 + 12 * k:18 + 12 * k])
            (off,) = struct.unpack("<I", blob[18 + 12 * k:22 + 12 * k])
            tags[tag] = (typ, cnt, off)
        typ, cnt, off = tags[34735]
        shorts = struct.unpack(f"<{cnt}H", blob[off:off + 2 * cnt])
        return {shorts[4 + 4 * i]: shorts[7 + 4 * i] for i in range(shorts[3])}

    proj = encode_geotiff(g, crs="EPSG:32633")
    keys = geokey_ids(proj)
    assert keys[3072] == 32633 and keys[1024] == 1 and 2048 not in keys
    assert decode_geotiff(proj)[1]["crs"] == "EPSG:32633"

    geo = encode_geotiff(g, crs="EPSG:4326")
    keys = geokey_ids(geo)
    assert keys[2048] == 4326 and keys[1024] == 2 and 3072 not in keys
    assert decode_geotiff(geo)[1]["crs"] == "EPSG:4326"

    plain = encode_geotiff(g, crs="ENGINE:PLANE")
    keys = geokey_ids(plain)
    assert keys[1024] == 32767 and 3072 not in keys and 2048 not in keys
    assert decode_geotiff(plain)[1]["crs"] == "ENGINE:PLANE"


def test_geotiff_unsupported_variants_fail_clearly():
    """Round 2 decoded predictor-2 deflate files without error and
    SILENTLY WRONG, and tiled files died in zip(None, None) — every
    unsupported combination must now raise a clear ValueError."""
    import struct

    from pycuda_raster_spark.sources.geotiff import decode_geotiff, encode_geotiff

    g = np.ones((4, 4), dtype=np.float32)
    with pytest.raises(ValueError, match="integer-only"):
        encode_geotiff(g, predictor=2)  # float + pred2 invalid
    with pytest.raises(ValueError, match="float-only"):
        encode_geotiff(g, dtype="u2", predictor=3)
    with pytest.raises(ValueError, match="multiples of 16"):
        encode_geotiff(g, tile_size=(10, 16))
    with pytest.raises(ValueError, match="predictor 9"):
        encode_geotiff(g, predictor=9)

    # a file with neither StripOffsets nor TileOffsets
    buf = struct.pack("<2sHI", b"II", 42, 8) + struct.pack("<H", 4)
    for tag, typ, val in ((256, 4, 2), (257, 4, 2), (258, 3, 32), (339, 3, 3)):
        buf += struct.pack("<HHI", tag, typ, 1) + struct.pack(
            "<" + {3: "H", 4: "I"}[typ], val).ljust(4, b"\x00")
    buf += struct.pack("<I", 0)
    with pytest.raises(ValueError, match="StripOffsets .273. or TileOffsets"):
        decode_geotiff(buf)

    # predictor 2 on float samples must refuse (not silently de-diff)
    from pycuda_raster_spark.sources.geotiff import _unpredict

    with pytest.raises(ValueError, match="predictor 2 .integer"):
        _unpredict(b"\x00" * 16, 1, 4, np.dtype("<f4"), 2)


def test_geotiff_e2e_slope_and_export(spark, tmp_path):
    """.tif in -> engine slope -> .tif out; engine result == whole-grid
    NumPy oracle bit-for-bit, and the exported product re-reads exactly."""
    from pycuda_raster_spark.functions.focal_kernels import oracle_whole_grid
    from pycuda_raster_spark.operators.focal import decode_focal_arrow, px_f32
    from pycuda_raster_spark.sources.geotiff import decode_geotiff, encode_geotiff
    from pycuda_raster_spark.sources.rasters import export_geotiffs

    rng = np.random.default_rng(12)
    g = (100 + 20 * rng.standard_normal((48, 32))).astype(np.float32)
    (tmp_path / "in").mkdir()
    (tmp_path / "in/d.tif").write_bytes(
        encode_geotiff(g, x0=5.0, y0=7.0, cellsize=2.0, crs="EPSG:4326"))
    images = read_raster_files(spark, str(tmp_path / "in"))
    tiles = decode_focal_arrow(images, tile_rows=16).cache()
    got = np.vstack([
        px_f32(r.slope).reshape(r.th, r.w)
        for r in sorted(tiles.collect(), key=lambda r: r.ty0)
    ])
    np.testing.assert_array_equal(got, oracle_whole_grid(g, 2.0)["slope"])
    n = export_geotiffs(tiles, str(tmp_path / "out"), value_col="slope")
    assert n == 1
    out, hdr = decode_geotiff((tmp_path / "out/d.tif").read_bytes())
    np.testing.assert_array_equal(out, got)
    assert (hdr["x0"], hdr["y0"], hdr["cellsize"]) == (5.0, 7.0, 2.0)
    # the INPUT file's CRS survived reader -> tiles -> product sink
    assert hdr["crs"] == "EPSG:4326"
    tiles.unpersist()


def test_catalog_dynamic_partition_overwrite(spark, tmp_path):
    p = str(tmp_path / "t")
    df1 = spark.createDataFrame([(0, "a"), (1, "b")], ["bucket", "v"])
    catalog.write(df1, p, partition_by=["bucket"])
    # overwriting bucket 0 only must keep bucket 1 intact
    df2 = spark.createDataFrame([(0, "a2")], ["bucket", "v"])
    catalog.write(df2, p, partition_by=["bucket"])
    got = {(r.bucket, r.v) for r in catalog.read(spark, p).collect()}
    assert got == {(0, "a2"), (1, "b")}


def test_export_geotiffs_codec_options_roundtrip(spark, tmp_path):
    """export_geotiffs with COG-style options (tiled + predictor-3 LZW)
    writes files that decode bit-identically and re-dispatch through
    read_raster_files."""
    from pycuda_raster_spark.fixtures import CorpusSpec, build_images, grid_for
    from pycuda_raster_spark.functions import codecs
    from pycuda_raster_spark.operators.decode import decode_tiles
    from pycuda_raster_spark.sources.rasters import export_geotiffs

    spec = CorpusSpec(n_images=2, w=48, h=32)
    images = spark.createDataFrame(build_images(spec))
    tiles = decode_tiles(images, tile_rows=16)
    out = tmp_path / "tifs"
    n = export_geotiffs(tiles, str(out), compression="lzw", predictor=3,
                        tile_size=(16, 16))
    assert n == 2
    rows = {r.image_id: r for r in
            read_raster_files(spark, str(out)).collect()}
    for i in range(2):
        want = codecs.decode(
            codecs.encode(grid_for(i, spec),
                          ["raw", "png", "q8", "raw"][i % 4]),
            ["raw", "png", "q8", "raw"][i % 4], spec.w, spec.h)
        r = rows[f"img{i:06d}.tif"]
        np.testing.assert_array_equal(
            decode(bytes(r.bytes), "raw", r.w, r.h), want, f"img{i}")


def test_bigtiff_write_roundtrip():
    """BigTIFF (43) WRITE: forced 8-byte-offset layout roundtrips through
    the version-parameterized reader bit-for-bit, for strip and tiled +
    predictor variants; small grids stay classic 42 under auto-detect."""
    import struct

    from pycuda_raster_spark.sources.geotiff import decode_geotiff, encode_geotiff

    rng = np.random.default_rng(5)
    g = rng.normal(size=(40, 33)).astype(np.float32)
    for name, kw in {
        "strip_deflate": dict(),
        "strip_none": dict(compression="none"),
        "tiled_pred3": dict(tile_size=(16, 16), predictor=3),
        "strip_lzw": dict(compression="lzw"),
    }.items():
        blob = encode_geotiff(g, x0=7.0, y0=3.0, cellsize=2.5,
                              crs="EPSG:32610", bigtiff=True, **kw)
        assert blob[2:4] == struct.pack("<H", 43), name
        out, hdr = decode_geotiff(blob)
        np.testing.assert_array_equal(out, g, err_msg=name)
        assert hdr["cellsize"] == 2.5 and hdr["crs"] == "EPSG:32610", name
    # auto-detect keeps small grids classic
    assert encode_geotiff(g)[2:4] == struct.pack("<H", 42)


def test_geotiff_u2_nodata_remap_and_range_guard():
    """u2 export remaps the float NODATA sentinel to 65535 (and writes it
    as the GDAL_NODATA tag) instead of wrapping -9999 to garbage; grids
    with unrepresentable values are rejected loudly (ADVICE r3)."""
    import pytest

    from pycuda_raster_spark.functions.codecs import NODATA
    from pycuda_raster_spark.sources.geotiff import decode_geotiff, encode_geotiff

    g = np.arange(12, dtype=np.float32).reshape(3, 4) * 100.0
    g[1, 2] = NODATA
    out, hdr = decode_geotiff(encode_geotiff(g, dtype="u2"))
    assert hdr["nodata"] == 65535.0
    # masked cell comes back as the engine sentinel; the rest exact
    assert out[1, 2] == np.float32(NODATA)
    mask = np.ones_like(g, dtype=bool)
    mask[1, 2] = False
    np.testing.assert_array_equal(out[mask], g[mask])

    with pytest.raises(ValueError, match="outside"):
        encode_geotiff(np.full((2, 2), -5.0, dtype=np.float32), dtype="u2")
    with pytest.raises(ValueError, match="non-integer"):
        encode_geotiff(np.full((2, 2), 1.5, dtype=np.float32), dtype="u2")
