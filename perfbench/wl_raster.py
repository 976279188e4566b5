"""raster_pipeline: ``plans.pipeline.run_pipeline`` with zones, with the
arguments ``jobs/run_pipeline.py`` passes by default (64 buckets, 64-row
tiles, resume on, PSNR on), into a fresh output directory per repetition,
followed by one no-op resume call on the same directory."""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import inputs
import oracles
from harness import median

# the largest corpus whose runs fit the run budget next to sf01_queries;
# the measured cost per image and the fixed cost are in the README
N_IMAGES, EDGE = 128, 256
TILE_ROWS, BUCKETS = 64, 64
PRODUCTS = ("slope", "aspect", "hillshade")
# the Horn products written apart from the program agree to this much
HORN_TOL = {"slope": 1e-3, "aspect": 1e-2, "hillshade": 1.0}
ZONAL_RTOL = 1e-9


def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _rows(path: str) -> int:
    return sum(pq.ParquetFile(os.path.join(d, n)).metadata.num_rows
               for d, _, names in os.walk(path) for n in names if n.endswith(".parquet"))


class Workload:
    name = "raster_pipeline"
    KNOWN_FAULTS: tuple[str, ...] = ()

    def __init__(self, run_dir: str, seed: int, tracer):
        self.dir, self.seed, self.tracer = run_dir, seed, tracer
        self.k = 0
        self.outs: list[str] = []
        self.rep_stats: list[dict] = []

    # ------------------------------------------------------------ inputs

    def generate(self) -> None:
        table, self.meta = inputs.corpus(self.seed, N_IMAGES, EDGE)
        zones = inputs.zones(self.seed)
        self.zone_rows = zones.to_pylist()
        self.images_path = inputs.write(table, f"{self.dir}/images.parquet")
        self.zones_path = inputs.write(zones, f"{self.dir}/zones.parquet")

    def register(self, spark) -> None:
        self.spark = spark
        self.images = spark.read.parquet(self.images_path)
        self.zones = spark.read.parquet(self.zones_path)

    # -------------------------------------------------------- repetition

    def _run(self, out: str) -> dict:
        from pycuda_raster_spark.plans.pipeline import run_pipeline

        return run_pipeline(self.spark, self.images, out, zones=self.zones,
                            tile_rows=TILE_ROWS, n_buckets=BUCKETS, resume=True,
                            compute_psnr=True)

    def rep(self) -> None:
        out = f"{self.dir}/out/rep{self.k}"
        self.k += 1
        with self.tracer.span("plans.pipeline.run_pipeline"):
            summary = self._run(out)
        with self.tracer.span("plans.pipeline.resume"):
            resumed = self._run(out)
        self.outs.append(out)
        self.last = (out, summary, resumed)

    def after_rep(self) -> None:
        """Untimed: whether the resume call processed nothing and left the
        table as it was; the sink size; drop older outputs."""
        out, summary, resumed = self.last
        rows = _rows(f"{out}/tiles")
        files, size = _tree_size(out)
        self.rep_stats.append({"sink_mb": _tree_size(f"{out}/tiles")[1] / 2**20,
                               "files": files, "mb": size / 2**20,
                               "resume_ok": resumed["buckets_processed"] == []
                               and resumed["tile_rows_written"] == 0
                               and rows == summary["tile_rows_written"]})
        while len(self.outs) > 1:
            shutil.rmtree(self.outs.pop(0), ignore_errors=True)

    # ------------------------------------------------------------ checks

    def _grids(self) -> list[np.ndarray]:
        """Each image's grid as the engine must decode it: raw and png are
        lossless, q8 is decoded here from its bytes."""
        table = pq.read_table(self.images_path, columns=["bytes"])
        blobs = table.column("bytes").to_pylist()
        return [oracles.q8_decode(b, EDGE, EDGE) if m["fmt"] == "q8" else m["grid"]
                for m, b in zip(self.meta, blobs)]

    def check(self) -> list[tuple[str, bool, str]]:
        out, summary, _ = self.last
        resumed = [r["resume_ok"] for r in self.rep_stats]
        res = [("resume_noop", all(resumed),
                f"{sum(resumed)} of {len(resumed)} resume calls processed no bucket")]
        tiles = ds.dataset(f"{out}/tiles", format="parquet", partitioning="hive")
        t = tiles.to_table(columns=["image_id", "tile_y", "pn", "psnr", "bucket"]).to_pydict()
        n_tiles = N_IMAGES * math.ceil(EDGE / TILE_ROWS)
        keys = set(zip(t["image_id"], t["tile_y"]))
        res.append(("tile_rows", len(t["image_id"]) == n_tiles and len(keys) == n_tiles,
                    f"{len(t['image_id'])} rows, {len(keys)} distinct, want {n_tiles}"))

        man = pq.read_table(f"{out}/manifest").to_pydict()
        done = [p for p, s in zip(man["partition_id"], man["status"]) if s == "done"]
        buckets = set(t["bucket"])
        res.append(("manifest", sorted(done) == sorted(buckets)
                    and sum(man["rows"]) == len(t["image_id"]),
                    f"{len(done)} done rows for {len(buckets)} buckets, "
                    f"rows {sum(man['rows'])} vs {len(t['image_id'])}"))

        grids = self._grids()
        valid = sum(int((g != oracles.NODATA).sum()) for g in grids)
        res.append(("pn_sum", sum(t["pn"]) == valid, f"{sum(t['pn'])} vs {valid}"))

        # the reported PSNR: inf for the lossless formats, >= 40 dB for q8;
        # and q8's own loss against its source grid, measured here. The
        # program reports inf for q8 too (it compares the decode with its
        # own re-encode), which passes ">= 40": only the half measured here
        # has force on q8
        fmt_of = {m["image_id"]: m["fmt"] for m in self.meta}
        psnr_ok = all(p >= 40.0 if fmt_of[iid] == "q8" else p == math.inf
                      for iid, p in zip(t["image_id"], t["psnr"]))
        q8 = [oracles.psnr(m["grid"], g) for m, g in zip(self.meta, grids) if m["fmt"] == "q8"]
        res.append(("psnr", psnr_ok and min(q8) >= 40.0,
                    f"reported {sorted(set(t['psnr']))[:3]}; q8 vs source >= {min(q8):.1f} dB"))

        res += self._check_focal(tiles, grids)
        res.append(self._check_zonal(out, grids))
        return res

    def _sample(self) -> list[int]:
        """Seeded sample covering every format, NODATA islands and a
        duplicate."""
        rng = np.random.default_rng([self.seed, 99])
        pick = set()
        for fmt in ("raw", "png", "q8"):
            idx = [i for i, m in enumerate(self.meta) if m["fmt"] == fmt and not m["nodata"]]
            pick.add(int(rng.choice(idx)))
        isl = [i for i, m in enumerate(self.meta) if m["nodata"]]
        pick.update(int(i) for i in rng.choice(isl, size=min(2, len(isl)), replace=False))
        dup = [i for i, m in enumerate(self.meta) if m["src"] != i]
        pick.add(int(rng.choice(dup)))
        return sorted(pick)

    def _check_focal(self, tiles, grids) -> list[tuple[str, bool, str]]:
        from pycuda_raster_spark.functions.focal_kernels import oracle_whole_grid

        sample = self._sample()
        ids = [self.meta[i]["image_id"] for i in sample]
        rows = tiles.to_table(columns=["image_id", "tile_y", *PRODUCTS],
                              filter=ds.field("image_id").isin(ids)).to_pydict()
        bit = tol = mask = True
        detail = []
        for i, iid in zip(sample, ids):
            order = sorted((ty, k) for k, (im, ty) in enumerate(zip(rows["image_id"], rows["tile_y"]))
                           if im == iid)
            got = {p: np.concatenate([np.frombuffer(rows[p][k], dtype="<f4") for _, k in order])
                   .reshape(EDGE, EDGE) for p in PRODUCTS}
            gold = oracle_whole_grid(grids[i], self.meta[i]["cellsize"])
            mine = oracles.horn(grids[i], self.meta[i]["cellsize"])
            for p in PRODUCTS:
                same = np.array_equal(got[p].view(np.uint32), gold[p].astype(np.float32).view(np.uint32))
                nd_got, nd_mine = got[p] == oracles.NODATA, mine[p] == oracles.NODATA
                ok_mask = np.array_equal(nd_got, nd_mine)
                live = ~nd_got & ~nd_mine
                diff = (oracles.angle_diff(got[p][live], mine[p][live]) if p == "aspect"
                        else np.abs(got[p][live] - mine[p][live]))
                worst = float(diff.max()) if diff.size else 0.0
                bit &= same
                mask &= ok_mask
                tol &= worst <= HORN_TOL[p]
                if not (same and ok_mask and worst <= HORN_TOL[p]):
                    detail.append(f"{iid}/{p}: bit={same} mask={ok_mask} maxdiff={worst:.3g}")
        d = "; ".join(detail) or f"{len(sample)} images"
        return [("focal_bitexact", bit, d), ("focal_tolerance", tol, d), ("focal_nodata_mask", mask, d)]

    def _check_zonal(self, out: str, grids) -> tuple[str, bool, str]:
        """Per-zone stats over the pixels of the tiles whose centroid lies
        in the zone, by brute force over the generated grids."""
        cx, cy, stats = [], [], []
        for m, g in zip(self.meta, grids):
            cs = m["cellsize"]
            for ty0 in range(0, EDGE, TILE_ROWS):
                th = min(TILE_ROWS, EDGE - ty0)
                cx.append(m["x0"] + EDGE / 2.0 * cs)
                cy.append(m["y0"] + (ty0 + th / 2.0) * cs)
                v = g[ty0:ty0 + th].astype(np.float64)
                v = v[v != oracles.NODATA]
                stats.append((v.size, v.sum(), (v * v).sum(),
                              v.min() if v.size else None, v.max() if v.size else None))
        cx, cy = np.array(cx), np.array(cy)
        want = {}
        for z in self.zone_rows:
            hit = np.nonzero(oracles.ray_cast(cx, cy, z["ring"]))[0]
            if not len(hit):
                continue
            n = sum(stats[k][0] for k in hit)
            s = sum(stats[k][1] for k in hit)
            ss = sum(stats[k][2] for k in hit)
            mins = [stats[k][3] for k in hit if stats[k][3] is not None]
            maxs = [stats[k][4] for k in hit if stats[k][4] is not None]
            mean = s / n if n else None
            want[z["zone_id"]] = {"n_px": n, "sum_px": s, "mean_px": mean,
                                  "std_px": math.sqrt(max(ss / n - mean * mean, 0.0)) if n else None,
                                  "min_px": min(mins) if mins else None,
                                  "max_px": max(maxs) if maxs else None}
        got = {r["zone_id"]: r for r in pq.read_table(f"{out}/zonal").to_pylist()}
        bad = []
        if set(got) != set(want):
            bad.append(f"zones {sorted(got)} vs {sorted(want)}")
        for z in set(got) & set(want):
            g, w = got[z], want[z]
            for c in ("n_px", "min_px", "max_px"):
                if g[c] != w[c]:
                    bad.append(f"zone {z} {c} {g[c]!r} vs {w[c]!r}")
            for c in ("sum_px", "mean_px", "std_px"):
                if not math.isclose(g[c], w[c], rel_tol=ZONAL_RTOL, abs_tol=1e-9):
                    bad.append(f"zone {z} {c} {g[c]!r} vs {w[c]!r}")
        return ("zonal", not bad, "; ".join(bad[:4]) or f"{len(want)} zones")

    # ------------------------------------------------------- traced run

    def install_trace(self) -> None:
        from pycuda_raster_spark.plans import pipeline
        from pycuda_raster_spark.sources import catalog
        from pycuda_raster_spark.streaming import manifest

        tr = self.tracer
        tr.wrap(catalog, "write", "sources.catalog.write",
                label=lambda a, k: {"path": a[1] if len(a) > 1 else k.get("path")})
        tr.wrap(catalog, "append", "sources.catalog.append")
        tr.wrap(manifest, "append_entries", "streaming.manifest.append_entries")
        tr.wrap(manifest, "completed", "streaming.manifest.completed")
        tr.wrap(pipeline, "decode_focal_arrow", "operators.focal.decode_focal_arrow")
        tr.wrap(pipeline, "zonal_stats_from_partials", "operators.zonal.zonal_stats_from_partials")

    def layer_metrics(self, log, reps: list[dict]) -> dict:
        tr = self.tracer
        m: dict[str, float] = {}
        wall = median(r["wall_s"] for r in reps)
        m["pixels_per_s"] = N_IMAGES * EDGE * EDGE / wall
        timed = self.rep_stats[-len(reps):]
        m["sink_mb"] = median(s["sink_mb"] for s in timed)
        m["sources.catalog.files_written"] = median(s["files"] for s in timed)
        m["sources.catalog.mb_written"] = median(s["mb"] for s in timed)
        m["streaming.manifest.completed_s"] = tr.per_rep("streaming.manifest.completed")
        m["plans.pipeline.resume_noop_s"] = tr.per_rep("plans.pipeline.resume")
        m["operators.zonal.from_partials_s"] = tr.per_rep("operators.zonal.zonal_stats_from_partials")

        # Spark actions of the first (non-resume) run_pipeline call of each
        # timed repetition, attributed through the span open at job start
        actions: dict[str, list[float]] = {}
        arrow = {"python_s": [], "to_python_mb": [], "from_python_mb": []}
        hits: list[float] = []
        kids: dict[int, list[dict]] = {}
        for s in tr.spans:
            kids.setdefault(s["parent"], []).append(s)

        def under(sid: int) -> set[int]:
            out, todo = set(), [sid]
            while todo:
                x = todo.pop()
                out.add(x)
                todo.extend(c["id"] for c in kids.get(x, ()))
            return out

        for rp in tr.timed_spans("plans.pipeline.run_pipeline"):
            per = {"tile_sink": 0.0, "bucket_list": 0.0, "lineage_stats": 0.0,
                   "manifest_append": 0.0, "zonal_write": 0.0}
            direct = log.execs_in({rp["id"]})
            for name, ex in zip(("bucket_list", "lineage_stats"), direct):
                per[name] += log.exec_seconds(ex)
            for c in kids.get(rp["id"], ()):
                if c["name"] == "sources.catalog.write":
                    name = "tile_sink" if str(c.get("path")).endswith("/tiles") else "zonal_write"
                elif c["name"] == "streaming.manifest.append_entries":
                    name = "manifest_append"
                else:
                    continue
                for ex in log.execs_in(under(c["id"])):
                    per[name] += log.exec_seconds(ex)
                    for node in log.nodes(ex):
                        if node["name"] == "MapInArrow":
                            mt = node["metrics"]
                            arrow["python_s"].append(mt.get("time to run Python workers", 0) / 1e3)
                            arrow["to_python_mb"].append(mt.get("data sent to Python workers", 0) / 2**20)
                            arrow["from_python_mb"].append(
                                mt.get("data returned from Python workers", 0) / 2**20)
                        elif name == "zonal_write" and node["name"] == "BroadcastHashJoin":
                            # the ray cast is the join's condition: its output
                            # rows are the (tile, zone) containment pairs
                            hits.append(node["metrics"].get("number of output rows", 0))
            for k, v in per.items():
                actions.setdefault(k, []).append(v)
        for k, v in actions.items():
            m[f"plans.pipeline.{k}_s"] = median(v)
        for k, v in arrow.items():
            m[f"operators.focal.{k}"] = median(v) if v else 0.0
        cand = self._zonal_candidates()
        m["operators.spatial.zonal_pip_candidates"] = cand
        m["operators.spatial.zonal_pip_hit_ratio"] = median(hits) / cand if hits else 0.0
        return m

    def _zonal_candidates(self) -> int:
        """(tile, zone) pairs the cell pre-join passes to the ray cast: the
        tile centroid's cell is one of the zone's cover cells."""
        from pycuda_raster_spark.functions.cellindex import cell

        cx = [m["x0"] + EDGE / 2.0 * m["cellsize"] for m in self.meta for _ in range(0, EDGE, TILE_ROWS)]
        cy = [m["y0"] + (ty0 + min(TILE_ROWS, EDGE - ty0) / 2.0) * m["cellsize"]
              for m in self.meta for ty0 in range(0, EDGE, TILE_ROWS)]
        cells = cell(np.array(cx), np.array(cy), inputs.ZONE_RES)
        return sum(int(np.isin(cells, z["cover_cells"]).sum()) for z in self.zone_rows)

    def probes(self) -> dict:
        """Direct calls: single-thread codec and kernel timings in this
        process, and each fused pass on its own to the noop sink."""
        from pycuda_raster_spark.functions import codecs
        from pycuda_raster_spark.functions.focal_kernels import horn_products
        from pycuda_raster_spark.operators.focal import decode_focal_arrow

        m = {}
        blobs = pq.read_table(self.images_path, columns=["bytes"]).column("bytes").to_pylist()

        def ms(fn, n=5) -> float:
            ts = []
            for _ in range(n):
                t0 = time.perf_counter()
                fn()
                ts.append((time.perf_counter() - t0) * 1e3)
            return median(ts)

        for fmt in ("raw", "png", "q8"):
            i = next(k for k, x in enumerate(self.meta) if x["fmt"] == fmt)
            m[f"functions.codecs.decode_ms.{fmt}"] = ms(
                lambda: codecs.decode(blobs[i], fmt, EDGE, EDGE))
        q = next(k for k, x in enumerate(self.meta) if x["fmt"] == "q8")
        grid = codecs.decode(blobs[q], "q8", EDGE, EDGE)
        m["functions.codecs.psnr_roundtrip_ms"] = ms(
            lambda: codecs.psnr(grid, codecs.decode(codecs.encode(grid, "q8"), "q8", EDGE, EDGE)))
        m["functions.focal_kernels.horn_ms"] = ms(
            lambda: horn_products(grid, self.meta[q]["cellsize"]))

        par = self.spark.sparkContext.defaultParallelism * 2
        for key, products in (("partials_pass_s", ()), ("products_pass_s", PRODUCTS)):
            ts = []
            for _ in range(3):
                with self.tracer.span(f"operators.focal.{key}"):
                    t0 = time.perf_counter()
                    decode_focal_arrow(self.images, tile_rows=TILE_ROWS, products=products,
                                       compute_psnr=True, partitions=par) \
                        .write.format("noop").mode("overwrite").save()
                    ts.append(time.perf_counter() - t0)
            m[f"operators.focal.{key}"] = median(ts)
        return m
