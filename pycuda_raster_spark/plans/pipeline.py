"""The flagship pipeline — the engine's EP1 (SURVEY.md §3.2).

scan(images) -> decode+tile (fused halos) -> Horn stencil (slope/aspect/
hillshade in one pass) -> tile sink partitioned by bucket -> per-bucket
lineage manifest; optional spatial stages (cell assign, PIP zonal stats)
ride on the same tiles. The reference's whole program
(scheduler+loader+gpuCalc+saver, [ref?]) is this one declarative DAG.

Scale decisions encoded here:
* resume unit = ``bucket = pmod(xxhash64(image_id), n_buckets)`` — a stable
  hash partition of the corpus. Buckets are the manifest's partition_id,
  the sink's partition dir, and the overwrite unit (idempotent re-runs).
* one shuffle-free path from scan to sink: decode, stencil and tiling are
  one mapInArrow stage, the write partitions by the bucket column that
  was computed from the scan — Spark never repartitions pixel payloads.
* skew: the salt for grouped stages is the bucket itself; AQE handles the
  rest (session conf, session.py).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.focal import PRODUCTS, decode_focal_arrow
from ..operators.zonal import zonal_stats_from_partials
from ..sources import catalog
from ..streaming import manifest as mf

FOCAL_STAGE = "focal"


def with_bucket(images: DataFrame, n_buckets: int) -> DataFrame:
    return images.withColumn(
        "bucket", F.pmod(F.xxhash64("image_id"), F.lit(n_buckets)).cast("int")
    )


def run_pipeline(
    spark: SparkSession,
    images: DataFrame,
    out_dir: str,
    zones: DataFrame | None = None,
    products: tuple[str, ...] = PRODUCTS,
    tile_rows: int = 32,
    n_buckets: int = 16,
    run_id: str | None = None,
    resume: bool = True,
    compute_psnr: bool = True,
    zones_res: int | None = None,
) -> dict:
    """Execute (or resume) the flagship run. Returns summary dict with
    per-stage row counts and the list of buckets processed this run.

    Layout under ``out_dir``:
      tiles/     product tile table, partitioned by bucket
      zonal/     zonal stats per zone (when zones given)
      manifest/  lineage table (streaming/manifest.py)
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    tiles_path = f"{out_dir}/tiles"
    manifest_path = f"{out_dir}/manifest"

    images_b = with_bucket(images, n_buckets)
    if resume:
        done = mf.completed(spark, manifest_path, FOCAL_STAGE)
        todo = images_b.join(done, "bucket", "left_anti")
    else:
        todo = images_b

    started = mf.now()
    # fused fast path: decode -> stencil -> tile slice in ONE Python stage
    # (mapInArrow — measured ~25-30% faster than a mapInPandas twin),
    # emitting pixel partials so the zonal stage below is pixel-free
    par = spark.sparkContext.defaultParallelism * 2
    focal = decode_focal_arrow(todo, tile_rows=tile_rows, products=products,
                               compute_psnr=compute_psnr, partitions=par)
    # bucket must survive to the sink: recompute from image_id (cheap hash,
    # avoids threading the column through the UDF schemas)
    focal_b = focal.withColumn(
        "bucket", F.pmod(F.xxhash64("image_id"), F.lit(n_buckets)).cast("int")
    )
    catalog.write(focal_b, tiles_path, partition_by=["bucket"], mode="overwrite")

    # lineage metrics per bucket read back from the sink (counts what was
    # actually persisted, not what was planned)
    written = spark.read.parquet(tiles_path)
    new_buckets = [
        r.bucket for r in todo.select("bucket").distinct().collect()
    ]
    stats = (
        written.filter(F.col("bucket").isin(new_buckets))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("rows"),
            # products=() (partials-only mode) has no product column to
            # measure; the Arrow stage writes empty (non-null) blobs for
            # unrequested products, so a requested one is never null
            F.sum((F.length(products[0]) if products else F.lit(0))
                  .cast("long") * len(products)).alias("bytes"),
            F.min("psnr").alias("psnr_min"),
        )
        .collect()
    )
    finished = mf.now()
    entries = [
        {
            "run_id": run_id, "stage": FOCAL_STAGE, "partition_id": r.bucket,
            "rows": r.rows, "bytes": r.bytes,
            "psnr_min": None if r.psnr_min == float("inf") else r.psnr_min,
            "started_at": started, "finished_at": finished, "status": "done",
        }
        for r in stats
    ]
    if entries:
        mf.append_entries(spark, manifest_path, entries)

    summary = {
        "run_id": run_id,
        "buckets_processed": sorted(e["partition_id"] for e in entries),
        "tile_rows_written": int(sum(e["rows"] for e in entries)),
        "tiles_path": tiles_path,
        "manifest_path": manifest_path,
    }

    if zones is not None:
        # zonal stage is PIXEL-FREE: it reads the scalar partial columns
        # back from the tile sink (full corpus — zonal is a small global
        # aggregate, refreshed each run)
        slim = written.select(
            "image_id", "tile_y", "ty0", "th", "w", "x0", "y0", "cellsize",
            "pn", "ps", "pss", "pmin", "pmax",
        )
        zs = zonal_stats_from_partials(slim, zones, res=zones_res)
        catalog.write(zs, f"{out_dir}/zonal", mode="overwrite")
        summary["zonal_path"] = f"{out_dir}/zonal"
    return summary
