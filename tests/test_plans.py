"""Physical-plan quality gates (.explain assertions).

Correctness says the answer is right; these say the PLAN is right — the
properties that decide whether the same code survives a 100x scale-up:
filters reach the parquet scan, column pruning drops pixel payloads,
small dims broadcast, the fused pipeline doesn't shuffle, candidate joins
never degenerate to cartesian products.
"""

import pytest
from pyspark.sql import functions as F

from pycuda_raster_spark.fixtures import (
    CorpusSpec,
    build_points,
    build_zones,
    images_df,
)
from pycuda_raster_spark.operators.focal import decode_focal_arrow
from pycuda_raster_spark.operators.spatial import knn_join, pip_join
from pycuda_raster_spark.operators.zonal import zonal_stats_from_partials

SPEC = CorpusSpec(n_images=8, w=32, h=32)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def tiles_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "tiles")
    decode_focal_arrow(images_df(spark, SPEC), tile_rows=16).write.parquet(p)
    return p


def test_filter_pushdown_to_parquet(spark, tiles_path):
    df = spark.read.parquet(tiles_path).filter(F.col("image_id") == "img000003")
    plan = df._jdf.queryExecution().toString()
    assert "PushedFilters: [IsNotNull(image_id), EqualTo(image_id,img000003)" in plan


def test_column_pruning_drops_pixel_payloads(spark, tiles_path):
    slim = spark.read.parquet(tiles_path).select("image_id", "pn", "ps")
    plan = slim._jdf.queryExecution().toString()
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][-1]
    assert "slope" not in rs and "aspect" not in rs and "hillshade" not in rs


def test_zonal_scan_is_pixel_free(spark, tiles_path):
    zones = spark.createDataFrame(build_zones(8, res=6))
    slim = spark.read.parquet(tiles_path).select(
        "image_id", "tile_y", "ty0", "th", "w", "x0", "y0", "cellsize",
        "pn", "ps", "pss", "pmin", "pmax")
    zs = zonal_stats_from_partials(slim, zones)
    plan = zs._jdf.queryExecution().toString()
    rs = [l for l in plan.splitlines() if "ReadSchema" in l][-1]
    assert "slope" not in rs, "zonal stats must not read product payloads"
    assert "BroadcastHashJoin" in plan_of(zs) or "BroadcastNestedLoop" not in plan_of(zs)


def test_fused_pipeline_has_no_shuffle(spark):
    fused = decode_focal_arrow(images_df(spark, SPEC), tile_rows=16)  # no repartition
    plan = plan_of(fused)
    assert "Exchange" not in plan, f"fused path must be shuffle-free:\n{plan}"
    assert "MapInArrow" in plan


def test_fused_pipeline_repartition_is_single_exchange(spark):
    fused = decode_focal_arrow(images_df(spark, SPEC), tile_rows=16, partitions=8)
    plan = plan_of(fused)
    assert plan.count("Exchange") == 1


def test_pip_join_broadcasts_zones(spark):
    zones = spark.createDataFrame(build_zones(8, res=6))
    points = spark.createDataFrame(build_points(200, res=6))
    plan = plan_of(pip_join(points, zones))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan, "PIP must be UDF-free (JVM ray cast)"


def test_knn_candidate_join_not_cartesian(spark):
    points = spark.createDataFrame(build_points(200, res=6))
    sites = points.filter(F.col("point_id") % 5 == 0).select(
        F.col("point_id").alias("site_id"), "x", "y")
    out = knn_join(points, sites, k=2, res=6, ring=1, exact_fallback=False)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_cosine_pairs_lsh_plan_is_banded_equi_join(spark):
    """The banded hyperplane LSH must candidate-join on (band, key) —
    never a cartesian/self cross product (the round-1 single-signature
    design built 2^n_planes buckets whose intra-bucket self-join goes
    quadratic at corpus scale; (band, key) keys are AQE-skew-splittable)."""
    from pycuda_raster_spark.operators.similarity import cosine_pairs

    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 2.0]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    out = cosine_pairs(emb, threshold=0.9, dim=3)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan and "key" in plan


def test_ivf_topk_join_plan_is_bucket_cogroup(spark):
    """The distributed-queries ANN must candidate-match via the bucket
    cogroup — no cartesian product of queries x corpus anywhere."""
    import numpy as np

    from pycuda_raster_spark.operators.similarity import (
        ivf_assign,
        ivf_topk_join,
        seeded_centroids,
    )

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    cents = seeded_centroids(8, 4)
    q = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    out = ivf_topk_join(ivf_assign(emb, cents), q, cents, k=3, nprobe=2)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapCoGroupsInPandas" in plan or "CoGroup" in plan


def test_cosine_topk_join_plan_is_block_cogroup_and_collect_free(spark):
    """Exact top-k over a query TABLE: candidate matching must be the
    block cogroup (no cartesian queries x corpus), and building the plan
    must launch no driver-side job (nothing is collected)."""
    from pycuda_raster_spark.operators.similarity import cosine_topk_join

    emb = spark.createDataFrame(
        [(i, [float((i * 3 + j) % 5) for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    q = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    out = cosine_topk_join(emb, q, k=3, n_blocks=4)
    plan = plan_of(out)
    after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before), "plan construction must be collect-free"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapCoGroupsInPandas" in plan or "CoGroup" in plan


def test_pip_join_with_res_builds_plan_without_spark_job(spark):
    """Threading ``res`` through pip_join must not trigger a driver-side
    job while BUILDING the plan (round-1 ran a first() per call)."""
    zones = spark.createDataFrame(build_zones(4, res=6))
    points = spark.createDataFrame(build_points(50, res=6)).drop("cell")
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    df = pip_join(points, zones, res=6)
    _ = df.columns  # force analysis
    after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before), "plan construction must be job-free"


def test_text_ops_are_python_free(spark):
    """Higher-order functions evaluate JVM-side (outside whole-stage
    codegen, which is fine); the property that matters is that NO Python
    evaluation node appears anywhere in the text-analysis plan."""
    from pycuda_raster_spark.operators.text import with_fingerprint, with_quality

    docs = spark.createDataFrame([(1, "hello world the end")], ["doc_id", "text"])
    out = with_fingerprint(with_quality(docs))
    plan = plan_of(out)
    for marker in ("PythonUDF", "BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_scale_stretch_broadcasts_range_and_stays_jvm(spark):
    """gdal_translate -scale: the per-image range table must come back as
    a broadcast join (never a shuffled join keyed by pixels) and the
    stretch itself must be pure JVM (no Python stage)."""
    from pycuda_raster_spark.operators.calc import scale_tiles
    from pycuda_raster_spark.operators.decode import decode_tiles

    decoded = decode_tiles(images_df(spark, SPEC), tile_rows=16)
    out = scale_tiles(decoded)
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    # pinned=True (default) localCheckpoints the input: the decode Python
    # stage ran ONCE at pin time and the two-pass stretch reads pinned
    # blocks — zero Python stages left in the plan.
    assert plan.lower().count("mapinpandas") == 0, plan

    # pinned=False is the caller-managed path: auto-range scaling is
    # inherently two-pass, so the decode stage appears once per pass.
    unpinned = plan_of(scale_tiles(decoded, pinned=False))
    assert unpinned.lower().count("mapinpandas") == 2


def test_raster_histogram_aggregates_map_side(spark):
    """The hist explode must feed a PARTIAL hash aggregate inside the
    decode stage, so the shuffle carries (image, bin) rows — never
    pixels: exactly one Exchange downstream of the single MapInPandas,
    with a partial aggregate between them."""
    from pycuda_raster_spark.operators.calc import raster_histogram
    from pycuda_raster_spark.operators.decode import decode_tiles

    out = raster_histogram(decode_tiles(images_df(spark, SPEC),
                                        tile_rows=16))
    plan = plan_of(out)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1
    # partial aggregate appears before (deeper than) the exchange
    lines = final.splitlines()
    agg_idx = [i for i, l in enumerate(lines) if "HashAggregate" in l]
    ex_idx = [i for i, l in enumerate(lines) if "Exchange" in l]
    assert agg_idx and ex_idx
    # tree prints root-first: final agg < exchange < partial agg
    assert min(agg_idx) < min(ex_idx) < max(agg_idx)
    for marker in ("BatchEvalPython", "PythonUDF"):
        assert marker not in final


def test_profile_plan_is_broadcast_and_python_free_beyond_decode(spark):
    """profile_tiles adds ZERO Python beyond the one decode stage and
    broadcasts the step table onto the tiles."""
    from pycuda_raster_spark.operators.decode import decode_tiles
    from pycuda_raster_spark.operators.gridding import profile_tiles

    out = profile_tiles(decode_tiles(images_df(spark, SPEC),
                                     tile_rows=16), (2, 1), (29, 30))
    plan = plan_of(out)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInPandas") == 1
    assert "BroadcastExchange" in final or "Broadcast" in final
    assert "BatchEvalPython" not in final
