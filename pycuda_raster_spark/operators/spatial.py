"""Spatial join suite: cell assignment, point-in-polygon, kNN, range join.

Mandated by the north rule (B:14: "H3/S2 index, point-in-polygon, kNN,
raster<->vector") — the reference itself has no relational joins (its one
join-shaped construct is the halo exchange, SURVEY.md §2.3), so these are
capability extensions expressed as Spark-first plan shapes:

* **PIP** = filter-and-refine: equi-join on cell id against the zones'
  exploded ``cover_cells`` (a broadcast hash join — zones are the small
  dim), then an exact vectorized ray-cast refine. The cell pre-join is the
  plan shape Catalyst cannot derive itself (SURVEY.md §4).
* **kNN** = k-ring candidate expansion join + window top-k, with a
  brute-force fallback union for queries whose ring under-fills (keeps the
  operator EXACT at any k without growing the ring for everyone).
* **range join** = ring expansion sized from the radius + JVM-side
  distance filter.

Distance math and ranking stay JVM-side (whole-stage codegen); Python
appears only in the batched cell/kring encodes and the ray-cast refine —
all Arrow-vectorized (B:15).
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..fixtures import point_in_ring
from ..functions import cellindex


def with_cell(df: DataFrame, res: int, x_col: str = "x", y_col: str = "y",
              out_col: str = "cell") -> DataFrame:
    from ..functions.cellindex_sql import cell_expr

    return df.withColumn(out_col, cell_expr(F.col(x_col), F.col(y_col), res))


def tile_centroids(tiles: DataFrame, res: int) -> DataFrame:
    """Tile -> world-plane centroid + cell — entirely Column arithmetic
    (codegen, no Python)."""
    out = tiles.withColumn(
        "cx", F.col("x0") + F.col("w") / 2.0 * F.col("cellsize")
    ).withColumn(
        "cy", F.col("y0") + (F.col("ty0") + F.col("th") / 2.0) * F.col("cellsize")
    )
    return with_cell(out, res, "cx", "cy")


def _pip_refine_udf():
    """Exact even-odd ray cast, vectorized per zone within each Arrow batch.
    Shares ``point_in_ring`` with the brute-force golden generator — one
    source of truth for the geometry predicate."""

    @F.pandas_udf(T.BooleanType())
    def _refine(x: pd.Series, y: pd.Series, zone_id: pd.Series, ring: pd.Series) -> pd.Series:
        out = np.zeros(len(x), dtype=bool)
        xv, yv = x.to_numpy(), y.to_numpy()
        zv = zone_id.to_numpy()
        for z in pd.unique(zv):
            idx = np.nonzero(zv == z)[0]
            r = ring.iloc[idx[0]]
            ring_dicts = [
                {"x": v["x"], "y": v["y"]} if isinstance(v, dict) else {"x": v[0], "y": v[1]}
                for v in r
            ]
            out[idx] = point_in_ring(xv[idx], yv[idx], ring_dicts)
        return pd.Series(out)

    return _refine


def pip_join_full(
    points: DataFrame,
    zones: DataFrame,
    res: int | None = None,
    broadcast_zones: bool = True,
) -> DataFrame:
    """points (…, x, y[, cell]) ⋈ zones (zone_id, ring, cover_cells) ->
    all point columns + ``zone_id`` for exact containment pairs.

    Filter: equi-join point cell vs exploded cover_cells (superset cover →
    no false negatives). Refine: exact ray cast. One LINEAR pipeline: with
    broadcast zones the fact side is never shuffled and carries its payload
    columns straight through — downstream aggregations need no join-back.
    """
    if "cell" not in points.columns:
        if res is None:
            # fallback only: infer the cover resolution with a one-row
            # driver job. Hot paths should pass ``res`` (or pre-assign
            # ``cell``) so building the plan triggers no Spark job.
            res = int(cellindex.cell_res(np.int64(
                zones.select(F.element_at("cover_cells", 1)).first()[0])))
        points = with_cell(points, res)
    cand_zones = zones.select(
        "zone_id", "ring", F.explode("cover_cells").alias("cell")
    )
    if broadcast_zones:
        cand_zones = F.broadcast(cand_zones)
    from ..functions.cellindex_sql import point_in_ring_expr

    cand = points.join(cand_zones, "cell")
    refined = cand.filter(point_in_ring_expr(F.col("x"), F.col("y"), F.col("ring")))
    return refined.drop("ring", "cell")


def pip_join(
    points: DataFrame,
    zones: DataFrame,
    res: int | None = None,
    broadcast_zones: bool = True,
) -> DataFrame:
    """(point_id, zone_id) exact containment pairs — see pip_join_full."""
    return pip_join_full(points, zones, res, broadcast_zones).select(
        "point_id", "zone_id"
    )


def _knn_dist():
    """Shared query-site distance for the kNN phases — explicit
    multiplication (not **2 -> Math.pow): bit-reproducible plain IEEE ops,
    so the DuckDB oracle computes the identical double. (A function, not a
    module constant: Column construction needs a live SparkContext.)"""
    dx = F.col("__qx") - F.col("__sx")
    dy = F.col("__qy") - F.col("__sy")
    return F.sqrt(dx * dx + dy * dy)


def _knn_window():
    return Window.partitionBy("__qid").orderBy(
        F.col("dist").asc(), F.col("__sid").asc())


def _knn_ring_attempt(q: DataFrame, s: DataFrame, k: int, res: int,
                      ring: int) -> tuple[DataFrame, DataFrame]:
    """One ring-expansion round: candidates from each query's k-ring,
    per-query window top-k, and the CERTIFIED query set — a ring of radius
    r guarantees all sites within r*cell_size, so a query whose k-th
    candidate is closer than that (and that found >= k) is exact.
    Returns (ranked_topk, certified_query_ids)."""
    from ..functions.cellindex_sql import kring_from_xy_expr

    cand = (
        q.withColumn(
            "__ncell",
            F.explode(kring_from_xy_expr(F.col("__qx"), F.col("__qy"), res, ring)),
        )
        .join(s, F.col("__ncell") == F.col("__scell"))
        .drop("__ncell", "__scell", "cell")
    )
    ranked = (
        cand.withColumn("dist", _knn_dist())
        .withColumn("rank", F.row_number().over(_knn_window()))
        .filter(F.col("rank") <= k)
    )
    safe_r = ring * cellindex.cell_size(res)
    ok_q = (
        ranked.groupBy("__qid")
        .agg(F.count("*").alias("__n"), F.max("dist").alias("__maxd"))
        .filter((F.col("__n") >= k) & (F.col("__maxd") < F.lit(safe_r)))
        .select("__qid")
    )
    return ranked, ok_q


def knn_join(
    queries: DataFrame,
    sites: DataFrame,
    k: int,
    res: int,
    ring: int = 1,
    query_id: str = "point_id",
    site_id: str = "site_id",
    exact_fallback: bool = True,
    fallback_rounds: int = 2,
) -> DataFrame:
    """Exact k-nearest-site join -> (query_id, site_id, rank, dist).

    Phase 1 (scale path): candidates from the k-ring of each query's cell
    (equi-join on cell — shuffled hash/SMJ, AQE-skew-splittable), ranked by
    a per-query window. Phase 2 (exactness guard, VERDICT r3 #4): queries
    the ring radius cannot certify (k-th candidate beyond ring*cell_size,
    or fewer than k found) retry with DOUBLED rings — ``fallback_rounds``
    rounds of 2x, 4x, ... — each round touching only the still-uncertified
    queries; whatever survives all doublings falls back to a broadcast
    cross-join of JUST those queries. On a pathologically sparse corpus the
    old single-step fallback degenerated to near-quadratic; with doubling,
    the cross-join sees only queries whose true k-th neighbor is farther
    than 2^rounds * ring cells — a vanishing fraction at any density. The
    plan is static (no driver-side counts): empty redo sets make the extra
    rounds near-free equi-joins.
    """
    q = queries if "cell" in queries.columns else with_cell(queries, res)
    q = q.select(F.col(query_id).alias("__qid"), F.col("x").alias("__qx"),
                 F.col("y").alias("__qy"), "cell")
    s = sites if "cell" in sites.columns else with_cell(sites, res)
    s = s.select(F.col(site_id).alias("__sid"), F.col("x").alias("__sx"),
                 F.col("y").alias("__sy"), F.col("cell").alias("__scell"))

    ranked, ok_q = _knn_ring_attempt(q, s, k, res, ring)

    if not exact_fallback:
        return ranked.select(
            F.col("__qid").alias(query_id), F.col("__sid").alias(site_id),
            "rank", "dist")

    parts = [ranked.join(ok_q, "__qid", "left_semi")]
    remaining = q.join(ok_q, "__qid", "left_anti")
    r = ring
    for _ in range(max(0, fallback_rounds)):
        r *= 2
        ranked_r, ok_r = _knn_ring_attempt(remaining, s, k, res, r)
        parts.append(ranked_r.join(ok_r, "__qid", "left_semi"))
        remaining = remaining.join(ok_r, "__qid", "left_anti")

    # last resort: brute force for the (tiny) still-uncertified set
    redo = (
        F.broadcast(remaining.drop("cell"))
        .crossJoin(s.drop("__scell"))
        .withColumn("dist", _knn_dist())
        .withColumn("rank", F.row_number().over(_knn_window()))
        .filter(F.col("rank") <= k)
    )
    parts.append(redo)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        F.col("__qid").alias(query_id), F.col("__sid").alias(site_id), "rank", "dist"
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    res: int,
    left_id: str = "point_id",
    right_id: str = "site_id",
) -> DataFrame:
    """All (left, right) pairs with euclidean distance <= radius.
    Ring sized from the radius: r_cells = ceil(radius / cell_size) — the
    candidate set provably covers the disk, the filter is exact."""
    ring = max(1, math.ceil(radius / cellindex.cell_size(res)))
    l = left if "cell" in left.columns else with_cell(left, res)
    l = l.select(F.col(left_id).alias("__lid"), F.col("x").alias("__lx"),
                 F.col("y").alias("__ly"), "cell")
    r = right if "cell" in right.columns else with_cell(right, res)
    r = r.select(F.col(right_id).alias("__rid"), F.col("x").alias("__rx"),
                 F.col("y").alias("__ry"), F.col("cell").alias("__rcell"))
    from ..functions.cellindex_sql import kring_from_xy_expr

    pairs = (
        l.withColumn(
            "__ncell",
            F.explode(kring_from_xy_expr(F.col("__lx"), F.col("__ly"), res, ring)),
        )
        .join(r, F.col("__ncell") == F.col("__rcell"))
        .withColumn(
            "dist",
            F.sqrt((F.col("__lx") - F.col("__rx")) * (F.col("__lx") - F.col("__rx"))
                   + (F.col("__ly") - F.col("__ry")) * (F.col("__ly") - F.col("__ry"))),
        )
        .filter(F.col("dist") <= radius)
    )
    return pairs.select(
        F.col("__lid").alias(left_id), F.col("__rid").alias(right_id), "dist"
    )
