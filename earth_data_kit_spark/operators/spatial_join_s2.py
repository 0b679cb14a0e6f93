"""The S2 cell index (grid/s2.py) behind the shared cell-index joins.

``S2Index`` plugs genuine S2 cell ids — Hilbert-curve position over
the quadratic-ST cube projection — into the one kNN / radius / PIP
algorithm in ``knn.py`` (``index_knn_join``, ``index_radius_join``,
``index_pip_join``); ``knn_join_s2``, ``radius_join_s2`` and
``pip_join_s2`` only build the index and call it.  At 100 TB the S2
index buys two things the quadgrid can't:

* near-uniform cell area on the sphere (the quadgrid's lat/lon cells
  shrink toward the poles → skewed cells for polar data);
* prefix-range ids — a table sorted/range-partitioned by ``s2_leaf``
  is range-prunable for ANY ancestor cell via parquet min/max stats,
  no re-bucketing per query level.

What the index hides:

* points key: ONE vectorized pandas-UDF pass computes the level-30
  leaf id per page (``s2_leaf_udf``) — or reads a stored ``leaf_col``
  — and the join cell at any coarser ``level`` is derived from the
  leaf by pure JVM bit arithmetic, joined on its compact prefix form
  (``s2_prefix_key_col``);
* polygon covering: driver-side BFS (``s2_covering_df``);
* query cover at step ``ring``: the BFS k-ring, exact within
  ``s2_ring_safe_radius_m(level, ring)``; auto-grow jumps to the first
  ring (in steps of 2) whose safe radius covers the k-th distance and
  doubles the ring for starved queries.

Reference analog: the reference's nested ST_Intersects loop
(/root/reference/earth_data_kit/stitching/classes/dataset.py:252-274)
with the cell-prefilter the north rule prescribes.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from earth_data_kit_spark.grid import s2
from earth_data_kit_spark.operators.knn import (
    CellIndex,
    first_covering_step,
    index_knn_join,
    index_pip_join,
    index_radius_join,
)
from earth_data_kit_spark.operators.spatial_join import Polygon, refine_predicate


def s2_leaf_udf():
    """Vectorized (lon, lat) → S2 level-30 leaf id, as int64 (bit
    reinterpretation of the uint64 id — equi-join/groupBy safe)."""

    @pandas_udf("long")
    def _leaf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        bad = ~np.isfinite(la) | ~np.isfinite(lo)  # NaN AND ±Inf
        if bad.any():  # NULL in → NULL out (never a garbage cell id)
            la = np.where(bad, 0.0, la)
            lo = np.where(bad, 0.0, lo)
        cid = s2.cell_from_latlng(la, lo, s2.MAX_LEVEL)
        out = pd.Series(s2.to_spark_i64(cid), dtype="Int64")
        out[bad] = pd.NA
        return out

    return _leaf


def s2_parent_col(leaf_col: F.Column, level: int) -> F.Column:
    """Ancestor cell id at ``level`` from a leaf-id column — pure JVM
    bit math (no UDF): ``(leaf & -lsb) | lsb`` with ``lsb =
    1 << 2*(30-level)``.  Bitwise ops act on the raw two's-complement
    bits, so the int64 reinterpretation is transparent."""
    lsb = 1 << (2 * (s2.MAX_LEVEL - level))
    return leaf_col.bitwiseAND(F.lit(-lsb)).bitwiseOR(F.lit(lsb))


def s2_prefix_key_col(cell_col: F.Column, level: int) -> F.Column:
    """Compact equi-join key for cells at ``level``: the id's top
    ``3 + 2*level`` bits (face + Hilbert prefix) = ``id >>> (61 −
    2*level)``.  Accepts leaf ids or any-level ancestor ids — the
    bits below the prefix (deeper pos pairs, or sentinel+zeros) shift
    away either way.

    Why not join on the parent cell id directly?  Every id at one
    level shares IDENTICAL low bits (sentinel followed by zeros), so
    a long-keyed hash relation clusters into collision chains and the
    broadcast probe degrades to linear scans — measured 5× slower on
    the 41 M-row bench join.  The prefix key is unique per cell at a
    fixed level and carries its entropy in the low bits (dense small
    ints → the hash map's fast path).  The same lesson applies to any
    groupBy/repartition keyed by S2 cells at scale."""
    return F.shiftrightunsigned(cell_col, 61 - 2 * level)


def s2_covering_df(spark: SparkSession, polygons: list[Polygon], level: int) -> DataFrame:
    """(code, cell) covering rows at ``level``; antimeridian-crossing
    boxes (xmin > xmax) are split into two non-wrapping halves before
    the BFS covering (grid/s2.py covering_bbox is wrap-unaware)."""
    rows = []
    for p in polygons:
        for xmin, ymin, xmax, ymax in p.boxes():
            for cell in s2.covering_bbox(ymin, ymax, xmin, xmax, level):
                rows.append((p.code, int(s2.to_spark_i64(np.array([cell], dtype=np.uint64))[0])))
    pdf = pd.DataFrame(sorted(set(rows)), columns=["code", "cell"])
    pdf["cell"] = pdf["cell"].astype("int64")
    return spark.createDataFrame(pdf, "code string, cell bigint")


def s2_ring_safe_radius_m(level: int, ring: int) -> float:
    """Conservative geodesic radius FULLY covered by an S2 BFS
    ``ring`` at ``level``: any point outside ``k_ring(cell, ring)``
    is at least this far from any query inside ``cell``.

    Derivation: leaving a BFS ring crosses ring-many edge hops, but
    corner-adjacent cells are 2 hops while sharing a point, so only
    ``floor(ring/2)`` full cell-thickness layers are guaranteed;
    S2 cell thickness at ``level`` is ≥ ~0.94·2^−level rad (quadratic
    ST projection; measured min neighbor-center distance 0.95·2^−l
    across levels 4-12).  We claim 0.5·2^−level per layer — ~2×
    under the measured worst case (ring 2 ≥ 1.12·2^−l, ring 4 ≥
    2.40·2^−l, tests/test_s2.py pins this) — so the bound errs only
    toward wider rings, never toward missed neighbors."""
    return 0.5 * (ring // 2) * (2.0 ** -level) * 6371000.0


@dataclass(frozen=True)
class S2Index(CellIndex):
    """S2 cells at ``level``, joined on their compact prefix key.
    ``leaf_col`` names a stored level-30 leaf-id column (leaf computed
    once at ingest, every query derives its join level in codegen —
    zero Python on the points side)."""

    level: int
    leaf_col: str | None = None
    key = "_s2k"

    @property
    def stored(self) -> bool:
        return self.leaf_col is not None

    def keyed(self, df, lon_col, lat_col):
        leaf = self.leaf_col
        if leaf is None:
            df, leaf = df.withColumn("s2_leaf", s2_leaf_udf()(F.col(lon_col), F.col(lat_col))), "s2_leaf"
        # `cell` (the true S2 ancestor id) is the PIP output contract;
        # `_s2k` (its compact prefix form) is the join key
        return df.withColumn("cell", s2_parent_col(F.col(leaf), self.level)).withColumn(
            "_s2k", s2_prefix_key_col(F.col(leaf), self.level)
        )

    def covering(self, spark, polygons):
        return (
            s2_covering_df(spark, polygons, self.level)
            .withColumn("_s2k", s2_prefix_key_col(F.col("cell"), self.level))
            .drop("cell")
        )

    def _cell(self, lat, lon) -> int:
        return int(s2.cell_from_latlng(np.array([float(lat)]), np.array([float(lon)]), self.level)[0])

    def key_of(self, lat, lon):
        return self._cell(lat, lon) >> (61 - 2 * self.level)

    def cover_keys(self, qlat, qlon, step):
        shift = 61 - 2 * self.level
        return [c >> shift for c in s2.k_ring(self._cell(qlat, qlon), int(step))]

    def radius_step(self, radius_m, qlat):
        ring = 2
        while s2_ring_safe_radius_m(self.level, ring) < radius_m:
            ring += 2
            if ring > 512:
                raise ValueError("radius too large for this level; use a coarser level")
        return ring

    def next_step(self, step, max_step, k):
        # ≥k candidates → first ring in (step, step+2, …, max_step)
        # whose safe radius covers dk; starved → double
        covered = first_covering_step(
            F.sequence(F.lit(step), F.lit(max_step), F.lit(2)),
            lambda r: F.lit(s2_ring_safe_radius_m(self.level, 2)) * F.floor(r / 2),
            max_step,
        )
        return F.when(F.col("dk").isNotNull(), covered).otherwise(F.lit(step * 2))


def knn_join_s2(
    points: DataFrame,
    queries,
    k: int,
    level: int = 9,
    ring: int = 2,
    id_col: str = "page_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    leaf_col: str | None = None,
    auto_grow: bool = False,
    max_ring: int = 512,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Top-K nearest points per query over the S2 index — the north
    rule's "kNN via k-ring expansion with distance re-rank" on genuine
    S2 cells (``knn.index_knn_join`` over ``S2Index``).  Output:
    (query_id, rank, <id_col>, dist_m).

    Exactness contract: results are exact within
    ``s2_ring_safe_radius_m(level, ring)`` of each query.  With the
    FIXED default ring a sparse region whose true k-th neighbor lies
    beyond that radius returns nearer-ring candidates only — pass
    ``auto_grow=True`` to verify sufficiency and widen up to
    ``max_ring``.  Engine parity is pytest-pinned (tests/test_s2.py).
    """
    return index_knn_join(
        S2Index(level, leaf_col), points, queries, k, ring, max_ring,
        id_col, lon_col, lat_col, auto_grow, broadcast_queries,
    )


def radius_join_s2(
    points: DataFrame,
    queries,
    radius_m: float,
    level: int = 9,
    id_col: str = "page_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    leaf_col: str | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """All points within ``radius_m`` of each query — exact: the ring
    is the first whose ``s2_ring_safe_radius_m`` covers the radius,
    then the haversine predicate refines.  Output (query_id,
    <id_col>, dist_m)."""
    return index_radius_join(
        S2Index(level, leaf_col), points, queries, radius_m,
        id_col, lon_col, lat_col, broadcast_queries,
    )


def pip_join_s2(
    pages: DataFrame,
    polygons: list[Polygon],
    level: int = 10,
    lon_col: str = "lon",
    lat_col: str = "lat",
    leaf_col: str | None = None,
) -> DataFrame:
    """pages ⋈ polygons, S2-covered: same output contract as
    ``spatial_join.pip_join`` (pages columns + ``cell`` + ``code``).

    Pass ``leaf_col`` naming a precomputed leaf-id column (the stored
    table layout at scale: leaf computed once at ingest, every query
    derives its join level in codegen) to skip the UDF pass entirely.
    """
    index = S2Index(level, leaf_col)
    return index_pip_join(
        index, pages, index.covering(pages.sparkSession, polygons),
        refine_predicate(polygons, lon_col, lat_col), lon_col, lat_col,
    )
