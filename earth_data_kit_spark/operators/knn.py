"""Cell-index joins: kNN, radius and point-in-polygon, written once.

Every spatial join here is one algorithm over a cell index (the north
rule's "H3/S2 indexing for PIP joins and kNN by k-ring expansion with
distance re-rank"):

  1. key the points with their cell — computed in the plan, or read
     from a column stamped once at ingest;
  2. equi-join them on that key to a cover: a polygon covering (PIP)
     or each query's cells at a step (kNN, radius) — broadcast while
     the cover side is small, shuffled on the key above that;
  3. refine exactly: the PIP predicate, or the codegen'd haversine
     distance and, for kNN, one ``row_number()`` top-k (``_topk``)
     whose ≤k filter is pruned MAP-SIDE by WindowGroupLimit.

``index_pip_join``, ``index_radius_join`` and ``index_knn_join`` are
that algorithm.  A ``CellIndex`` hides the cell format: ``QuadIndex``
below (the lat/lon quadgrid of grid/cells.py), ``S2Index``
(spatial_join_s2) and ``H3Index`` (spatial_join_h3).  The public entry
points (``knn_join``, ``radius_join``, ``spatial_join.pip_join`` and
their ``_s2``/``_h3`` forms) build an index and call the core.

An index's ``step`` widens a query's cover: a ring count for the
quadgrid and S2, a cover radius in meters for H3.  ``auto_grow`` kNN
probes each query's candidate count and k-th distance, asks the index
for the step each query needs as a Column over a per-query aggregate
joined back to the query table, and reads ONE scalar per round (the
max).  The quadgrid cover is pure Column arithmetic (``query_cells``);
S2 and H3 covers expand in an Arrow UDF over the query table — either
way a million-row query table distributes like any other join side.

A plain python ``list[(qid, lat, lon)]`` of queries is accepted
everywhere and converted to a small DataFrame.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from earth_data_kit_spark.functions.columns import (
    RES_SHIFT_MULT,
    X_SHIFT_MULT,
    cell_id_col,
    haversine_m_col,
)
from earth_data_kit_spark.grid import cells
from earth_data_kit_spark.grid.cells import nx_ny

_M_PER_DEG = math.pi / 180.0 * 6371000.0  # meridional meters/degree


def queries_df(spark: SparkSession, queries) -> DataFrame:
    """Normalize the queries argument: a DataFrame with columns
    ``(query_id, qlat, qlon)`` passes through; a python list of
    ``(query_id, lat, lon)`` tuples becomes a small DataFrame."""
    if isinstance(queries, DataFrame):
        missing = {"query_id", "qlat", "qlon"} - set(queries.columns)
        if missing:
            raise ValueError(f"queries DataFrame missing columns {sorted(missing)}")
        return queries.select("query_id", "qlat", "qlon")
    return spark.createDataFrame(
        [(int(q), float(la), float(lo)) for q, la, lo in queries],
        "query_id bigint, qlat double, qlon double",
    )


def ring_for_radius(radius_m: float, res: int, at_lat: float = 0.0) -> int:
    """Smallest ring count whose cells cover a radius at a latitude.

    Sized at the WORST-case latitude reachable within the radius
    (``|lat| + radius/111320``), where the longitudinal meter-width of
    a cell is smallest — sizing at the query's own latitude under-
    covers poleward radii.  When the radius reaches the pole the ring
    spans the full longitude circle (the wrap is handled by the ring
    enumeration), so the join stays exact at any latitude."""
    cell_deg = 180.0 / (1 << res)
    nx = 2 << res
    full_lon = (nx + 1) // 2  # 2k+1 >= nx → ring covers every column
    radius_deg = radius_m / 111320.0
    lat_reach = abs(at_lat) + radius_deg
    y_ring = max(1, math.ceil(radius_deg / cell_deg))
    if lat_reach >= 89.9:
        return max(y_ring, full_lon)
    deg = radius_deg / math.cos(math.radians(lat_reach))
    return max(1, min(max(full_lon, y_ring), math.ceil(deg / cell_deg)))


def ring_for_radius_col(radius_m: float, res: int, qlat) -> "F.Column":
    """Column twin of ``ring_for_radius`` — per-query ring sizing
    inside the plan (same arithmetic term for term)."""
    cell_deg = 180.0 / (1 << res)
    nx = 2 << res
    full_lon = (nx + 1) // 2
    radius_deg = radius_m / 111320.0
    y_ring = max(1, math.ceil(radius_deg / cell_deg))
    lat_reach = F.abs(qlat) + F.lit(radius_deg)
    ring_else = F.greatest(
        F.lit(1).cast("bigint"),
        F.least(
            F.lit(max(full_lon, y_ring)).cast("bigint"),
            F.ceil(F.lit(radius_deg) / F.cos(F.radians(lat_reach)) / F.lit(cell_deg)),
        ),
    )
    return F.when(
        lat_reach >= 89.9, F.lit(max(y_ring, full_lon)).cast("bigint")
    ).otherwise(ring_else)


def query_cells(queries: DataFrame, res: int, ring) -> DataFrame:
    """k-ring cell expansion of a query table — PURE Column plan.

    ``ring`` is an int (same ring for all queries) or a Column
    (per-query, e.g. ``ring_for_radius_col``).  Enumerates
    ``span = min(2·ring+1, nx)`` columns per query as
    ``(qx - ⌊(span-1)/2⌋ + dx) mod nx`` — identical cell set to
    ``grid.cells.k_ring`` including the full-longitude wrap case,
    where every column appears exactly once — and ``2·ring+1`` rows
    clamped at the poles.  Two ``explode(sequence(...))`` nodes, no
    Python, no driver loop: the expansion runs wherever the query
    rows live (VERDICT r4 task 1)."""
    nx, ny = nx_ny(res)
    ringc = (F.lit(int(ring)) if isinstance(ring, int) else ring).cast("bigint")
    qx = F.least(
        F.greatest(
            F.floor((F.col("qlon") + 180.0) / 360.0 * nx).cast("bigint"), F.lit(0)
        ),
        F.lit(nx - 1),
    )
    qy = F.least(
        F.greatest(
            F.floor((F.lit(90.0) - F.col("qlat")) / 180.0 * ny).cast("bigint"), F.lit(0)
        ),
        F.lit(ny - 1),
    )
    span = F.least(F.lit(2).cast("bigint") * ringc + 1, F.lit(nx).cast("bigint"))
    base = queries.select(
        "query_id",
        "qlat",
        "qlon",
        qx.alias("_qx"),
        qy.alias("_qy"),
        span.alias("_span"),
        ringc.alias("_ring"),
    )
    ex = base.withColumn(
        "_dx", F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("_span") - 1))
    )
    xx = F.pmod(
        F.col("_qx") - F.floor((F.col("_span") - 1) / 2).cast("bigint") + F.col("_dx"),
        F.lit(nx).cast("bigint"),
    )
    ex = ex.withColumn("_xx", xx).withColumn(
        "_dy",
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.lit(2).cast("bigint") * F.col("_ring"))),
    )
    yy = F.col("_qy") - F.col("_ring") + F.col("_dy")
    ex = ex.withColumn("_yy", yy).where((F.col("_yy") >= 0) & (F.col("_yy") < ny))
    cell = (
        F.lit(res).cast("bigint") * F.lit(RES_SHIFT_MULT)
        + F.col("_xx") * F.lit(X_SHIFT_MULT)
        + F.col("_yy")
    )
    return ex.select("query_id", "qlat", "qlon", cell.alias("cell"))


def _safe_radius_col(qlat, r, cell_deg: float) -> "F.Column":
    """Lower bound (meters) on the distance from any query inside the
    center cell to any point OUTSIDE ring ``r`` — Column twin of the
    auto-grow exactness bound: ``(r-1)·cell_deg·m/deg·cos(edge_lat)``
    with ``edge_lat`` the highest |lat| the ring can reach."""
    rd = r.cast("double")
    edge = F.least(F.lit(89.0), F.abs(qlat) + rd * F.lit(cell_deg))
    return (
        (rd - 1.0)
        * F.lit(cell_deg)
        * F.lit(_M_PER_DEG)
        * F.least(F.lit(1.0), F.cos(F.radians(edge)))
    )


def first_covering_step(steps: Column, safe_radius, max_step) -> Column:
    """First element of the ``steps`` sequence whose guaranteed radius
    ``safe_radius(step)`` covers the k-th distance ``dk`` — exact
    parity with a linear scan; ``max_step`` when none does.
    ``try_element_at``: the satisfying array is EMPTY when no step in
    range covers dk (ANSI ``element_at`` would throw)."""
    sat = F.filter(steps, lambda r: safe_radius(r) >= F.col("dk"))
    return F.coalesce(F.try_element_at(sat, F.lit(1)), F.lit(max_step))


class CellIndex:
    """One cell scheme behind the shared joins.

    ``key`` names the join-key column both join sides carry;
    ``stored`` is true when the points-side key is read from a stored
    column instead of computed in the plan.  Subclasses provide:

    * ``keyed(df, lon_col, lat_col)`` — ``df`` plus the ``key`` column;
    * ``covering(spark, polygons)`` — (code, key) rows, a superset of
      the cells of every polygon point;
    * ``key_of(lat, lon)`` — one point's key, driver side;
    * ``cover_keys(qlat, qlon, step)`` — the keys of one query's cover
      at ``step``: every point within the step's guaranteed radius of
      the query has its key in it (the exactness contract,
      tests/test_properties.py);
    * ``radius_step(radius_m, qlat)`` — a step whose guaranteed radius
      covers ``radius_m`` (``qlat`` a float, or the query Column);
    * ``next_step(step, max_step, k)`` — the auto-grow rule: the step
      each query needs as a Column of its candidate count ``n`` and
      k-th distance ``dk`` at ``step`` (``dk`` NULL below k)."""

    key = "cell"
    stored = False

    def points(self, df: DataFrame, id_col: str, lon_col: str, lat_col: str) -> DataFrame:
        """(id, lon, lat, key) — narrow BEFORE the join, so the
        candidate stream and top-k shuffle carry 4 columns, not the
        full page row."""
        return self.keyed(df, lon_col, lat_col).select(id_col, lon_col, lat_col, self.key)

    def cover(self, queries: DataFrame, step) -> DataFrame:
        """(query_id, qlat, qlon, key): each query's cover at ``step``,
        ``cover_keys`` in an Arrow UDF over the QUERY table + explode."""

        @pandas_udf("array<long>")
        def _cover(qlat: pd.Series, qlon: pd.Series) -> pd.Series:
            return pd.Series([self.cover_keys(la, lo, step) for la, lo in zip(qlat, qlon)])

        return queries.select(
            "query_id",
            "qlat",
            "qlon",
            F.explode(_cover(F.col("qlat"), F.col("qlon"))).alias(self.key),
        )

    def prefilter(self, query_list, step):
        """Keys to filter the points by before the join, or None."""
        return None


@dataclass(frozen=True)
class QuadIndex(CellIndex):
    """The quadgrid at ``res`` (grid/cells.py): steps are ring counts,
    the cover is pure Column arithmetic (``query_cells``).  ``cell_col``
    names a PRECOMPUTED cell column at this ``res`` (the stored-index
    layout — cell stamped once at ingest), in which case the scan
    carries zero per-query index math."""

    res: int
    cell_col: str | None = None

    @property
    def stored(self) -> bool:
        return self.cell_col is not None

    def keyed(self, df, lon_col, lat_col):
        if self.stored:
            return df.withColumn("cell", F.col(self.cell_col))
        return df.withColumn("cell", cell_id_col(F.col(lon_col), F.col(lat_col), self.res))

    def covering(self, spark, polygons):
        from earth_data_kit_spark.operators import spatial_join

        return spatial_join.covering_df(spark, polygons, self.res)

    def key_of(self, lat, lon):
        return cells.cell_id_single(lon, lat, self.res)

    def cover_keys(self, qlat, qlon, step):
        # k_ring is parity-tested against query_cells incl. the wrap cases
        return cells.k_ring(self.key_of(qlat, qlon), step)

    def cover(self, queries, step):
        return query_cells(queries, self.res, step)

    def prefilter(self, query_list, step):
        """A LIST query batch keeps its ring cells driver-side: an
        IN-list on a stored cell column reaches the parquet scan
        (PushedFilters), so a cell-sorted index layout skips whole row
        groups before the join.  None when the expansion would be
        large or the queries are a DataFrame (cells computed in the
        plan, never on the driver)."""
        if query_list is None or len(query_list) * (2 * step + 1) ** 2 > 200_000:
            return None
        return sorted({c for _qid, qlat, qlon in query_list for c in self.cover_keys(qlat, qlon, step)})

    def radius_step(self, radius_m, qlat):
        if isinstance(qlat, Column):
            return ring_for_radius_col(radius_m, self.res, qlat)
        return ring_for_radius(radius_m, self.res, at_lat=qlat)

    def next_step(self, step, max_step, k):
        # ≥k candidates → smallest ring in [step, max_step] whose safe
        # radius covers dk; starved → scale by sqrt(k/n) (candidates
        # grow ~ring²)
        cell_deg = 180.0 / (1 << self.res)
        covered = first_covering_step(
            F.sequence(F.lit(step), F.lit(max_step)),
            lambda r: _safe_radius_col(F.col("qlat"), r, cell_deg),
            max_step,
        )
        n = F.greatest(F.coalesce(F.col("n"), F.lit(0)), F.lit(1)).cast("double")
        grow = F.greatest(F.lit(2.0), F.sqrt((F.lit(k) + 1.0) / n))
        return F.when(F.col("dk").isNotNull(), covered).otherwise(F.ceil(F.lit(step) * grow))


def _dist_col(lat_col: str, lon_col: str) -> Column:
    return haversine_m_col(F.col("qlat"), F.col("qlon"), F.col(lat_col), F.col(lon_col))


def _join(index: CellIndex, left: DataFrame, right: DataFrame, broadcast: bool) -> DataFrame:
    return left.join(F.broadcast(right) if broadcast else right, index.key)


def index_pip_join(
    index: CellIndex,
    pages: DataFrame,
    covering: DataFrame,
    refine: Column,
    lon_col: str,
    lat_col: str,
    broadcast: bool = True,
) -> DataFrame:
    """pages ⋈ covering on the index key, then the exact ``refine``
    predicate — the covering only has to be a superset, the refine is
    what defines the semantics.  Output: pages columns + ``cell`` +
    ``code``."""
    cand = _join(index, index.keyed(pages, lon_col, lat_col), covering, broadcast)
    if index.key != "cell":
        cand = cand.drop(index.key)
    return cand.where(refine)


def index_radius_join(
    index: CellIndex,
    points: DataFrame,
    queries,
    radius_m: float,
    id_col: str,
    lon_col: str,
    lat_col: str,
    broadcast_queries: bool,
) -> DataFrame:
    """All points within ``radius_m`` of each query — exact: each
    query's cover is taken at the index's ``radius_step`` and the
    haversine filter refines.  Output: (query_id, <id_col>, dist_m)."""
    qdf = queries_df(points.sparkSession, queries)
    cover = index.cover(qdf, index.radius_step(radius_m, F.col("qlat")))
    return (
        _join(index, index.points(points, id_col, lon_col, lat_col), cover, broadcast_queries)
        .withColumn("dist_m", _dist_col(lat_col, lon_col))
        .where(F.col("dist_m") <= radius_m)
        .select("query_id", id_col, "dist_m")
    )


def index_knn_join(
    index: CellIndex,
    points: DataFrame,
    queries,
    k: int,
    step,
    max_step,
    id_col: str,
    lon_col: str,
    lat_col: str,
    auto_grow: bool,
    broadcast_queries: bool,
) -> DataFrame:
    """Top-K nearest points per query over ``index`` → (query_id, rank,
    <id_col>, dist_m).  Exact within the guaranteed radius of ``step``;
    ``auto_grow`` widens the step until every query's k-th distance is
    inside it (capped at ``max_step``)."""
    query_list = None if isinstance(queries, DataFrame) else list(queries)
    qdf = queries_df(points.sparkSession, queries if query_list is None else query_list)
    pts = index.points(points, id_col, lon_col, lat_col)
    dist = _dist_col(lat_col, lon_col)

    def cand(s) -> DataFrame:
        keys = index.prefilter(query_list, s)
        p = pts if keys is None else pts.where(F.col(index.key).isin(keys))
        return _join(index, p, index.cover(qdf, s), broadcast_queries)

    # the growth loop re-joins the points once per round: a key computed
    # in the plan is persisted so every probe reads the in-memory columns
    # instead of recomputing it; a stored key is re-read from the
    # (pruned) scan, never cached whole.  The cache lives exactly as long
    # as the loop — the returned lazy DataFrame re-scans the source once,
    # like the non-auto-grow path, instead of pinning executor memory.
    cache = auto_grow and not index.stored
    if cache:
        pts.persist()
    try:
        while auto_grow and step < max_step:
            # ONE job per round: per-query candidate count (plain hash
            # agg — map-side partial, no skew) and k-th distance (via
            # _topk's map-side-pruned window, never an unpruned window
            # that would funnel a dense cell into one partition),
            # LEFT-joined back to the query table so zero-candidate
            # queries surface as starved; one MAX scalar collected.
            scored = cand(step).withColumn("dist_m", dist)
            n_df = scored.groupBy("query_id").agg(F.count("*").alias("n"))
            dk_df = (
                _topk(scored.select("query_id", id_col, "dist_m"), k, id_col)
                .where(F.col("rank") == k)
                .select("query_id", F.col("dist_m").alias("dk"))
            )
            full = qdf.join(n_df, "query_id", "left").join(dk_df, "query_id", "left")
            need = full.agg(F.max(index.next_step(step, max_step, k)).alias("need")).first()["need"]
            if need is None or need <= step:
                break
            step = min(max_step, need)
    finally:
        if cache:
            pts.unpersist()
    scored = cand(step).withColumn("dist_m", dist).select("query_id", id_col, "dist_m")
    return _topk(scored, k, id_col)


def knn_join(
    points: DataFrame,
    queries,
    k: int,
    res: int = 7,
    ring: int = 2,
    id_col: str = "page_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    auto_grow: bool = False,
    max_ring: int = 64,
    broadcast_queries: bool = True,
    cell_col: str | None = None,
) -> DataFrame:
    """Top-K nearest points per query over the quadgrid → columns
    (query_id, rank, <id_col>, dist_m).  ``queries`` is a DataFrame
    ``(query_id, qlat, qlon)`` (table-to-table join — distributes at
    any query count) or a python list of tuples (converted).  Exact
    within the ring radius; ``auto_grow`` verifies sufficiency per
    query and widens up to ``max_ring`` (``index_knn_join``).
    ``broadcast_queries=False`` switches the candidate join to a
    shuffle on ``cell`` for query tables too large to broadcast.
    ``cell_col`` names a stored cell column at this ``res``
    (``QuadIndex``)."""
    return index_knn_join(
        QuadIndex(res, cell_col), points, queries, k, ring, max_ring,
        id_col, lon_col, lat_col, auto_grow, broadcast_queries,
    )


def _topk(
    scored: DataFrame,
    k: int,
    id_col: str,
    qid_col: str = "query_id",
    order_col: str = "dist_m",
    descending: bool = False,
) -> DataFrame:
    """Top-k per query — one window, pruned map-side by Spark's
    ``WindowGroupLimit`` (SPARK-37099, 3.5+): a ``row_number() ≤ k``
    filter makes every MAP partition sort its slice and keep only its
    own top-k per query BEFORE the exchange, so the per-query final
    partition receives ≤ k·M rows (M = map partitions), never the
    full candidate set — the skew funnel a bare window had on 3.4-.

    r7 measurement (plans/r07/knn_{before,after}.txt; 16.4M candidates,
    two of ten queries hot): the r2-era two-level bucketed form —
    level-1 window over (query_id, pmod(xxhash64(id), B)) then a
    final rank — measured 3.30 s vs 2.14 s for this single window,
    because WindowGroupLimit already does the map-side reduction the
    bucket level re-implemented, while the bucket level let k·B·M
    rows through its exchange (B× more shuffle) and paid a second
    sort of k·B·M rows.  At-scale arithmetic: with M = 10⁶ map
    partitions and k = 10 the final per-query partition is ≤ 10⁷
    narrow rows (~240 MB) — one bounded sort task per query, and
    strictly FEWER shuffled bytes than the two-level form's k·B·M.
    """
    oc = F.col(order_col).desc() if descending else F.col(order_col).asc()
    order = [oc, F.col(id_col).asc()]
    w = Window.partitionBy(qid_col).orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid_col, "rank", id_col, order_col)
    )


def radius_join(
    points: DataFrame,
    queries,
    radius_m: float,
    res: int = 7,
    id_col: str = "page_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Range join over the quadgrid: all points within ``radius_m`` of
    each query — exact, because each query's ring is sized IN the plan
    to cover the radius at its latitude (``ring_for_radius_col``) and
    the haversine filter refines.  ``queries`` is a DataFrame or a
    list; with a DataFrame the ring expansion is Column-only, so the
    join distributes at any query count.  Output: (query_id,
    <id_col>, dist_m)."""
    return index_radius_join(
        QuadIndex(res), points, queries, radius_m, id_col, lon_col, lat_col, broadcast_queries
    )


def knn_brute_force(
    points: DataFrame,
    queries,
    k: int,
    id_col: str = "page_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """O(points × queries) oracle: broadcast the queries, window topk.
    Also the correct plan when queries are few and no cell index
    exists yet (one scan, no index build)."""
    spark = points.sparkSession
    qdf = queries_df(spark, queries)
    scored = (
        points.crossJoin(F.broadcast(qdf))
        .withColumn("dist_m", _dist_col(lat_col, lon_col))
        .select("query_id", id_col, "dist_m")
    )
    return _topk(scored, k, id_col)
