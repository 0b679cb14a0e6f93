"""Property-based tests (hypothesis) over the pure grid core — the
invariants every spatial operator leans on."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from earth_data_kit_spark.grid import affine, cells, geom, transform

lat_st = st.floats(min_value=-90.0, max_value=90.0, allow_nan=False)
lon_st = st.floats(min_value=-180.0, max_value=180.0, allow_nan=False)
res_st = st.integers(min_value=0, max_value=cells.RES_MAX)


@settings(max_examples=200, deadline=None)
@given(lon=lon_st, lat=lat_st, res=res_st)
def test_point_maps_into_own_cell_bounds(lon, lat, res):
    cid = cells.cell_id_single(lon, lat, res)
    w, s, e, n = cells.cell_bounds(cid)
    # half-open [w, e) × (s, n]; boundary clamping at the globe edge
    assert w - 1e-9 <= lon <= e + 1e-9
    assert s - 1e-9 <= lat <= n + 1e-9


@settings(max_examples=200, deadline=None)
@given(lon=lon_st, lat=lat_st, res=st.integers(min_value=1, max_value=cells.RES_MAX))
def test_parent_contains_child(lon, lat, res):
    cid = cells.cell_id_single(lon, lat, res)
    p = int(cells.parent(np.array([cid]))[0])
    assert cells.cell_id_single(lon, lat, res - 1) == p
    assert cid in cells.children(p)


@settings(max_examples=100, deadline=None)
@given(
    x1=lon_st, x2=lon_st, y1=lat_st, y2=lat_st,
    res=st.integers(min_value=0, max_value=8),
)
def test_covering_contains_interior_points(x1, x2, y1, y2, res):
    xmin, xmax = sorted((x1, x2))
    ymin, ymax = sorted((y1, y2))
    cov = set(cells.covering_bbox(xmin, ymin, xmax, ymax, res))
    # center of the box is covered
    cx, cy = (xmin + xmax) / 2, (ymin + ymax) / 2
    assert cells.cell_id_single(cx, cy, res) in cov


@settings(max_examples=200, deadline=None)
@given(lon=lon_st, lat=lat_st)
def test_haversine_bounds_and_symmetry(lon, lat):
    d = float(geom.haversine_m(lat, lon, 0.0, 0.0))
    assert 0.0 <= d <= np.pi * geom.EARTH_RADIUS_M + 1.0  # ≤ half circumference
    d2 = float(geom.haversine_m(0.0, 0.0, lat, lon))
    assert abs(d - d2) < 1e-6


@settings(max_examples=200, deadline=None)
@given(lon=st.floats(min_value=-179.9, max_value=179.9, allow_nan=False),
       lat=st.floats(min_value=-85.0, max_value=85.0, allow_nan=False))
def test_projection_roundtrips(lon, lat):
    for crs in (transform.SINUSOIDAL, transform.WEB_MERCATOR):
        x, y = transform.forward(crs, [lon], [lat])
        lon2, lat2 = transform.inverse(crs, x, y)
        assert abs(float(lon2[0]) - lon) < 1e-9
        assert abs(float(lat2[0]) - lat) < 1e-9


@settings(max_examples=100, deadline=None)
@given(
    x0=st.floats(min_value=-1e7, max_value=1e7, allow_nan=False),
    y0=st.floats(min_value=-1e7, max_value=1e7, allow_nan=False),
    res=st.floats(min_value=0.1, max_value=10000.0, allow_nan=False),
    xs=st.integers(min_value=1, max_value=10000),
    ys=st.integers(min_value=1, max_value=10000),
)
def test_extent_consistency(x0, y0, res, xs, ys):
    gt = (x0, res, 0.0, y0, 0.0, -res)
    xmin, ymin, xmax, ymax = affine.extent_from_geotransform(gt, xs, ys)
    assert xmin == x0 and ymax == y0
    assert xmax > xmin and ymax > ymin
    # a tile placed in a mosaic of itself sits at (0, 0) with its own size
    p = affine.tile_placement((xmin, ymin, xmax, ymax), (xmin, ymin, xmax, ymax), res, -res, xs, ys)
    assert p == (0, 0, 0, 0, xs, ys)
    assert affine.mosaic_size((xmin, ymin, xmax, ymax), res, -res) == (xs, ys)


@settings(max_examples=200, deadline=None)
@given(
    lons=st.lists(lon_st, min_size=1, max_size=20),
    lats=st.lists(lat_st, min_size=1, max_size=20),
)
def test_pip_agrees_with_bbox_for_rectangles(lons, lats):
    n = min(len(lons), len(lats))
    lo = np.array(lons[:n])
    la = np.array(lats[:n])
    rect = np.array([(-30.0, -10.0), (40.0, -10.0), (40.0, 25.0), (-30.0, 25.0)])
    pip = geom.point_in_ring(lo, la, rect)
    bbox = (lo > -30.0) & (lo < 40.0) & (la > -10.0) & (la < 25.0)
    # boundary-exact points may differ; hypothesis floats rarely hit
    # the boundary — treat strict interior/exterior only
    interior = (np.abs(lo + 30) > 1e-9) & (np.abs(lo - 40) > 1e-9) & (np.abs(la + 10) > 1e-9) & (np.abs(la - 25) > 1e-9)
    assert (pip[interior] == bbox[interior]).all()


def _index_for(engine: str, res: int, radius_m: float):
    """The cell index a join over ``engine`` would use at this radius:
    the quadgrid at ``res``; S2 at the coarsest level whose 2-ring
    covers the radius (the level the geo_queries radius workload
    picks) or up to two levels finer; H3 at ``res_for_radius`` (the
    H3 joins' default)."""
    import math

    from earth_data_kit_spark.operators.knn import QuadIndex
    from earth_data_kit_spark.operators.spatial_join_h3 import H3Index, res_for_radius
    from earth_data_kit_spark.operators.spatial_join_s2 import S2Index

    if engine == "quadgrid":
        return QuadIndex(res)
    if engine == "s2":
        return S2Index(max(2, int(math.log2(6371000.0 / radius_m)) - 1 + (res - 4) // 2))
    return H3Index(res_for_radius(radius_m))


@given(
    qlat=st.floats(-89.0, 89.0),
    qlon=st.floats(-180.0, 179.999),
    radius_m=st.floats(1_000.0, 2_000_000.0),
    bearing=st.floats(0.0, 360.0),
    frac=st.floats(0.0, 1.0),
    res=st.integers(4, 8),
    engine=st.sampled_from(["quadgrid", "s2", "h3"]),
)
@settings(max_examples=300, deadline=None)
def test_ring_for_radius_covers_every_in_radius_point(qlat, qlon, radius_m, bearing, frac, res, engine):
    """Exactness contract of every cell index (quadgrid, S2, H3) at ANY
    latitude (the polar fix): a point at distance frac·radius along any
    bearing must land in a cell of the query's cover at the index's
    ``radius_step(radius)`` — the step radius_join uses (for S2 and H3
    also the guaranteed radius their auto-grow kNN relies on)."""
    import math

    d = radius_m * frac
    br = math.radians(bearing)
    lat1, lon1 = math.radians(qlat), math.radians(qlon)
    ang = d / 6371000.0
    lat2 = math.asin(
        math.sin(lat1) * math.cos(ang) + math.cos(lat1) * math.sin(ang) * math.cos(br)
    )
    lon2 = lon1 + math.atan2(
        math.sin(br) * math.sin(ang) * math.cos(lat1),
        math.cos(ang) - math.sin(lat1) * math.sin(lat2),
    )
    plat = math.degrees(lat2)
    plon = (math.degrees(lon2) + 540.0) % 360.0 - 180.0

    # haversine distance of the destination point (numerical drift in
    # the forward geodesic can overshoot the nominal radius slightly)
    actual = geom.haversine_m(qlat, qlon, np.array([plat]), np.array([plon]))[0]
    if actual > radius_m:
        return

    index = _index_for(engine, res, radius_m)
    step = index.radius_step(radius_m, qlat)
    cover = set(index.cover_keys(qlat, qlon, step))
    assert index.key_of(plat, plon) in cover, (
        engine, index, qlat, qlon, radius_m, plat, plon, step
    )


@given(
    st.floats(min_value=-2.9, max_value=2.9),   # offset from central meridian
    st.floats(min_value=-80.0, max_value=84.0),  # UTM latitude domain
    st.integers(min_value=1, max_value=60),
)
@settings(max_examples=200, deadline=None)
def test_utm_roundtrip_and_hemispheres(dlon, lat, zone):
    lon = transform.utm_central_meridian(zone) + dlon
    south = lat < 0
    e, n = transform.utm_forward(lon, lat, zone, south=south)
    lon2, lat2 = transform.inverse(
        f"EPSG:{327 if south else 326}{zone:02d}", e, n
    )
    assert abs(float(lon2) - lon) < 1e-7 and abs(float(lat2) - lat) < 1e-7
    assert 0 <= float(n) <= 10_000_000 + 1  # false northing keeps N positive


def test_utm_known_vectors():
    """Published anchors: the zone origin maps to (500000, 0) exactly;
    the CN Tower (43.642567N, 79.387139W — the standard UTM worked
    example) lands at 630084 E, 4833439 N zone 17N within 1 m."""
    e, n = transform.utm_forward(3.0, 0.0, 31)
    assert float(e) == pytest.approx(500_000.0, abs=1e-6)
    assert float(n) == pytest.approx(0.0, abs=1e-6)
    e, n = transform.forward("EPSG:32617", -79.387139, 43.642567)
    assert float(e) == pytest.approx(630_084.3, abs=1.0)
    assert float(n) == pytest.approx(4_833_438.6, abs=1.0)
    with pytest.raises(ValueError):
        transform.forward("EPSG:32661", 0, 0)  # polar stereographic ≠ UTM
    with pytest.raises(ValueError):
        transform.utm_central_meridian(0)
