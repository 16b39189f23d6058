"""Vectorized numpy geodesy — the exact-refinement kernel of the engine.

The reference delegates spatial predicates to PostGIS geography functions
(`ST_DWithin`/`ST_Buffer`/`ST_Distance`, reference
openpoiservice/server/api/query_builder.py:86,98,119-138).  PostGIS geography
measures meters on the WGS84 spheroid.  This module re-implements the needed
subset in pure numpy; functions.make_refine_udf / make_distance_udf compile
the same arithmetic, operation for operation, into native Spark SQL:

  * point-to-point distance: haversine on the IUGG mean-radius sphere
    (deviation from spheroidal geodesics < 0.6%%, asserted over the admitted
    request envelope in tests/test_kernels.py — membership parity is
    guaranteed by the fixture synthesizer, which keeps every test point
    >= 1.5 m away from any decision boundary; see FIXTURES.md §4).  For
    PostGIS-geography-EXACT output distances, `vincenty_m` implements the
    WGS84 spheroidal inverse (make_distance_udf(spec, spheroid=True), an
    Arrow pandas UDF; PoiEngine(spheroid_distance=True)).  This is the one
    statement of the bound and of the option; other docstrings refer here.
  * point-to-linestring / point-to-polygon distance: planar math in a local
    equirectangular projection centred on the query geometry (error << 1 m
    at the <= 2 km extents admitted by the reference's own request caps,
    reference views.py:243-294).
  * point-in-polygon: vectorized ray casting (even-odd rule) over all query
    points at once — N points x M edges as one numpy broadcast.

Everything here is deliberately free of Spark imports: the functions take and
return numpy arrays so they are unit-testable without a JVM and reusable in
the batch-join pandas UDFs, the driver's distance recompute and the
brute-force oracle used by the tests.
"""

from __future__ import annotations

import numpy as np

#: IUGG mean Earth radius in meters.
EARTH_RADIUS_M = 6371008.8

#: meters per degree of latitude on the mean-radius sphere.
M_PER_DEG_LAT = EARTH_RADIUS_M * np.pi / 180.0  # ~111194.93


def haversine_m(lon1, lat1, lon2, lat2):
    """Great-circle distance in meters; all args broadcastable arrays (deg)."""
    lon1, lat1, lon2, lat2 = (np.asarray(a, dtype=np.float64) for a in (lon1, lat1, lon2, lat2))
    rl1, rl2 = np.radians(lat1), np.radians(lat2)
    dlat = rl2 - rl1
    dlon = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dlat / 2.0) ** 2 + np.cos(rl1) * np.cos(rl2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.minimum(1.0, np.sqrt(a)))


#: WGS84 ellipsoid (PostGIS geography's datum).
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_B = WGS84_A * (1.0 - WGS84_F)


def vincenty_m(lon1, lat1, lon2, lat2, iters: int = 50, tol: float = 1e-12):
    """WGS84 spheroidal inverse distance (Vincenty 1975), vectorized.

    Parity target: PostGIS geography ST_Distance (reference
    query_builder.py:98 measures meters on the WGS84 spheroid).  Standard
    published iteration; entries that fail to converge within `iters`
    (near-antipodal pairs, ~0.002% of the sphere — never reachable through
    the service's 2 km-buffer / 50 km²-area request caps) fall back to
    haversine (bound in the module docstring).
    """
    lon1, lat1, lon2, lat2 = (
        np.atleast_1d(np.asarray(x, dtype=np.float64)) for x in (lon1, lat1, lon2, lat2)
    )
    lon1, lat1, lon2, lat2 = np.broadcast_arrays(lon1, lat1, lon2, lat2)
    U1 = np.arctan((1.0 - WGS84_F) * np.tan(np.radians(lat1)))
    U2 = np.arctan((1.0 - WGS84_F) * np.tan(np.radians(lat2)))
    L = np.radians(lon2 - lon1)
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)

    lam = L.copy()
    sin_sig = np.zeros_like(L)
    cos_sig = np.ones_like(L)
    sigma = np.zeros_like(L)
    sin_alpha = np.zeros_like(L)
    cos2_alpha = np.ones_like(L)
    cos_2sigm = np.zeros_like(L)
    converged = np.zeros(L.shape, dtype=bool)
    for _ in range(iters):
        sin_lam, cos_lam = np.sin(lam), np.cos(lam)
        sin_sig_i = np.sqrt(
            (cosU2 * sin_lam) ** 2 + (cosU1 * sinU2 - sinU1 * cosU2 * cos_lam) ** 2
        )
        cos_sig_i = sinU1 * sinU2 + cosU1 * cosU2 * cos_lam
        sigma_i = np.arctan2(sin_sig_i, cos_sig_i)
        with np.errstate(divide="ignore", invalid="ignore"):
            sin_alpha_i = np.where(sin_sig_i > 0, cosU1 * cosU2 * sin_lam / sin_sig_i, 0.0)
            cos2_alpha_i = 1.0 - sin_alpha_i**2
            cos_2sigm_i = np.where(
                cos2_alpha_i > 0, cos_sig_i - 2.0 * sinU1 * sinU2 / cos2_alpha_i, 0.0
            )
        C = WGS84_F / 16.0 * cos2_alpha_i * (4.0 + WGS84_F * (4.0 - 3.0 * cos2_alpha_i))
        lam_new = L + (1.0 - C) * WGS84_F * sin_alpha_i * (
            sigma_i + C * sin_sig_i * (
                cos_2sigm_i + C * cos_sig_i * (-1.0 + 2.0 * cos_2sigm_i**2))
        )
        # freeze every per-element quantity at its own convergence: each
        # element's result is a function of its inputs only, independent of
        # batch composition (Arrow batch boundaries must not perturb
        # outputs, even at the 1e-8 m level)
        upd = ~converged
        sin_sig = np.where(upd, sin_sig_i, sin_sig)
        cos_sig = np.where(upd, cos_sig_i, cos_sig)
        sigma = np.where(upd, sigma_i, sigma)
        cos2_alpha = np.where(upd, cos2_alpha_i, cos2_alpha)
        cos_2sigm = np.where(upd, cos_2sigm_i, cos_2sigm)
        converged |= upd & (np.abs(lam_new - lam) < tol)
        lam = np.where(upd, lam_new, lam)
        if converged.all():
            break

    u2 = cos2_alpha * (WGS84_A**2 - WGS84_B**2) / WGS84_B**2
    A = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)))
    B = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
    dsig = B * sin_sig * (
        cos_2sigm
        + B / 4.0 * (
            cos_sig * (-1.0 + 2.0 * cos_2sigm**2)
            - B / 6.0 * cos_2sigm * (-3.0 + 4.0 * sin_sig**2) * (-3.0 + 4.0 * cos_2sigm**2)
        )
    )
    s = WGS84_B * A * (sigma - dsig)
    s = np.where(sin_sig == 0, 0.0, s)  # coincident points
    if not converged.all():
        fb = haversine_m(lon1, lat1, lon2, lat2)
        s = np.where(converged | (sin_sig == 0), s, fb)
    return s


def local_xy(lon, lat, lon0: float, lat0: float):
    """Project (lon, lat) to meters in an equirectangular plane at (lon0, lat0).

    The lon delta is wrapped into (-180, 180], so geometries specified in a
    continuous frame across the antimeridian (e.g. a bbox ring running
    170..190, see bbox_spec) measure correctly against data longitudes in
    [-180, 180).  Ordinary geometries (<180 deg extent) are unaffected."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    dlon = lon - lon0
    # wrap only genuinely-crossing deltas: the plain difference stays
    # bit-identical for every in-range geometry (frozen goldens), while
    # mod() would perturb it by ~1 ulp everywhere
    if np.any(np.abs(dlon) > 180.0):
        dlon = np.where(np.abs(dlon) > 180.0,
                        np.mod(dlon + 180.0, 360.0) - 180.0, dlon)
    x = dlon * M_PER_DEG_LAT * np.cos(np.radians(lat0))
    y = (lat - lat0) * M_PER_DEG_LAT
    return x, y


def destination(lon: float, lat: float, bearing_deg: float, dist_m: float):
    """Spherical forward: point at `dist_m` along `bearing_deg` from (lon, lat).

    Used only by the fixture synthesizer (FIXTURES.md placement rule); the
    engine itself never needs a forward solve.
    """
    br = np.radians(bearing_deg)
    d = dist_m / EARTH_RADIUS_M
    la1 = np.radians(lat)
    lo1 = np.radians(lon)
    la2 = np.arcsin(np.sin(la1) * np.cos(d) + np.cos(la1) * np.sin(d) * np.cos(br))
    lo2 = lo1 + np.arctan2(
        np.sin(br) * np.sin(d) * np.cos(la1),
        np.cos(d) - np.sin(la1) * np.sin(la2),
    )
    return float(np.degrees(lo2)), float(np.degrees(la2))


def _segments_xy(coords_xy: np.ndarray):
    """(M,2) vertex array -> (a, b) endpoint arrays of the M-1 segments."""
    return coords_xy[:-1], coords_xy[1:]


def dist_to_segments_m(px, py, coords_xy: np.ndarray):
    """Min distance from each point (px[i], py[i]) to a polyline, planar meters.

    px, py: (N,) point coords in the local plane.
    coords_xy: (M, 2) polyline vertices in the same plane.
    Fully vectorized: (N, M-1) broadcast, no Python loops over points.
    """
    px = np.asarray(px, dtype=np.float64)[:, None]  # (N,1)
    py = np.asarray(py, dtype=np.float64)[:, None]
    a, b = _segments_xy(np.asarray(coords_xy, dtype=np.float64))
    ax, ay = a[:, 0][None, :], a[:, 1][None, :]  # (1,M-1)
    dx, dy = (b - a)[:, 0][None, :], (b - a)[:, 1][None, :]
    seg_len2 = dx * dx + dy * dy
    # parameter of the projection of p onto each segment, clamped to [0,1]
    t = ((px - ax) * dx + (py - ay) * dy) / np.where(seg_len2 > 0.0, seg_len2, 1.0)
    t = np.clip(t, 0.0, 1.0)
    cx = ax + t * dx
    cy = ay + t * dy
    d2 = (px - cx) ** 2 + (py - cy) ** 2
    return np.sqrt(d2.min(axis=1))


def point_in_ring(px, py, ring_xy: np.ndarray):
    """Even-odd ray cast: True where (px[i], py[i]) is inside the ring.

    ring_xy: (M, 2) closed or open ring (closing edge added if missing).
    Boundary points are implementation-defined (fixtures keep a >= 1.5 m
    margin from every boundary, FIXTURES.md §4, so this never matters).
    """
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    ring = np.asarray(ring_xy, dtype=np.float64)
    if not np.array_equal(ring[0], ring[-1]):
        ring = np.vstack([ring, ring[:1]])
    x1, y1 = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    x2, y2 = ring[1:, 0][None, :], ring[1:, 1][None, :]
    # edge straddles the horizontal ray through py
    straddle = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_int = x1 + (py - y1) * (x2 - x1) / np.where((y2 - y1) != 0.0, (y2 - y1), 1.0)
    crossings = straddle & (px < x_int)
    return (crossings.sum(axis=1) % 2).astype(bool)


def _closed(xy: np.ndarray) -> np.ndarray:
    """Ring with an explicit closing edge (appended if missing)."""
    if not np.array_equal(xy[0], xy[-1]):
        return np.vstack([xy, xy[:1]])
    return xy


def _shoelace_m2(xy: np.ndarray) -> float:
    xy = _closed(xy)
    x, y = xy[:-1, 0], xy[:-1, 1]
    x2, y2 = xy[1:, 0], xy[1:, 1]
    return float(abs(0.5 * np.sum(x * y2 - x2 * y)))


class GeomSpec:
    """A compiled query geometry: the engine's shapely-free analogue of the
    reference's parsed GeoJSON (reference views.py:219-241).

    kind: 'point' | 'linestring' | 'polygon'
    coords: (M, 2) lon/lat array (polygon = outer ring).
    holes: optional interior rings (polygon only) — the reference parses
           GeoJSON through shapely shape() which preserves holes
           (views.py:228-233), and PostGIS ST_DWithin excludes hole
           interiors; membership/distance here match that: a point inside a
           hole is OUTSIDE the polygon, its distance is the distance to the
           nearest ring (outer or hole boundary).
    The local plane is centred on the outer coords centroid.
    """

    def __init__(self, kind: str, coords, holes=None):
        self.kind = kind
        self.coords = np.asarray(coords, dtype=np.float64).reshape(-1, 2)
        self.lon0 = float(self.coords[:, 0].mean())
        self.lat0 = float(self.coords[:, 1].mean())
        self._xy = np.column_stack(
            local_xy(self.coords[:, 0], self.coords[:, 1], self.lon0, self.lat0)
        )
        if holes and kind != "polygon":
            raise ValueError("holes are only valid for polygon geometry")
        self.holes = [np.asarray(h, dtype=np.float64).reshape(-1, 2) for h in (holes or [])]
        self._holes_xy = [
            _closed(np.column_stack(local_xy(h[:, 0], h[:, 1], self.lon0, self.lat0)))
            for h in self.holes
        ]

    def distance_m(self, lon, lat, spheroid: bool = False):
        """Vectorized distance (m) from query points to this geometry.

        Matches PostGIS ST_Distance semantics: 0 inside a polygon, geodesic
        meters otherwise (reference query_builder.py:86,98).  Point geometry
        uses haversine (`spheroid=True`: WGS84 Vincenty; see the module
        docstring); extended geometry uses the local plane.
        """
        lon = np.asarray(lon, dtype=np.float64)
        lat = np.asarray(lat, dtype=np.float64)
        if self.kind == "point":
            fn = vincenty_m if spheroid else haversine_m
            return fn(lon, lat, self.coords[0, 0], self.coords[0, 1])
        px, py = local_xy(lon, lat, self.lon0, self.lat0)
        if self.kind == "linestring":
            return dist_to_segments_m(px, py, self._xy)
        if self.kind == "polygon":
            d = dist_to_segments_m(px, py, self._xy)
            inside = point_in_ring(px, py, self._xy)
            for hxy in self._holes_xy:
                # hole boundary is part of the polygon boundary; hole
                # interior is outside the polygon (PostGIS semantics)
                d = np.minimum(d, dist_to_segments_m(px, py, hxy))
                inside &= ~point_in_ring(px, py, hxy)
            return np.where(inside, 0.0, d)
        raise ValueError(f"unknown geometry kind: {self.kind}")

    def within_m(self, lon, lat, buffer_m: float):
        """ST_DWithin(geom, point, buffer) — the exact-refine predicate
        (reference query_builder.py:119-138 compiles exactly this)."""
        return self.distance_m(lon, lat) <= float(buffer_m)

    def bounds(self):
        """(min_lon, min_lat, max_lon, max_lat) of the raw coords."""
        c = self.coords
        return float(c[:, 0].min()), float(c[:, 1].min()), float(c[:, 0].max()), float(c[:, 1].max())

    def buffered_bounds(self, buffer_m: float):
        """Bounds expanded by buffer_m meters (conservative, for cell covers)."""
        mnx, mny, mxx, mxy = self.bounds()
        dlat = buffer_m / M_PER_DEG_LAT
        # use the widest latitude of the bbox for the lon expansion (conservative)
        max_abs_lat = min(max(abs(mny), abs(mxy)) + dlat, 89.9)
        dlon = buffer_m / (M_PER_DEG_LAT * np.cos(np.radians(max_abs_lat)))
        return mnx - dlon, mny - dlat, mxx + dlon, mxy + dlat

    def planar_length_m(self) -> float:
        """Polyline length in the local plane (admission check, reference
        views.py:243-258 measures in EPSG:3857; local plane is equivalent at
        the admitted scales)."""
        d = np.diff(self._xy, axis=0)
        return float(np.sqrt((d**2).sum(axis=1)).sum())

    def planar_area_m2(self) -> float:
        """Shoelace ring area in the local plane, holes subtracted — shapely
        `.area` semantics (reference views.py:277-294)."""
        area = _shoelace_m2(self._xy)
        for hxy in self._holes_xy:
            area -= _shoelace_m2(hxy)
        return max(area, 0.0)


def bbox_spec(min_lon: float, min_lat: float, max_lon: float, max_lat: float) -> GeomSpec:
    """Envelope polygon from a bbox — the reference builds the same envelope
    from the bbox corner pair (reference views.py:281-285).

    A bbox with min_lon > max_lon crosses the antimeridian (the PostGIS
    geography behavior the reference inherits): the ring is built in a
    continuous frame (max_lon + 360) — wrap-aware local_xy makes membership
    and distance correct, and cells.cover_bbox splits the cover at ±180."""
    if min_lon > max_lon:
        max_lon += 360.0
    ring = [
        [min_lon, min_lat],
        [max_lon, min_lat],
        [max_lon, max_lat],
        [min_lon, max_lat],
        [min_lon, min_lat],
    ]
    return GeomSpec("polygon", ring)
