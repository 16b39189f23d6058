"""poi_requests: the service path, `api.PoiEngine.request` on the read table.

One pass is a fixed mix of request kinds whose geometries come from the
seed: bbox, point+buffer, linestring+buffer and polygon `pois` requests
(from empty results up to the 2000-feature limit), a category-filtered
request, two `stats` requests, one `list` and two invalid bodies.  Every
answer is checked against a numpy scan of the table's coordinates that
never uses the cell cover.
"""

from __future__ import annotations

import numpy as np

from .core import Op, Workload, expect
from .inputs import CLUSTERS, REGION

LIMIT = 2000


def _spec(geometry: dict):
    """The oracle's own geometry: (refine spec, buffer, bbox spec or None,
    distance spec), following the request semantics of the reference."""
    from openpoiservice_spark import geo

    buf = float(geometry.get("buffer", 0))
    bbox = None
    if "bbox" in geometry:
        (x1, y1), (x2, y2) = geometry["bbox"]
        bbox = geo.bbox_spec(min(x1, x2), min(y1, y2), max(x1, x2), max(y1, y2))
    gj = geometry.get("geojson")
    if gj is None:
        return bbox, buf, None, bbox
    kind = gj["type"].lower()
    coords = [gj["coordinates"]] if kind == "point" else gj["coordinates"]
    if kind == "polygon":
        coords = coords[0]
    spec = geo.GeomSpec(kind, coords)
    return spec, buf, bbox, spec


def _selected(rows, payload: dict) -> np.ndarray:
    """Mask of the table rows the request selects."""
    spec, buf, bbox, _ = _spec(payload["geometry"])
    keep = spec.within_m(rows.lon, rows.lat, buf)
    if bbox is not None:
        keep &= bbox.within_m(rows.lon, rows.lat, 0.0)
    cats = (payload.get("filters") or {}).get("category_ids")
    if cats:
        keep &= np.isin(rows.cats, cats)
    return keep


def matches(rows, payload: dict) -> tuple[np.ndarray, np.ndarray]:
    """(osm_ids, distances) of every table row the request selects."""
    keep = _selected(rows, payload)
    dist_spec = _spec(payload["geometry"])[3]
    return rows.osm_id[keep], dist_spec.distance_m(rows.lon[keep], rows.lat[keep])


def check_features(fc: dict, ids: np.ndarray, dist: np.ndarray) -> None:
    got = [f["properties"]["osm_id"] for f in fc["features"]]
    expect(len(set(got)) == len(got), "duplicate features")
    if len(ids) <= LIMIT - 1:
        expect(sorted(got) == sorted(ids.tolist()),
               f"feature set differs: got {len(got)}, expected {len(ids)}")
        return
    expect(len(got) == LIMIT - 1, f"limited response has {len(got)} features")
    expect(set(got) <= set(ids.tolist()), "feature outside the geometry")
    cutoff = np.sort(dist)[LIMIT - 2]
    d = [f["properties"]["distance"] for f in fc["features"]]
    expect(max(d) <= cutoff + 1e-6, "limited response is not the nearest features")
    expect(all(a <= b for a, b in zip(d, d[1:])), "features not sorted by distance")


#: (kind, target result rows, scale range) of the calibrated requests; the
#: scale is a bbox half-width or polygon radius in degrees, else a buffer in
#: m, bounded by the admission caps (50 km2 area, 2000 m buffer)
TARGETS = [
    ("pois.bbox", 500, (0.001, 0.05)),
    ("pois.point", 300, (10.0, 2000.0)),
    ("pois.linestring", 150, (5.0, 2000.0)),
    ("pois.polygon", 500, (0.001, 0.05)),
    ("pois.filtered", 40, (10.0, 2000.0)),
    ("stats.point", 600, (10.0, 2000.0)),
    ("stats.bbox", 800, (0.001, 0.05)),
]


def _calibrate(rows, make, lo: float, hi: float, target: int) -> dict:
    """The payload with the smallest scale in [lo, hi] that selects at
    least `target` rows (or the largest allowed one).  A smaller scale
    selects a subset, so the search runs on the rows the largest selects."""
    top = _selected(rows, make(hi))
    if top.sum() < target:
        return make(hi)
    rows = rows.subset(top)
    for _ in range(25):
        mid = (lo + hi) / 2
        lo, hi = (mid, hi) if _selected(rows, make(mid)).sum() < target else (lo, mid)
    return make(hi)


def random_mix(seed: int, stream: int, rows) -> list[tuple[str, dict, object]]:
    """One pass of the seeded request mix: (kind, payload, expected error
    code or None).  Each `stream` draws its own geometries, so the measured
    pass repeats no warm-up request, as in a service whose callers each ask
    their own question.  Positions come from the seed; each geometry's size
    is then fitted so its result count is about the kind's target, which
    keeps the work per pass alike across seeds.  The limit request covers
    the two overlapping clusters, so it always has more than LIMIT rows."""
    rng = np.random.default_rng([seed, 3, stream])
    c = CLUSTERS[rng.permutation(len(CLUSTERS))]
    centres = [[float(x + rng.normal(0, 0.004)), float(y + rng.normal(0, 0.004))]
               for x, y in c[:7]]
    line_offsets = rng.normal(0, 0.02, (2, 2))
    angles = 2 * np.pi * np.arange(5) / 5 + rng.uniform(-0.4, 0.4, 5)
    cat = int(rng.choice(np.unique(rows.cats)))
    sparse = [float(rng.uniform(REGION[0], REGION[2])), float(rng.uniform(REGION[1], REGION[3]))]
    twin = [13.425 + float(rng.normal(0, 0.004)), 52.50 + float(rng.normal(0, 0.004))]

    def pois(geometry, **kw):
        return {"request": "pois", "geometry": geometry, "limit": LIMIT, **kw}

    def bbox(p, s):
        return {"bbox": [[p[0] - s, p[1] - 0.6 * s], [p[0] + s, p[1] + 0.6 * s]]}

    def point(p, buf):
        return {"geojson": {"type": "Point", "coordinates": p}, "buffer": buf}

    def line(p, buf):
        pts = [[p[0] + dx, p[1] + dy] for dx, dy in line_offsets]
        return {"geojson": {"type": "LineString", "coordinates": [pts[0], p, pts[1]]},
                "buffer": buf}

    def polygon(p, s):
        ring = [[float(p[0] + s * np.cos(a)), float(p[1] + 0.6 * s * np.sin(a))] for a in angles]
        return {"geojson": {"type": "Polygon", "coordinates": [ring + [ring[0]]]}}

    makers = {
        "pois.bbox": lambda p, s: pois(bbox(p, s)),
        "pois.point": lambda p, s: pois(point(p, s)),
        "pois.linestring": lambda p, s: pois(line(p, s)),
        "pois.polygon": lambda p, s: pois(polygon(p, s)),
        "pois.filtered": lambda p, s: pois(point(p, s), filters={"category_ids": [cat]}),
        "stats.point": lambda p, s: {"request": "stats", "geometry": point(p, s)},
        "stats.bbox": lambda p, s: {"request": "stats", "geometry": bbox(p, s)},
    }
    mix = [(kind, _calibrate(rows, lambda s, k=kind, p=p: makers[k](p, s), lo, hi, target),
            None)
           for (kind, target, (lo, hi)), p in zip(TARGETS, centres)]
    return mix + [
        ("pois.bbox_limit", pois({"bbox": [[twin[0] - 0.05, twin[1] - 0.03],
                                           [twin[0] + 0.05, twin[1] + 0.03]]}), None),
        ("pois.point_sparse", pois(point(sparse, 200.0)), None),
        ("list", {"request": "list"}, None),
        ("invalid.no_geometry", {"request": "pois"}, 4002),
        ("invalid.buffer", pois(point(centres[0], 5000.0)), 4008),
    ]


class PoiRequests(Workload):
    name = "poi_requests"

    #: the geometry stream of the warm-up requests, apart from the measured pass's
    WARM_STREAM = 1 << 20
    #: warm-up requests: bbox, point and stats kinds
    WARM_KINDS = ("pois.bbox", "pois.point", "stats.point")

    def prepare_inputs(self, spark) -> None:
        from .inputs import seed_cached

        plan = seed_cached(self.ctx.cache, self.ctx.seed, "poi_requests", self._plan)
        self.warm = plan["warm"]
        self.ops = [self._op(*spec) for spec in plan["ops"]]

    def _plan(self) -> dict:
        """The warm-up payloads and the measured pass's (kind, payload,
        expected code, oracle answer)."""
        rows = self.ctx.rows
        ops = []
        for kind, payload, code in random_mix(self.ctx.seed, 0, rows):
            exp = None if code is not None or kind == "list" else matches(rows, payload)
            ops.append((kind, payload, code, exp))
        warm = [payload for kind, payload, _ in random_mix(self.ctx.seed, self.WARM_STREAM, rows)
                if kind in self.WARM_KINDS]
        return {"warm": warm, "ops": ops}

    def open(self, spark) -> None:
        from openpoiservice_spark.api import PoiEngine

        self.engine = PoiEngine(spark, self.ctx.prepared)

    def warm_up(self) -> None:
        # requests that are not among the measured ones
        for payload in self.warm:
            self.engine.request(payload)

    def _call(self, payload: dict):
        from openpoiservice_spark.api import InvalidUsage

        try:
            return self.engine.request(payload)
        except InvalidUsage as e:
            return e.error_code

    def pass_ops(self) -> list[Op]:
        return self.ops

    def _op(self, kind, payload, code, exp) -> Op:
        from openpoiservice_spark import taxonomy

        run = lambda: self._call(payload)  # noqa: E731
        if code is not None:
            return Op(kind, "api", run,
                      lambda out: expect(out == code, f"expected {code}, got {out}"),
                      spark=False)
        if kind == "list":
            listing = taxonomy.taxonomy_listing()
            return Op(kind, "api", run, lambda out: expect(out == listing, "listing differs"),
                      spark=False)
        ids, dist = exp
        if kind.startswith("stats"):
            return Op(kind, "api", run,
                      lambda out: expect(out["places"]["total_count"] == len(ids),
                                         f"stats total {out['places']['total_count']} "
                                         f"!= {len(ids)}"),
                      rows=lambda out: out["places"]["total_count"])
        return Op(kind, "api", run, lambda out: check_features(out, ids, dist),
                  rows=lambda out: len(out["features"]))
