"""The reference's golden POI query suite, translated (SURVEY.md §5).

Each case mirrors a reference test (tests/test_pois.py / test_stats.py /
test_category_list.py) using the same query geometries; expected counts are
the engineered fixture goldens (FIXTURES.md §4), frozen in
fixtures.GOLDEN_COUNTS and re-proved against the brute-force numpy oracle by
fixtures.verify_layout().
"""

import pytest

from openpoiservice_spark import fixtures
from openpoiservice_spark.api import InvalidUsage

P = list(fixtures.POINT_P)
BBOX1 = [[8.807054, 53.075024], [8.807533, 53.075363]]
BBOX2 = [[8.808345, 53.075677], [8.808781, 53.076031]]
POLY = [fixtures.POLYGON]
LINE = fixtures.LINESTRING


def _pois(engine, geometry, filters=None, **kw):
    payload = {"request": "pois", "geometry": geometry}
    if filters:
        payload["filters"] = filters
    payload.update(kw)
    return engine.request(payload)


# --- golden feature counts (reference test_pois.py:139-193) -----------------

def test_pois_point_buffer(engine):
    fc = _pois(engine, {"geojson": {"type": "Point", "coordinates": P}, "buffer": 50})
    assert len(fc["features"]) == fixtures.GOLDEN_COUNTS["point_buffer50"]


def test_pois_point_with_bbox(engine):
    fc = _pois(engine, {"geojson": {"type": "Point", "coordinates": P},
                        "bbox": BBOX1, "buffer": 50})
    assert len(fc["features"]) == fixtures.GOLDEN_COUNTS["point_bbox_buffer50"]


def test_pois_polygon(engine):
    fc = _pois(engine, {"geojson": {"type": "Polygon", "coordinates": POLY}, "buffer": 0})
    assert len(fc["features"]) == fixtures.GOLDEN_COUNTS["polygon"]


def test_pois_polygon_with_bbox(engine):
    fc = _pois(engine, {"geojson": {"type": "Polygon", "coordinates": POLY},
                        "bbox": BBOX2, "buffer": 0})
    assert len(fc["features"]) == fixtures.GOLDEN_COUNTS["polygon_bbox"]


def test_pois_linestring_buffer(engine):
    fc = _pois(engine, {"geojson": {"type": "LineString", "coordinates": LINE}, "buffer": 10})
    assert len(fc["features"]) == fixtures.GOLDEN_COUNTS["linestring_buffer10"]


def test_pois_linestring_with_bbox(engine):
    fc = _pois(engine, {"geojson": {"type": "LineString", "coordinates": LINE},
                        "bbox": BBOX1, "buffer": 50})
    assert len(fc["features"]) == fixtures.GOLDEN_COUNTS["linestring_bbox_buffer50"]


def test_pois_bbox_only(engine):
    fc = _pois(engine, {"bbox": BBOX1})
    assert len(fc["features"]) == fixtures.GOLDEN_COUNTS["bbox_only"]


def test_pois_wide_buffer_all_curated(engine):
    fc = _pois(engine, {"geojson": {"type": "Point", "coordinates": P}, "buffer": 400})
    assert len(fc["features"]) == fixtures.GOLDEN_COUNTS["point_buffer400"]


# --- feature shape / row-level parity ---------------------------------------

def test_feature_shape_and_coordinate_truncation(engine):
    fc = _pois(engine, {"bbox": BBOX1})
    ids = {f["properties"]["osm_id"] for f in fc["features"]}
    assert ids == {1001, 1002, 1003, 1004, 1005, 1006, 1007}
    for f in fc["features"]:
        assert f["geometry"]["type"] == "Point"
        x, y = f["geometry"]["coordinates"]
        # quirk Q6: 6-decimal truncation via string format
        assert x == float(format(x, ".6f")) and y == float(format(y, ".6f"))
        assert f["properties"]["distance"] >= 0.0
        assert f["properties"]["category_ids"]
    assert "information" in fc
    # bbox of the collection covers all coordinates
    xs = [f["geometry"]["coordinates"][0] for f in fc["features"]]
    assert fc["bbox"][0] == min(xs) and fc["bbox"][2] == max(xs)


def test_category_object_and_tags(engine):
    fc = _pois(engine, {"bbox": BBOX1})
    by_id = {f["properties"]["osm_id"]: f["properties"] for f in fc["features"]}
    # 1001 tourism=artwork named
    p = by_id[1001]
    assert p["category_ids"] == {621: {"category_name": "artwork", "category_group": "tourism"}}
    assert p["osm_tags"]["name"] == "Stadtmusikanten I"
    # 1002 has no whitelisted tags -> osm_tags omitted (quirk Q9)
    assert "osm_tags" not in by_id[1002]
    # 1006 carries wheelchair=no (whitelisted) but not amenity (not whitelisted)
    assert by_id[1006]["osm_tags"] == {"wheelchair": "no"}


def test_sortby_distance(engine):
    fc = _pois(engine, {"geojson": {"type": "Point", "coordinates": P}, "buffer": 50},
               sortby="distance")
    d = [f["properties"]["distance"] for f in fc["features"]]
    assert d == sorted(d)
    assert d[0] < 10  # NOCAT rows at 30 m were dropped at import; nearest curated ~26 m
    assert all(x <= 50.0 for x in d)


def test_limit_off_by_one_quirk(engine):
    # quirk Q1: limit=n returns at most n-1 features
    fc = _pois(engine, {"geojson": {"type": "Point", "coordinates": P}, "buffer": 50},
               limit=5)
    assert len(fc["features"]) == 4


def test_limit_one_returns_all_features(engine):
    """Q1 boundary: the reference's break condition (q_idx == limit-2) never
    fires for limit=1 — ALL features come back (round-1 ADVICE)."""
    fc = _pois(engine, {"geojson": {"type": "Point", "coordinates": P}, "buffer": 50},
               limit=1)
    assert len(fc["features"]) == fixtures.GOLDEN_COUNTS["point_buffer50"]


def test_limit_out_of_range_rejected(engine):
    """Reference schema Range(min=1, max=response_limit) -> 4000."""
    for bad in (0, -3, 5000):
        with pytest.raises(InvalidUsage) as e:
            _pois(engine, {"geojson": {"type": "Point", "coordinates": P},
                           "buffer": 50}, limit=bad)
        assert e.value.error_code == 4000


def test_multipolygon_total_area_rejected(engine):
    """An oversized MultiPolygon composed of small parts must be rejected:
    the reference measures the area of the WHOLE geometry once
    (views.py:262-268)."""
    from openpoiservice_spark import config, geo

    # each part ~0.6 * cap; two parts together exceed the 50 km^2 cap
    side_m = (0.6 * config.MAXIMUM_AREA_M2) ** 0.5
    dlat = side_m / geo.M_PER_DEG_LAT
    dlon = dlat / 0.6  # cos(53 deg) ~ 0.6 — oversize to be safe
    def part(lon0, lat0):
        return [[[lon0, lat0], [lon0 + dlon, lat0], [lon0 + dlon, lat0 + dlat],
                 [lon0, lat0 + dlat], [lon0, lat0]]]
    mp = {"type": "MultiPolygon",
          "coordinates": [part(P[0], P[1]), part(P[0] + 1.0, P[1])]}
    with pytest.raises(InvalidUsage) as e:
        _pois(engine, {"geojson": mp, "buffer": 0})
    assert e.value.error_code == 4008
    # a single part of the same size is fine
    single = {"type": "MultiPolygon", "coordinates": [part(P[0], P[1])]}
    fc = _pois(engine, {"geojson": single, "buffer": 0})
    assert isinstance(fc, list) and len(fc) == 1


def test_geojson_without_buffer_is_legal(engine):
    """Reference parity: parse_geometries defaults buffer=0 BEFORE
    check_for_buffer runs (views.py:215 vs :244) — 4004 is unreachable, so a
    geojson request with no 'buffer' key succeeds with buffer 0."""
    ring = [[P[0] - 0.003, P[1] - 0.002], [P[0] + 0.003, P[1] - 0.002],
            [P[0] + 0.003, P[1] + 0.002], [P[0] - 0.003, P[1] + 0.002],
            [P[0] - 0.003, P[1] - 0.002]]
    fc = engine.request({"request": "pois",
                         "geometry": {"geojson": {"type": "Polygon",
                                                  "coordinates": [ring]}}})
    assert fc["type"] == "FeatureCollection"


_NAN, _INF = float("nan"), float("inf")


def _poly_with(x):
    ring = [list(c) for c in fixtures.POLYGON]
    ring[1][0] = x
    return [ring]


@pytest.mark.parametrize("geometry, code", [
    ({"bbox": [[_NAN, 53.07], [8.81, 53.08]]}, 4007),
    ({"bbox": [[8.80, 53.07], [8.81, _INF]]}, 4007),
    ({"bbox": [[-_INF, 53.07], [8.81, 53.08]], "buffer": 10}, 4007),
    ({"geojson": {"type": "Point", "coordinates": [_NAN, P[1]]}, "buffer": 50}, 4007),
    ({"geojson": {"type": "LineString", "coordinates": [LINE[0], [P[0], _INF]]}}, 4007),
    ({"geojson": {"type": "Polygon", "coordinates": _poly_with(_NAN)}}, 4007),
    ({"geojson": {"type": "Point", "coordinates": P}, "buffer": _NAN}, 4000),
    ({"geojson": {"type": "Point", "coordinates": P}, "buffer": _INF}, 4000),
    ({"bbox": BBOX1, "buffer": -_INF}, 4000),
    ({"bbox": BBOX1, "buffer": [5]}, 4000),
])
def test_non_finite_numbers_rejected(engine, tmp_path, monkeypatch, geometry, code):
    """NaN fails no admission comparison: a non-finite coordinate or bbox
    corner (4007), or a non-finite or non-numeric buffer (4000), is an API
    error raised while compiling the geometry, and logged like every
    rejection."""
    log = str(tmp_path / "invalid.log")
    monkeypatch.setattr(engine, "invalid_log", log)
    for req in ("pois", "stats"):
        with pytest.raises(InvalidUsage) as e:
            engine.request({"request": req, "geometry": geometry})
        assert e.value.error_code == code
    with open(log) as f:
        lines = f.read().strip().splitlines()
    assert len(lines) == 2 and all(f" {code} " in line for line in lines)


def test_negative_buffer_rejected(engine):
    with pytest.raises(InvalidUsage) as e:
        _pois(engine, {"geojson": {"type": "Point", "coordinates": P}, "buffer": -5})
    assert e.value.error_code == 4000


def test_polygon_hole_excludes_interior_pois(engine):
    """Donut request: POIs inside the interior ring must be excluded —
    set(donut) == set(outer) - set(hole-as-polygon) (reference parses holes
    through shapely shape(), views.py:228-233)."""
    def ring(half_m):
        xs = [-half_m, half_m, half_m, -half_m, -half_m]
        ys = [-half_m, -half_m, half_m, half_m, -half_m]
        lon, lat = fixtures.local_to_lonlat(xs, ys)
        return [[float(a), float(b)] for a, b in zip(lon, lat)]

    outer, hole = ring(300.0), ring(60.0)
    ids = {}
    for name, coords in (("outer", [outer]), ("hole", [hole]),
                         ("donut", [outer, hole])):
        fc = _pois(engine, {"geojson": {"type": "Polygon", "coordinates": coords},
                            "buffer": 0})
        ids[name] = {f["properties"]["osm_id"] for f in fc["features"]}
    assert ids["hole"], "fixture must place POIs inside the hole"
    assert ids["donut"] == ids["outer"] - ids["hole"]


def test_nocat_rows_dropped_at_import(engine):
    """NOCAT rows sit 30 m from P; if import failed to drop them the
    buffer-50 golden count would be 23, not 13 (reference parse_osm.py:347)."""
    fc = _pois(engine, {"geojson": {"type": "Point", "coordinates": P}, "buffer": 50})
    ids = {f["properties"]["osm_id"] for f in fc["features"]}
    assert not any(1081 <= i <= 1090 for i in ids)


# --- category / custom filters (quirks Q2, Q3) -------------------------------

def test_category_filter_restricts_output_arrays(engine):
    fc = _pois(engine, {"geojson": {"type": "Point", "coordinates": P}, "buffer": 220},
               filters={"category_ids": [564]})
    assert len(fc["features"]) == fixtures.GOLDEN_COUNTS["category564_buffer220"]
    for f in fc["features"]:
        # quirk Q2: MULTI rows carry [108, 564] but the filtered query
        # surfaces only the matching category
        assert list(f["properties"]["category_ids"].keys()) == [564]


def test_custom_filter_wheelchair(engine):
    fc = _pois(engine, {"geojson": {"type": "Point", "coordinates": P}, "buffer": 400},
               filters={"wheelchair": ["yes"]})
    assert len(fc["features"]) == fixtures.GOLDEN_COUNTS["custom_wheelchair_yes_buffer400"]
    for f in fc["features"]:
        # quirk Q2: only the matching tag survives in osm_tags
        assert f["properties"]["osm_tags"] == {"wheelchair": "yes"}


def test_two_custom_filters_conjunctive_zero_rows(engine):
    # quirk Q3: filters AND on the same tag row -> two keys can never match
    fc = _pois(engine, {"geojson": {"type": "Point", "coordinates": P}, "buffer": 400},
               filters={"fee": ["yes"], "smoking": ["no"]})
    assert fc["features"] == []


@pytest.mark.parametrize("value", ["'", "\\", "--", "') OR (true", "yes' OR '1'='1"])
def test_custom_filter_values_are_not_sql(engine, value):
    """Custom-filter values reach Spark as parameter markers, never as SQL
    text: quotes, a backslash, comment dashes and injection attempts each
    return exactly the numpy oracle's rows (none for the value alone) and
    raise no parse error."""
    import numpy as np

    from openpoiservice_spark import geo

    rows = engine._df.select("osm_id", "lon", "lat", "tags").collect()
    inside = geo.GeomSpec("point", [P]).within_m(
        np.array([r.lon for r in rows]), np.array([r.lat for r in rows]), 400.0)
    geometry = {"geojson": {"type": "Point", "coordinates": P}, "buffer": 400}
    for vals in ([value], ["yes", value]):
        fc = _pois(engine, geometry, filters={"wheelchair": vals})
        want = sorted(r.osm_id for r, ok in zip(rows, inside)
                      if ok and (r.tags or {}).get("wheelchair") in vals)
        assert sorted(f["properties"]["osm_id"] for f in fc["features"]) == want
        assert bool(want) == ("yes" in vals)


def test_category_ids_are_int_cast(engine):
    """Category ids enter the statement int()-cast: a numeric string is its
    integer, anything else is a schema error (4000), never SQL text."""
    geometry = {"geojson": {"type": "Point", "coordinates": P}, "buffer": 220}
    ids = [f["properties"]["osm_id"] for f in
           _pois(engine, geometry, filters={"category_ids": [564]})["features"]]
    assert ids and ids == [f["properties"]["osm_id"] for f in _pois(
        engine, geometry, filters={"category_ids": ["564"]})["features"]]
    for req in ("pois", "stats"):
        with pytest.raises(InvalidUsage) as e:
            engine.request({"request": req, "geometry": geometry,
                            "filters": {"category_ids": ["564) OR (true"]}})
        assert e.value.error_code == 4000


def test_category_group_filter(engine):
    fc = _pois(engine, {"geojson": {"type": "Point", "coordinates": P}, "buffer": 50},
               filters={"category_group_ids": [620]})
    # 9 poi x category pairs but only 9 distinct POIs carry them (singles)
    assert len(fc["features"]) == 9


# --- stats (reference test_stats.py:40-54, quirk Q8) -------------------------

def test_stats_category_ids(engine):
    out = engine.request({"request": "stats",
                          "geometry": {"geojson": {"type": "Point", "coordinates": P},
                                       "buffer": 50},
                          "filters": {"category_ids": [621]}})
    assert out["places"]["total_count"] == fixtures.GOLDEN_COUNTS["stats_cat621_buffer50"]
    assert out["places"]["tourism"]["categories"]["artwork"]["count"] == 6


def test_stats_category_group_ids(engine):
    out = engine.request({"request": "stats",
                          "geometry": {"geojson": {"type": "Point", "coordinates": P},
                                       "buffer": 50},
                          "filters": {"category_group_ids": [620]}})
    assert out["places"]["total_count"] == fixtures.GOLDEN_COUNTS["stats_group620_buffer50"]
    assert out["places"]["tourism"]["group_id"] == 620


def test_stats_multi_category_rows_count_twice(engine):
    """Quirk Q8: stats count (poi x category) pairs — the 3 MULTI rows carry
    two categories each, so unfiltered stats at 220 m include both."""
    out = engine.request({"request": "stats",
                          "geometry": {"geojson": {"type": "Point", "coordinates": P},
                                       "buffer": 220}})
    s = out["places"]
    assert s["sustenance"]["categories"]["cafe"]["count"] == 4  # 3 MULTI + 1007
    assert s["accomodation"]["categories"]["hotel"]["count"] == 3  # MULTI pair side


# --- list + error paths (reference test_category_list.py, test_pois.py:124-137)

def test_request_list(engine):
    out = engine.request({"request": "list"})
    assert "accomodation" in out and "animals" in out


def test_missing_geometry(engine):
    with pytest.raises(InvalidUsage) as e:
        engine.request({"request": "pois"})
    assert e.value.error_code == 4002


def test_missing_geojson_coordinates(engine):
    with pytest.raises(InvalidUsage) as e:
        engine.request({"request": "pois",
                        "geometry": {"geojson": {"type": "LineString"}}})
    assert e.value.error_code == 4000


def test_missing_geojson_type(engine):
    with pytest.raises(InvalidUsage) as e:
        engine.request({"request": "pois",
                        "geometry": {"geojson": {"coordinates": [P]}}})
    assert e.value.error_code == 4000


def test_buffer_cap(engine):
    with pytest.raises(InvalidUsage) as e:
        _pois(engine, {"geojson": {"type": "Point", "coordinates": P}, "buffer": 2001})
    assert e.value.error_code == 4008


def test_unsupported_geojson_type(engine):
    with pytest.raises(InvalidUsage) as e:
        _pois(engine, {"geojson": {"type": "GeometryCollection", "coordinates": [1]}})
    assert e.value.error_code == 4007


def test_multipolygon_fan_out(engine):
    """Quirk Q7: MultiPolygon -> one FeatureCollection per polygon,
    independently limited."""
    poly2 = [[[8.80, 53.08], [8.801, 53.08], [8.801, 53.081], [8.80, 53.081], [8.80, 53.08]]]
    out = _pois(engine, {"geojson": {"type": "MultiPolygon",
                                     "coordinates": [POLY, poly2]},
                         "buffer": 0})
    assert isinstance(out, list) and len(out) == 2
    assert len(out[0]["features"]) == fixtures.GOLDEN_COUNTS["polygon"]
    assert out[1]["features"] == []
    assert all("information" in fc for fc in out)


def test_stats_multipolygon_fan_out(engine):
    """Stats rides the same MultiPolygon per-polygon loop as pois
    (reference views.py:126-131 wraps request_pois, which serves stats too):
    a list of per-polygon stats dicts, each with 'information'."""
    poly2 = [[[8.80, 53.08], [8.801, 53.08], [8.801, 53.081], [8.80, 53.081], [8.80, 53.08]]]
    out = engine.request({"request": "stats",
                          "geometry": {"geojson": {"type": "MultiPolygon",
                                                   "coordinates": [POLY, poly2]},
                                       "buffer": 0}})
    assert isinstance(out, list) and len(out) == 2
    assert all("information" in s and "places" in s for s in out)
    # part 1 covers the polygon fixture rows; part 2 is empty
    assert out[0]["places"]["total_count"] > 0
    assert out[1]["places"]["total_count"] == 0
    # single-geometry stats carries 'information' too (views.py:135-137)
    single = engine.request({"request": "stats",
                             "geometry": {"geojson": {"type": "Polygon",
                                                      "coordinates": [POLY]},
                                          "buffer": 0}})
    assert "information" in single
    assert single["places"]["total_count"] == out[0]["places"]["total_count"]


def test_row_for_row_parity_with_numpy_oracle(engine):
    """Full row-level parity (not just counts): the flagship query's
    features must match an independent numpy-oracle assembly exactly —
    (osm_id, truncated coords, distance, category ids, whitelisted tags),
    in distance order."""
    import numpy as np

    from openpoiservice_spark import geo, taxonomy
    from openpoiservice_spark.captions import truncate6

    fc = _pois(engine, {"geojson": {"type": "Point", "coordinates": P}, "buffer": 50},
               sortby="distance")

    from openpoiservice_spark.captions import decode_phash, encode_phash

    rows = [r for r in fixtures.CURATED]
    lon, lat = fixtures.local_to_lonlat([r[1] for r in rows], [r[2] for r in rows])
    # the engine sees phash-quantized coordinates (1e-7 deg) — so must the oracle
    lon, lat = decode_phash(encode_phash(lon, lat))
    d = geo.haversine_m(lon, lat, P[0], P[1])
    keep = d <= 50.0
    order = np.argsort([(dd, r[0]) for dd, r in zip(d, rows)], axis=0)
    expected = sorted(
        [(rows[i][0], float(d[i]), float(lon[i]), float(lat[i]), rows[i][3])
         for i in range(len(rows)) if keep[i]],
        key=lambda t: (t[1], t[0]),
    )
    assert len(fc["features"]) == len(expected)
    whitelist = set(taxonomy.TAG_WHITELIST)
    for f, (oid, dist, lo, la, tags) in zip(fc["features"], expected):
        p = f["properties"]
        assert p["osm_id"] == oid
        assert abs(p["distance"] - dist) < 1e-9
        assert f["geometry"]["coordinates"] == [truncate6(lo), truncate6(la)]
        assert set(p["category_ids"].keys()) == set(taxonomy.categories_of_tags(tags))
        wl = {k: v for k, v in tags.items() if k in whitelist}
        if wl:
            assert p["osm_tags"] == wl
        else:
            assert "osm_tags" not in p


def test_invalid_request_log(spark, fixture_paths, tmp_path):
    """S9: rejected requests append one line each to the invalid-request log
    (reference views.py:143-149); non-dict bodies get 4009."""
    from openpoiservice_spark.api import PoiEngine

    log = str(tmp_path / "invalid.log")
    eng = PoiEngine(spark, fixture_paths["prepared"], invalid_log=log)
    with pytest.raises(InvalidUsage) as e:
        eng.request("not a json object")
    assert e.value.error_code == 4009
    with pytest.raises(InvalidUsage) as e:
        eng.request({"request": "pois"})  # no geometry -> 4002
    assert e.value.error_code == 4002
    with open(log) as f:
        lines = f.read().strip().splitlines()
    assert len(lines) == 2
    assert " 4009 " in lines[0] and " 4002 " in lines[1]

    # a valid request logs nothing
    eng.request({"request": "list"})
    with open(log) as f:
        assert len(f.read().strip().splitlines()) == 2


def test_spheroid_distance_engine_option(spark, fixture_paths):
    """PoiEngine(spheroid_distance=True): output distances are WGS84
    Vincenty (PostGIS-geography-exact), same row membership; default
    haversine stays within the documented 0.6% bound."""
    from openpoiservice_spark import geo
    from openpoiservice_spark.api import PoiEngine

    payload = {"request": "pois",
               "geometry": {"geojson": {"type": "Point", "coordinates": P},
                            "buffer": 50}}
    base = PoiEngine(spark, fixture_paths["prepared"]).request(payload)
    sph = PoiEngine(spark, fixture_paths["prepared"],
                    spheroid_distance=True).request(payload)
    ids_base = {f["properties"]["osm_id"] for f in base["features"]}
    ids_sph = {f["properties"]["osm_id"] for f in sph["features"]}
    assert ids_base == ids_sph and ids_base
    by_id = {f["properties"]["osm_id"]: f["properties"] for f in sph["features"]}
    diffs = 0
    for f in base["features"]:
        d_h = f["properties"]["distance"]
        d_v = by_id[f["properties"]["osm_id"]]["distance"]
        assert abs(d_h - d_v) <= max(0.006 * d_h, 1e-9)  # flattening bound
        diffs += d_h != d_v
    assert diffs > 0  # spheroid math actually engaged


def test_distributed_geojsonl_export_matches_driver_assembly(spark, fixture_paths, tmp_path):
    """features_df/export_geojsonl: the executor-side native-to_json feature
    assembly must equal the driver's _feature_collection feature-for-feature
    (parsed JSON; key order is JSON-insignificant), and the sink writes one
    valid feature per line with no response limit."""
    import json

    from openpoiservice_spark.api import PoiEngine

    eng = PoiEngine(spark, fixture_paths["prepared"])
    payload = {"request": "pois",
               "geometry": {"geojson": {"type": "Point", "coordinates": P},
                            "buffer": 400}}
    driver_fc = eng.request(payload)
    driver = {f["properties"]["osm_id"]: f for f in driver_fc["features"]}

    dist = {}
    for r in eng.features_df(payload).collect():
        dist[r.osm_id] = json.loads(r.feature)
    assert set(dist) == set(driver)
    for oid, f in driver.items():
        g = dist[oid]
        assert g["type"] == "Feature" and g["geometry"]["type"] == "Point"
        assert g["geometry"]["coordinates"] == f["geometry"]["coordinates"]
        gp, fp = g["properties"], f["properties"]
        assert gp["osm_id"] == fp["osm_id"] and gp["osm_type"] == fp["osm_type"]
        assert abs(gp["distance"] - fp["distance"]) < 1e-9
        # category object: driver keys are ints, JSON keys are strings
        assert gp["category_ids"] == {str(k): v for k, v in fp["category_ids"].items()}
        assert gp.get("osm_tags") == fp.get("osm_tags")  # Q9 omission parity

    out = str(tmp_path / "export")
    n = eng.export_geojsonl(payload, out)
    assert n == len(driver)
    import glob
    lines = []
    for p in glob.glob(f"{out}/part-*"):
        with open(p) as fh:
            lines += [ln for ln in fh.read().splitlines() if ln]
    assert len(lines) == n
    assert all(json.loads(ln)["type"] == "Feature" for ln in lines)


# --- native refine/distance parity with geo.py ------------------------------

_RING = [[8.80, 53.07], [8.82, 53.071], [8.825, 53.085], [8.805, 53.09], [8.80, 53.07]]
_HOLE = [[8.807, 53.075], [8.815, 53.075], [8.815, 53.082], [8.807, 53.082],
         [8.807, 53.075]]


def _native_parity_cases():
    from openpoiservice_spark import geo

    # name: (spec, buffer_m, sample centre lon/lat, half-span deg)
    return {
        "point": (geo.GeomSpec("point", [[8.81, 53.08]]), 400.0, (8.81, 53.08, 0.01)),
        "linestring": (geo.GeomSpec("linestring", [[8.80, 53.07], [8.81, 53.075],
                                                   [8.82, 53.072], [8.83, 53.08]]),
                       50.0, (8.815, 53.075, 0.02)),
        "polygon_hole": (geo.GeomSpec("polygon", _RING, holes=[_HOLE]), 30.0,
                         (8.8125, 53.08, 0.02)),
        "open_ring": (geo.GeomSpec("polygon", _RING[:-1]), 20.0, (8.8125, 53.08, 0.02)),
        "dateline_bbox": (geo.bbox_spec(179.9, 52.0, -179.9, 53.0), 0.0,
                          (180.0, 52.5, 0.6)),
        "bbox_buffer": (geo.bbox_spec(8.80, 53.07, 8.82, 53.08), 100.0,
                        (8.81, 53.075, 0.02)),
    }


@pytest.mark.parametrize("kind", list(_native_parity_cases()))
def test_native_refine_and_distance_match_geo(spark, kind):
    """The native refine/distance expressions against geo.py on 12,000
    seeded points: bit-identical for the planar kinds (projection, segment
    distance, ray cast, antimeridian wrap), within 1e-12 m for haversine
    (the JVM's sin/cos/asin), and the same membership everywhere."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from openpoiservice_spark.functions import make_distance_udf, make_refine_udf

    spec, buffer_m, (c_lon, c_lat, span) = _native_parity_cases()[kind]
    rng = np.random.default_rng(20261019)
    n = 12_000
    lon = c_lon + rng.uniform(-span, span, n)
    lon = np.where(lon >= 180.0, lon - 360.0, lon)
    lat = c_lat + rng.uniform(-span, span, n)
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(n), "lon": lon, "lat": lat}))
    out = (df.select("i",
                     make_distance_udf(spec)(F.col("lon"), F.col("lat")).alias("d"),
                     make_refine_udf(spec, buffer_m)(F.col("lon"), F.col("lat")).alias("w"))
           .toPandas().sort_values("i"))
    ref = spec.distance_m(lon, lat)
    got = out["d"].to_numpy()
    if kind == "point":
        assert np.abs(got - ref).max() <= 1e-12
    else:
        assert np.array_equal(got, ref)
    within = spec.within_m(lon, lat, buffer_m)
    assert np.array_equal(out["w"].to_numpy(), within)
    assert 0 < within.sum() < n


def test_emitted_distances_are_geo_bit_identical(engine):
    """Responses carry geo.distance_m bit for bit: the driver recomputes the
    emitted rows' distances and re-sorts on them."""
    import numpy as np

    from openpoiservice_spark.api import compile_geometry

    for geometry in (
        {"geojson": {"type": "Point", "coordinates": P}, "buffer": 400},
        {"geojson": {"type": "LineString", "coordinates": LINE}, "buffer": 50},
    ):
        fc = _pois(engine, geometry, sortby="distance")
        spec = compile_geometry(geometry)[0].distance_spec
        rows = {r.osm_id: (r.lon, r.lat)
                for r in engine.pois_df({"request": "pois", "geometry": geometry,
                                         "limit": 1}).collect()}
        props = [f["properties"] for f in fc["features"]]
        assert props
        lon = np.array([rows[p["osm_id"]][0] for p in props])
        lat = np.array([rows[p["osm_id"]][1] for p in props])
        assert [p["distance"] for p in props] == spec.distance_m(lon, lat).tolist()
        keys = [(p["distance"], p["osm_id"]) for p in props]
        assert keys == sorted(keys)
