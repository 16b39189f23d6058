"""PoiEngine — the engine's public query API, mirroring the reference's
request payloads (reference openpoiservice/server/api/views.py:78-153).

A request dict {"request": "pois"|"stats"|"list", "geometry": {...},
"filters": {...}, "limit": n, "sortby": ...} compiles to ONE Spark SQL
statement, parsed and analysed once, as the reference hands PostGIS one
statement per request (reference query_builder.py:31-113):

    SELECT * FROM (
      SELECT <columns>, <tags, category_ids (Q2)>, <distance (Q5)>
      FROM <the engine's view of the prepared table> [JOIN <cover>]
      WHERE <cell-cover prefilter>        (partition + row-group pruning; the
                                           GiST-prefilter analogue, misc.sql:50)
        AND <category / custom filters>   (query_builder.py:46-53,142-158)
    ) WHERE <exact refine, native expr>   (the `_st_dwithin` recheck analogue)
    ORDER BY distance, osm_id LIMIT n-1   (quirk Q1)
      -> collect -> GeoJSON assembly      (query_builder.py:211-267)

A `stats` request explodes the category ids of the prefiltered, refined
rows and counts them per category.  Custom tag filter values (user
strings) travel as named parameter markers, never as SQL text; category
and cell ids are int()-cast, coordinates written as exact double literals.

Cover-join strategy (driver-side, the cover size is known before launch —
SURVEY.md §4 'join strategy choice'):
  <= ISIN_COVER_THRESHOLD cells    : literal IN predicate (full pushdown)
  <= SHUFFLE_COVER_THRESHOLD cells : broadcast-hash join on `cell`
  larger                           : repartition-by-cell shuffle join
"""

from __future__ import annotations

import math
import time
import uuid
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cells, config, geo, prepare, taxonomy
from .captions import truncate6
from .functions import (_d, _distance_sql, cell_parent_sql, isin_sql,
                        make_distance_udf, refine_sql)


class InvalidUsage(Exception):
    """Reference error envelope (reference api_exceptions; codes from
    views.py: 4000 schema, 4002 missing geometry, 4005 linestring too long,
    4007 invalid geojson, 4008 area too large)."""

    def __init__(self, message: str, error_code: int, status_code: int = 400):
        super().__init__(message)
        self.error_code = error_code
        self.status_code = status_code


@dataclass
class CompiledQuery:
    """Driver-side compilation result for one geometry (one polygon of a
    MultiPolygon compiles to one of these — quirk Q7)."""
    refine_spec: geo.GeomSpec          # geometry of the DWithin predicate
    refine_buffer: float
    refine_bbox: geo.GeomSpec | None   # extra bbox conjunct (P2)
    distance_spec: geo.GeomSpec        # the 'last geometry' (quirk Q5)
    cover: np.ndarray = field(default=None)  # cell ids


_SUPPORTED = {"Point", "LineString", "Polygon", "MultiPolygon"}


def _limit_rows(limit: int) -> int | None:
    """Quirk Q1: the reference's assembly loop breaks after appending the
    (limit-1)-th feature (query_builder.py:259-261) — EXCEPT limit=1, whose
    break condition (q_idx == limit-2 == -1) never fires, returning ALL
    features (None here).  Out-of-range limits fail schema validation
    (views.py:67-69)."""
    if not 1 <= limit <= config.RESPONSE_LIMIT:
        raise InvalidUsage("limit must be in [1, %d]" % config.RESPONSE_LIMIT, 4000)
    return None if limit == 1 else limit - 1


def apply_limit_quirk(df: DataFrame, limit: int) -> DataFrame:
    """Quirk Q1 on a DataFrame (shared by PoiEngine and the correctness
    gate)."""
    n = _limit_rows(limit)
    return df if n is None else df.limit(n)


def _finite(x) -> bool:
    """x is a finite number, or a (nested) list of finite numbers."""
    if isinstance(x, (list, tuple)):
        return all(_finite(v) for v in x)
    try:
        return math.isfinite(float(x))
    except (TypeError, ValueError):
        return False


def _category_ids(filters: dict) -> list[int] | None:
    """The request's category filter — explicit ids plus the members of the
    named groups (reference views.py:108-109) — as ints; None when the
    request names neither."""
    category_ids = filters.get("category_ids")
    if filters.get("category_group_ids"):
        try:
            category_ids = taxonomy.expand_group_ids(
                filters["category_group_ids"], category_ids or []
            )
        except (TypeError, ValueError) as e:
            raise InvalidUsage(str(e), 4000) from None
    if category_ids is None:
        return None
    if len(filters.get("category_ids", [])) > config.MAXIMUM_CATEGORIES or \
       len(filters.get("category_group_ids", [])) > config.MAXIMUM_CATEGORIES:
        raise InvalidUsage("too many categories", 4000)
    try:
        return [int(c) for c in category_ids]
    except (TypeError, ValueError):
        raise InvalidUsage("category ids must be integers", 4000) from None


def _parse_geojson(gj: dict) -> tuple[str, list]:
    if not isinstance(gj, dict) or "type" not in gj:
        raise InvalidUsage("geojson type missing", 4000)
    if "coordinates" not in gj:
        raise InvalidUsage("geojson coordinates missing", 4000)
    t = gj["type"]
    if t not in _SUPPORTED:
        raise InvalidUsage(f"GeoJSON type {t} not supported", 4007)
    coords = gj["coordinates"]
    if not coords:
        raise InvalidUsage("geojson is empty", 4007)
    return t, coords


def _admit(kind: str, spec: geo.GeomSpec, buffer_m: float) -> None:
    """Admission control (reference views.py:243-294, caps from
    ops_settings.yml:3-13).  The reference measures in EPSG:3857; the local
    plane is equivalent at admitted scales.  Polygon AREA is checked by the
    caller over the whole (Multi)Polygon at once — the reference measures
    `shape(geojson).area` of the full geometry (views.py:262-268), so an
    oversized MultiPolygon of small parts must still be rejected."""
    if buffer_m < 0:
        # reference schema: Range(min=0, ...) on buffer -> 4000 (views.py:35)
        raise InvalidUsage("buffer must be >= 0", 4000)
    cap = config.MAXIMUM_SEARCH_RADIUS[kind]
    if buffer_m > cap:
        raise InvalidUsage(f"maximum buffer {cap} exceeded", 4008)
    if kind == "linestring" and spec.planar_length_m() > config.MAXIMUM_LINESTRING_LENGTH_M:
        raise InvalidUsage("Your linestring geometry is too long", 4005)


def compile_geometry(geometry: dict) -> list[CompiledQuery]:
    """Reference generate_geom_filters (query_builder.py:115-140) +
    parse_geometries (views.py:208-296), as driver-side plan compilation.
    Returns one CompiledQuery per polygon (MultiPolygon fans out, Q7)."""
    if not isinstance(geometry, dict) or ("bbox" not in geometry and "geojson" not in geometry):
        raise InvalidUsage("bbox or geojson required", 4002)
    # NaN passes every admission comparison, and the cover and the SQL
    # text need finite numbers: non-finite input is rejected up front
    try:
        buffer_m = float(geometry.get("buffer", 0))
    except (TypeError, ValueError):
        raise InvalidUsage("buffer must be a number", 4000) from None
    if not math.isfinite(buffer_m):
        raise InvalidUsage("buffer must be a finite number", 4000)

    bbox_spec = None
    if "bbox" in geometry:
        bb = geometry["bbox"]
        try:
            (x1, y1), (x2, y2) = bb
        except Exception as e:  # noqa: BLE001 — mirror reference 4007 on bad bbox
            raise InvalidUsage(f"invalid bbox: {e}", 4007) from None
        if not _finite([x1, y1, x2, y2]):
            raise InvalidUsage("bbox corners must be finite numbers", 4007)
        bbox_spec = geo.bbox_spec(min(x1, x2), min(y1, y2), max(x1, x2), max(y1, y2))
        if bbox_spec.planar_area_m2() > config.MAXIMUM_AREA_M2:
            raise InvalidUsage("Your polygon geometry is too large", 4008)

    if "geojson" not in geometry:
        # P1: POI within the (optionally buffered) bbox envelope
        # (query_builder.py:119-122); distance vs the bbox WKT (Q5)
        _admit("polygon", bbox_spec, buffer_m)
        return [CompiledQuery(bbox_spec, buffer_m, None, bbox_spec)]

    # note on 4004: the reference defaults buffer=0 BEFORE check_for_buffer
    # runs (views.py:215 vs :244), so its "buffer missing" error is
    # unreachable — a geojson request without 'buffer' is legal here too
    gtype, coords = _parse_geojson(geometry["geojson"])
    if not _finite(coords):
        raise InvalidUsage("geojson coordinates must be finite numbers", 4007)
    polys = coords if gtype == "MultiPolygon" else [coords]
    out = []
    total_area = 0.0
    for poly in polys:
        if gtype == "Point":
            spec = geo.GeomSpec("point", [coords])
            _admit("point", spec, buffer_m)
        elif gtype == "LineString":
            spec = geo.GeomSpec("linestring", coords)
            _admit("linestring", spec, buffer_m)
        else:  # Polygon / each polygon of a MultiPolygon: all rings —
            # interior rings are holes (reference views.py:228-233 parses
            # through shapely shape(), which preserves them)
            spec = geo.GeomSpec("polygon", poly[0], holes=poly[1:])
            _admit("polygon", spec, buffer_m)
            total_area += spec.planar_area_m2()
        # P2 (geom ∩ bbox, query_builder.py:124-130) vs P3 (geom only, :132-138)
        out.append(CompiledQuery(spec, buffer_m, bbox_spec, spec))
    # area of the WHOLE (Multi)Polygon, checked once (views.py:262-268)
    if total_area > config.MAXIMUM_AREA_M2:
        raise InvalidUsage("Your polygon geometry is too large", 4008)
    return out


class PoiEngine:
    def __init__(self, spark: SparkSession, prepared_dir: str,
                 invalid_log: str | None = None,
                 spheroid_distance: bool = False):
        """`spheroid_distance=True` computes point-request output distances
        on the WGS84 spheroid (the Vincenty option and the haversine bound
        are stated in geo.py); the default haversine is what the goldens
        pin."""
        self.spark = spark
        self.prepared_dir = prepared_dir
        self.invalid_log = invalid_log
        self.spheroid_distance = spheroid_distance
        self._df = prepare.read_prepared(spark, prepared_dir)
        # statements read the table through this engine's own temp view,
        # registered once: a view made per statement (spark.sql's {df}
        # form) is created, analysed and dropped on every request
        self._view = f"opss_prepared_{uuid.uuid4().hex}"
        self._df.createOrReplaceTempView(self._view)
        self._pcell_rows = self._load_pcell_stats()

    def _log_invalid(self, payload, error_code: int) -> None:
        """S9: invalid-request log (reference views.py:143-149 appends a
        timestamped line per rejected body).  Driver-side ops log, one line
        per rejection — same append-a-line shape as the reference."""
        if not self.invalid_log:
            return
        import json

        try:
            req = json.dumps(payload, sort_keys=True, default=str)
        except Exception:  # noqa: BLE001 — anything stringifiable gets logged
            req = repr(payload)
        req = req.replace("\n", "").replace(" ", "")
        with open(self.invalid_log, "a") as f:
            f.write(f"{time.strftime('%Y-%m-%d %H:%M:%S')} -: {error_code} {req}\n")

    # ------------------------------------------------------------ planning

    def _load_pcell_stats(self) -> dict[int, int]:
        """Latest committed row count per pcell from the lineage table — the
        planner statistics the reference's PostGIS ANALYZE supplied
        implicitly (and whose absence cost it 33x, reference
        misc.sql:113-143).  One bounded collect at engine construction."""
        return prepare.load_pcell_stats(self.spark, self.prepared_dir)

    def _estimate_cover_rows(self, cover: np.ndarray, res: int) -> float:
        """Expected rows inside the cover, assuming uniform density within a
        pcell: sum over pcells of n_rows * (covered res-cells / res-cells
        per pcell)."""
        if not self._pcell_rows or res < cells.PARTITION_RES:
            return 0.0
        pcs, counts = np.unique(
            cells.cell_parent(cover, cells.PARTITION_RES), return_counts=True
        )
        per_pcell = 4 ** (res - cells.PARTITION_RES)
        return float(sum(
            self._pcell_rows.get(int(pc), 0) * (int(c) / per_pcell)
            for pc, c in zip(pcs, counts)
        ))

    def _prefilter(self, cq: CompiledQuery) -> tuple[str, str, dict]:
        """Cell-cover prefilter with size-adaptive join strategy (J7), as
        the statement's (FROM source, WHERE predicate, DataFrames for the
        source's {name} slots).  Strategy choice is DENSITY-AWARE: measured
        per-pcell row counts from the lineage table refine the cover on
        dense regions (fewer false-positive rows reach the exact refine),
        which in turn flips IN-pushdown -> broadcast-hash through the size
        thresholds."""
        region = cq.refine_spec
        res = cells.pick_cover_res(region, cq.refine_buffer)
        cover = cells.cover_geometry(region, cq.refine_buffer, res)
        est = self._estimate_cover_rows(cover, res)
        if est > config.DENSE_REFINE_ROWS and res < cells.DEFAULT_RES:
            res = min(res + 2, cells.DEFAULT_RES)
            cover = cells.cover_geometry(region, cq.refine_buffer, res)
        if cq.refine_bbox is not None:
            bcover = cells.cover_geometry(cq.refine_bbox, 0.0, res)
            cover = np.intersect1d(cover, bcover)
        cq.cover = cover
        if cover.size == 0:
            return self._view, "false", {}
        # pushable lon/lat range conjunct (implied by the cover, so it never
        # changes results): plain-column comparisons reach parquet row-group
        # min/max stats, pruning byte ranges the derived-cell predicates
        # cannot (the within-partition sort by cell clusters lon/lat).
        # Continuous-frame bounds beyond ±180 (antimeridian geometries)
        # become a disjunction of the two wrapped ranges.
        mnx, mny, mxx, mxy = region.buffered_bounds(cq.refine_buffer)
        if mxx - mnx >= 360.0:
            lon_pred = "true"
        elif mxx > 180.0:
            lon_pred = f"(lon >= {_d(mnx)} OR lon <= {_d(mxx - 360.0)})"
        elif mnx < -180.0:
            lon_pred = f"(lon <= {_d(mxx)} OR lon >= {_d(mnx + 360.0)})"
        else:
            lon_pred = f"lon >= {_d(mnx)} AND lon <= {_d(mxx)}"
        pcover = np.unique(cells.cell_parent(cover, cells.PARTITION_RES)).tolist()
        preds = [lon_pred, f"lat >= {_d(mny)} AND lat <= {_d(mxy)}",
                 isin_sql("pcell", pcover)]
        cell_sql = ("cell" if res == cells.DEFAULT_RES
                    else cell_parent_sql("cell", cells.DEFAULT_RES, res))
        if cover.size <= config.ISIN_COVER_THRESHOLD:
            preds.append(isin_sql(cell_sql, cover.tolist()))
            return self._view, " AND ".join(preds), {}
        # pandas -> Arrow fast path: a 200k-cell cover as a list of tuples
        # costs seconds of driver-side pickling; a numpy-backed frame ships
        # as one Arrow batch
        import pandas as _pd

        cover_df = self.spark.createDataFrame(
            _pd.DataFrame({"qcell": cover.astype("int64")}))
        hint = ("BROADCAST(c)" if cover.size <= config.SHUFFLE_COVER_THRESHOLD
                else "REPARTITION(qcell)")
        source = (f"{self._view} JOIN (SELECT /*+ {hint} */ qcell FROM {{cover}} c) q "
                  f"ON {cell_sql} = q.qcell")
        return source, " AND ".join(preds), {"cover": cover_df}

    def knn_df(self, lon: float, lat: float, k: int, **kw) -> DataFrame:
        """Top-k nearest POIs (kNN extension, SURVEY.md §2.3) — seeds the
        ring radius from the engine's lineage density stats so the dense
        common case is a single Spark job."""
        from . import knn as _knn

        return _knn.knn(self._df.drop("bytes", "caption"), lon, lat, k,
                        pcell_rows=self._pcell_rows, **kw)

    def _pois_sql(self, payload: dict, cq: CompiledQuery) -> tuple[str, dict, dict]:
        """The un-ordered `pois` statement as (text, the DataFrames its
        {name} slots stand for, the values of its :name parameter markers):
        prefilter and category / custom tag filters inside, the exact
        refine over the computed distance outside.  `bytes` /
        `caption` are never selected, so they stay out of the scan's
        ReadSchema."""
        source, pred, frames = self._prefilter(cq)
        preds, args = [pred], {}
        tags, cats = "tags", "category_ids"
        filters = payload.get("filters") or {}
        category_ids = _category_ids(filters)
        if category_ids is not None:
            # P4 membership + Q2: the output array keeps only matching ids
            ids = ", ".join(str(c) for c in category_ids)
            preds.append(f"size(array_intersect(category_ids, array({ids}))) > 0")
            cats = f"array_intersect(category_ids, array({ids})) AS category_ids"
        custom = {k: filters[k] for k in taxonomy.TAG_WHITELIST if k in filters}
        if custom:
            # reference semantics (query_builder.py:142-158): every custom
            # filter is ANDed onto the SAME joined tag row -> a single tag
            # entry must satisfy all of them (two different keys -> no rows,
            # quirk Q3).  Expressed on the map column via EXISTS over entries.
            conj = []
            for i, (k, vals) in enumerate(custom.items()):
                args[f"k{i}"] = k.lower()
                marks = []
                for j, v in enumerate(vals):
                    args[f"v{i}_{j}"] = str(v)
                    marks.append(f":v{i}_{j}")
                conj.append(f"e.key = :k{i} AND "
                            + (f"e.value IN ({', '.join(marks)})" if marks else "false"))
            entry = " AND ".join(conj)
            preds.append(f"exists(map_entries(tags), e -> {entry})")
            # Q2: surviving tag entries only
            tags = f"map_from_entries(filter(map_entries(tags), e -> {entry})) AS tags"
        # the refine reads the distance column when both measure the same
        # geometry, so its edge fold is parsed and analysed once
        dist = _distance_sql(cq.distance_spec, "lon", "lat")
        refine = refine_sql(cq.refine_spec, cq.refine_buffer, cq.refine_bbox, "lon", "lat",
                            "distance" if cq.refine_spec is cq.distance_spec else None)
        text = (f"SELECT * FROM (SELECT image_id, osm_type, osm_id, lon, lat, cell, "
                f"pcell, {tags}, {cats}, {dist} AS distance FROM {source} "
                f"WHERE {' AND '.join(preds)}) WHERE {refine}")
        return text, frames, args

    def _pois_base(self, payload: dict, cq: CompiledQuery,
                   order: tuple[str, ...] = (), limit_rows: int | None = None) -> DataFrame:
        """The `pois` statement, optionally ordered and limited.  The
        non-default spheroid point distance replaces `distance` by the
        Vincenty UDF on the statement's filtered rows, before the order."""
        text, frames, args = self._pois_sql(payload, cq)
        tail = (f" ORDER BY {', '.join(order)}" if order else "") + \
               (f" LIMIT {limit_rows}" if limit_rows is not None else "")
        if not (self.spheroid_distance and cq.distance_spec.kind == "point"):
            return self.spark.sql(text + tail, args=args, **frames)
        vincenty = make_distance_udf(cq.distance_spec, spheroid=True)
        df = self.spark.sql(text, args=args, **frames).withColumn(
            "distance", vincenty(F.col("lon"), F.col("lat")))
        df = df.orderBy(*order) if order else df
        return df if limit_rows is None else df.limit(limit_rows)

    def pois_df(self, payload: dict, cq: CompiledQuery | None = None) -> DataFrame:
        """The POI query as one statement (reference request_pois,
        query_builder.py:31-113)."""
        if cq is None:
            cq = compile_geometry(payload["geometry"])[0]
        # the reference leaves order planner-defined; we pin (distance,
        # osm_id) unless sortby=category, so limited results are
        # deterministic (superset of the reference's guarantee, same rows)
        order = (("category_ids", "osm_id") if payload.get("sortby") == "category"
                 else ("distance", "osm_id"))
        limit = int(payload.get("limit", config.RESPONSE_LIMIT))
        return self._pois_base(payload, cq, order, _limit_rows(limit))

    def features_df(self, payload: dict, cq: CompiledQuery | None = None) -> DataFrame:
        """DISTRIBUTED GeoJSON feature assembly: one `feature` JSON string
        per matching POI, built entirely with native columns (`to_json` over
        structs; taxonomy names via a map literal) — no driver collect, no
        response limit.  This is the bulk-export shape the reference cannot
        produce (it assembles every feature in Flask): at 10^12 rows the
        export is a write job, not a response body.

        Semantics match `_feature_collection` per feature: 6-decimal
        coordinates, Q4 sorted-deduped category object, Q9 osm_tags omitted
        when empty.  (Coordinate rounding is Spark `round`; it can differ
        from Python's format() only on exact decimal ties at the 7th digit,
        which arbitrary doubles essentially never hit — asserted against
        the driver assembly in tests.  `distance` is the executor's native
        value, which for point geometries may differ from geo.py's in the
        last bits, < 1e-12 m.)"""
        if cq is None:
            cq = compile_geometry(payload["geometry"])[0]
        df = self._pois_base(payload, cq)
        _, _, cat_info, _ = taxonomy.indices()
        entries = []
        for cid, info in cat_info.items():
            entries.append(F.lit(str(int(cid))))
            entries.append(F.struct(
                F.lit(str(info["poi_name"])).alias("category_name"),
                F.lit(str(info["poi_group"])).alias("category_group"),
            ))
        cat_map = F.create_map(*entries)
        cats = F.map_from_entries(
            F.transform(
                F.array_sort(F.array_distinct(F.col("category_ids"))),
                lambda i: F.struct(
                    i.cast("string").alias("key"),
                    F.element_at(cat_map, i.cast("string")).alias("value"),
                ),
            )
        )
        props = F.struct(
            F.col("osm_id").alias("osm_id"),
            F.col("osm_type").alias("osm_type"),
            F.col("distance").alias("distance"),
            cats.alias("category_ids"),
            F.when(F.size(F.map_keys(F.col("tags"))) > 0, F.col("tags"))
            .alias("osm_tags"),  # Q9: null -> omitted by to_json
        )
        feature = F.struct(
            F.lit("Feature").alias("type"),
            F.struct(
                F.lit("Point").alias("type"),
                F.array(F.round(F.col("lon"), 6), F.round(F.col("lat"), 6))
                .alias("coordinates"),
            ).alias("geometry"),
            props.alias("properties"),
        )
        return df.select(
            "osm_id", F.to_json(feature).alias("feature")
        )

    def export_geojsonl(self, payload: dict, path: str) -> int:
        """Write the query's features as newline-delimited GeoJSON (one
        feature per line) — a distributed sink job.  MultiPolygon payloads
        fan out per polygon exactly like the request path (views.py:126-131)
        with the per-part line sets concatenated.  Returns the feature count
        (from the write's own data, one extra cheap count job)."""
        cqs = compile_geometry(payload["geometry"])
        out = self.features_df(payload, cqs[0]).select("feature")
        for cq in cqs[1:]:
            out = out.unionByName(self.features_df(payload, cq).select("feature"))
        out.write.mode("overwrite").text(path)
        return self.spark.read.text(path).count()

    # ------------------------------------------------------------ requests

    def request(self, payload: dict):
        """Dispatch exactly like the reference's /pois route (views.py:78-153)."""
        try:
            return self._request(payload)
        except InvalidUsage as e:
            self._log_invalid(payload, e.error_code)
            raise

    def _request(self, payload: dict):
        if not isinstance(payload, dict):
            # reference 4009: request body is not parseable JSON (views.py:149)
            raise InvalidUsage("request body must be a JSON object", 4009)
        req = payload.get("request")
        if req not in ("pois", "stats", "list"):
            raise InvalidUsage("request must be one of pois/stats/list", 4000)
        if req == "list":
            return taxonomy.taxonomy_listing()
        if "geometry" not in payload:
            raise InvalidUsage("geometry required", 4002)
        cqs = compile_geometry(payload["geometry"])
        # the reference branches on the geojson TYPE, not the part count
        # (views.py:122-131): any MultiPolygon — even 1-part — yields a list.
        # The fan-out wraps request_pois, which serves BOTH pois and stats
        # (views.py:126-131, query_builder request=='stats' branch), so stats
        # fans out per polygon exactly like pois, and every response — stats
        # included — carries the 'information' block (views.py:131,137).
        build = self.stats if req == "stats" else self._feature_collection
        gj = (payload["geometry"] or {}).get("geojson") or {}
        if gj.get("type") != "MultiPolygon":
            out = build(payload, cqs[0])
            out["information"] = self._query_info(payload)
            return out
        outs = []
        for cq in cqs:  # MultiPolygon fan-out, each independently limited (Q7)
            out = build(payload, cq)
            out["information"] = self._query_info(payload)
            outs.append(out)
        return outs

    def _query_info(self, payload: dict) -> dict:
        # reference api/query_info.py:8-23
        return {
            "attribution": "openpoiservice-spark | synthetic fixture data",
            "version": "0.1",
            "timestamp": int(time.time()),
            "query": payload,
        }

    def _feature_collection(self, payload: dict, cq: CompiledQuery) -> dict:
        rows = self.pois_df(payload, cq).collect()
        # the emitted distances come from geo.py, not the executor: the JVM's
        # sin/cos/asin can differ from numpy's in the last bits (< 1e-12 m);
        # recomputing the <= limit emitted rows keeps responses bit-stable
        dists = cq.distance_spec.distance_m(
            np.array([r.lon for r in rows], dtype=np.float64),
            np.array([r.lat for r in rows], dtype=np.float64),
            spheroid=self.spheroid_distance,
        )
        order = range(len(rows))
        if payload.get("sortby") != "category":
            order = sorted(order, key=lambda i: (dists[i], rows[i].osm_id))
        features, lonlats = [], []
        _, _, cat_info, _ = taxonomy.indices()
        for i in order:
            r = rows[i]
            # quirk Q6: 6-decimal string-format truncation
            x, y = truncate6(r.lon), truncate6(r.lat)
            lonlats.append((x, y))
            props = {
                "osm_id": int(r.osm_id),
                "osm_type": int(r.osm_type),
                "distance": float(dists[i]),
            }
            cat_obj = {}
            for cid in sorted(set(r.category_ids)):  # Q4: set-dedup
                info = cat_info.get(cid, {})
                cat_obj[cid] = {
                    "category_name": info.get("poi_name"),
                    "category_group": info.get("poi_group"),
                }
            props["category_ids"] = cat_obj
            if r.tags:  # quirk Q9: osm_tags omitted when no whitelisted tags
                props["osm_tags"] = dict(r.tags)  # Q4: dict last-wins
            features.append(
                {
                    "type": "Feature",
                    "geometry": {"type": "Point", "coordinates": [x, y]},
                    "properties": props,
                }
            )
        if lonlats:
            arr = np.array(lonlats)
            bbox = [float(arr[:, 0].min()), float(arr[:, 1].min()),
                    float(arr[:, 0].max()), float(arr[:, 1].max())]
        else:
            bbox = []
        return {"type": "FeatureCollection", "features": features, "bbox": bbox}

    def stats_df(self, payload: dict, cq: CompiledQuery | None = None) -> DataFrame:
        """Category histogram statement (reference query_builder.py:55-67):
        spatial filter -> explode categories -> count per category.
        Explode (not explode_outer) reproduces count(category)'s NULL-skip;
        a POI with two matching categories counts twice (quirk Q8)."""
        if cq is None:
            cq = compile_geometry(payload["geometry"])[0]
        source, pred, frames = self._prefilter(cq)
        refine = refine_sql(cq.refine_spec, cq.refine_buffer, cq.refine_bbox, "lon", "lat")
        category_ids = _category_ids(payload.get("filters") or {})
        keep = "" if category_ids is None else f" WHERE {isin_sql('category', category_ids)}"
        return self.spark.sql(
            f"SELECT category, count(category) AS count FROM (SELECT "
            f"explode(category_ids) AS category FROM {source} WHERE {pred} "
            f"AND {refine}){keep} GROUP BY category", args={}, **frames)

    def stats(self, payload: dict, cq: CompiledQuery | None = None) -> dict:
        """Nested stats JSON (reference generate_category_stats,
        query_builder.py:160-208): tiny result (<= 343 groups), rolled up on
        the driver exactly like the reference.  `cq` selects one polygon of a
        MultiPolygon fan-out (views.py:126-131 serves stats through the same
        per-polygon loop as pois)."""
        rows = self.stats_df(payload, cq).collect()
        _, _, cat_info, cat_to_group = taxonomy.indices()
        group_names = {gid: name for name, (gid, _) in taxonomy.CATEGORY_TREE.items()}
        places: dict = {"total_count": 0}
        for r in rows:
            gid = cat_to_group[r.category]
            gname = group_names[gid]
            cat_obj = {
                cat_info[r.category]["poi_name"]: {
                    "count": int(r["count"]), "category_id": int(r.category),
                }
            }
            if gname not in places:
                places[gname] = {
                    "group_id": gid, "categories": cat_obj, "total_count": int(r["count"]),
                }
            else:
                places[gname]["categories"].update(cat_obj)
                places[gname]["total_count"] += int(r["count"])
            places["total_count"] += int(r["count"])
        return {"places": places}
