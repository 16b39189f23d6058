"""Native-column helpers (SURVEY.md §2.10): cell and tile ids, caption
parsing, and the exact geometry refine and distance.

Per-row math that is closed-form double/integer arithmetic stays in native
Spark column expressions (JVM; cell and tile ids inside whole-stage codegen,
which also keeps the DuckDB oracle bit-identical).  The geometry refine and
distance are native too (see the section below); the one pandas UDF left
here is the caption-parse reference that the streaming tests compare the
native parser against, plus the non-default Vincenty distance.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import captions as _captions
from . import cells as _cells
from . import geo as _geo
from . import taxonomy as _taxonomy

# ----------------------------------------------------------- native columns

def cell_expr(lon: Column, lat: Column, res: int) -> Column:
    """Quadtree cell id as a native column expression (cells.py encoding).
    Stays in whole-stage codegen; identical arithmetic exists in the DuckDB
    oracle SQL."""
    n = 1 << res
    cx = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor((lon + 180.0) / 360.0 * n)))
    cy = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor((lat + 90.0) / 180.0 * n)))
    return (
        F.lit(res).cast("long") * F.lit(1 << _cells._RES_SHIFT).cast("long")
        + cx.cast("long") * F.lit(1 << _cells._X_SHIFT).cast("long")
        + cy.cast("long")
    )


def isin_expr(col_sql: str, values) -> Column:
    """`col IN (...)` as ONE parsed SQL expression.  Column.isin(values)
    costs one py4j round-trip per literal (~0.8 ms each — a 400-cell cover
    spends ~0.3 s of driver latency just building the predicate); a single
    F.expr string is one round-trip regardless of list size.  Values must be
    ints (cell ids).  An empty list means 'no cell can match' — the
    predicate is `false` (`IN ()` is a SQL parse error; the helper must be
    total, its callers' emptiness guards are non-local)."""
    return F.expr(isin_sql(col_sql, values))


def isin_sql(col_sql: str, values) -> str:
    """isin_expr's SQL text: `col IN (...)` over int()-cast values, or
    `false` for an empty list."""
    vals = ",".join(str(int(v)) for v in values)
    return f"{col_sql} IN ({vals})" if vals else "false"


def cell_parent_sql(col_sql: str, res_from: int, res_to: int) -> str:
    """cell_parent_expr as a SQL string (for isin_expr composition)."""
    shift = res_from - res_to
    m = _cells._XY_MASK
    return (f"(CAST({res_to} AS BIGINT) * {1 << _cells._RES_SHIFT} "
            f"+ shiftright(shiftright({col_sql}, {_cells._X_SHIFT}) & {m}, {shift}) "
            f"* {1 << _cells._X_SHIFT} "
            f"+ shiftright({col_sql} & {m}, {shift}))")


def cell_parent_expr(cell: Column, res_from: int, res_to: int) -> Column:
    """Coarsen a cell id column — pure int64 bit math (no doubles: cell ids
    exceed the 53-bit double mantissa, so any double round-trip would corrupt
    them)."""
    shift = res_from - res_to
    mask = F.lit(_cells._XY_MASK).cast("long")
    cx = F.shiftright(cell, _cells._X_SHIFT).bitwiseAND(mask)
    cy = cell.bitwiseAND(mask)
    return (
        F.lit(res_to).cast("long") * F.lit(1 << _cells._RES_SHIFT).cast("long")
        + F.shiftright(cx, shift) * F.lit(1 << _cells._X_SHIFT).cast("long")
        + F.shiftright(cy, shift)
    )


def lonlat_from_phash() -> tuple[Column, Column]:
    """Decode packed coordinates with native bit math (FIXTURES.md §2):
    phash = (lat_q << 32) | lon_q, 1e-7 degree quantization."""
    p = F.col("phash")
    lon = (p.bitwiseAND(F.lit(0xFFFFFFFF))).cast("double") / 1e7 - 180.0
    lat = F.shiftrightunsigned(p, 32).bitwiseAND(F.lit(0xFFFFFFFF)).cast("double") / 1e7 - 90.0
    return lon.alias("lon"), lat.alias("lat")


def tile_expr(lon: Column, lat: Column, z: int) -> tuple[Column, Column]:
    """Slippy tile (tx, ty) as native columns.  asinh is spelled
    ln(t + sqrt(t^2+1)) so the DuckDB oracle matches bit-for-bit
    (imaging.mercator_norm uses the same form)."""
    n = 1 << z
    xn = (lon + 180.0) / 360.0
    t = F.tan(F.radians(lat))
    yn = (F.lit(1.0) - F.log(t + F.sqrt(t * t + 1.0)) / F.lit(float(_pi()))) / 2.0
    tx = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(xn * n))).cast("long")
    ty = F.least(F.lit(n - 1), F.greatest(F.lit(0), F.floor(yn * n))).cast("long")
    return tx, ty


def _pi() -> float:
    import math

    return math.pi


# ------------------------------------------------- native caption parsing

def _unescape_expr(c: Column) -> Column:
    """%-unescape (captions._unescape) as a native replace chain."""
    return F.replace(F.replace(F.replace(c, F.lit("%3D"), F.lit("=")),
                               F.lit("%3B"), F.lit(";")),
                     F.lit("%25"), F.lit("%"))


def caption_attrs_columns() -> dict[str, Column]:
    """caption -> {osm_type, osm_id, tags, category_ids} as NATIVE column
    expressions — the whole import-side parse stays in whole-stage codegen,
    no Python in the loop (the round-1 pandas UDF cost ~6 us/row; at 10^12
    rows that is ~1700 CPU-hours per ingest wave).

    Contract: captions are the engine's canonical serialization
    (captions.encode_caption — header fields first, %-escaped `%;=`, unique
    tag keys).  The taxonomy (category_index) ships as a create_map literal:
    one flat JVM map lookup per tag, same lifecycle as the reference's
    startup-built CategoryTools indices (reference categories.py:38-63).
    Duplicate tag keys follow spark.sql.mapKeyDedupPolicy (session.py pins
    LAST_WIN = Python-dict semantics; the default EXCEPTION policy fails
    loudly rather than silently diverging).
    """
    _, category_index, _, _ = _taxonomy.indices()
    sep = "\x01"
    entries: list[Column] = []
    for k, vals in category_index.items():
        for v, cid in vals.items():
            entries.extend([F.lit(f"{k}{sep}{v}"), F.lit(int(cid))])
    cat_map = F.create_map(*entries)
    wl = F.array(*[F.lit(k) for k in _taxonomy.TAG_WHITELIST])

    cap = F.col("caption")
    tail = F.regexp_replace(cap, r"^osm_type=[^;]*;osm_id=[^;]*;?", "")
    raw = F.when(tail == "", F.expr("map()").cast("map<string,string>")) \
           .otherwise(F.str_to_map(tail, F.lit(";"), F.lit("=")))
    # escape fast-path: %-escapes are rare; the two unescape HOF passes are
    # interpreted (not codegen'd) and dominate the parse cost when applied
    # unconditionally (measured 3.0 s -> 1.8 s per 2M rows at local[32])
    esc = F.transform_values(
        F.transform_keys(raw, lambda k, _: _unescape_expr(k)),
        lambda _, v: _unescape_expr(v),
    )
    tags_all = F.when(cap.contains("%"), esc).otherwise(raw)
    # categories derive from the FULL tag set; only whitelisted keys are
    # retained for output (reference parse_osm.py:347-351)
    cats = F.array_sort(F.array_distinct(F.filter(
        F.transform(
            F.map_entries(tags_all),
            lambda e: F.element_at(cat_map, F.concat(e.key, F.lit(sep), e.value)),
        ),
        lambda x: x.isNotNull(),
    ))).cast("array<int>")
    return {
        "osm_type": F.regexp_extract(cap, r"^osm_type=([^;]*)", 1).cast("int"),
        "osm_id": F.regexp_extract(cap, r"^osm_type=[^;]*;osm_id=([^;]*)", 1).cast("long"),
        "tags": F.map_filter(tags_all, lambda k, _: F.array_contains(wl, k)),
        "category_ids": cats,
    }


# ----------------------------------------------------------- pandas UDFs

_ATTR_SCHEMA = T.StructType(
    [
        T.StructField("osm_type", T.IntegerType()),
        T.StructField("osm_id", T.LongType()),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField("category_ids", T.ArrayType(T.IntegerType())),
    ]
)


@F.pandas_udf(_ATTR_SCHEMA)
def parse_caption_udf(caption: pd.Series) -> pd.DataFrame:
    """caption -> (osm_type, osm_id, whitelisted tags, category ids).

    One Arrow batch per call; the taxonomy indices are module-level dicts,
    loaded once per executor (same lifecycle as the reference's
    startup-built CategoryTools indices, reference categories.py:38-63).
    Categories derive from the FULL tag set; only whitelisted tag keys are
    retained for output (reference parse_osm.py:347-351).
    """
    whitelist = set(_taxonomy.TAG_WHITELIST)
    _, category_index, _, _ = _taxonomy.indices()

    types, ids, tag_maps, cat_lists = [], [], [], []
    for cap in caption:
        osm_type, osm_id, tags = _captions.decode_caption(cap)
        cats = sorted(
            {
                category_index[k][v]
                for k, v in tags.items()
                if k in category_index and v in category_index[k]
            }
        )
        types.append(osm_type)
        ids.append(osm_id)
        tag_maps.append({k: v for k, v in tags.items() if k in whitelist})
        cat_lists.append(cats)
    return pd.DataFrame(
        {"osm_type": types, "osm_id": ids, "tags": tag_maps, "category_ids": cat_lists}
    )


# ------------------------------------------------- native geometry refine
#
# GeomSpec.within_m / distance_m compiled to ONE parsed Spark SQL expression
# per predicate or distance: the exact recheck after the cell-cover
# prefilter (reference misc.sql:50-52) runs in the executor JVM, with no
# Python worker and no Arrow transfer.  Three rules keep it fast and exact:
#   * one F.expr string per Column (a node-by-node Column tree costs one py4j
#     round-trip per node — the isin_expr lesson);
#   * constant expression size: the ring/segment constants travel as ONE
#     array(named_struct(...)) literal (constant-folded to a single Literal)
#     folded over with `aggregate`, and the projected point is bound once
#     through `transform(array(named_struct('x', X, 'y', Y)), p -> ...)[0]`;
#   * geo.py's arithmetic, operation for operation: constant sub-terms are
#     precomputed in numpy exactly as geo.py computes them and written as
#     exact double literals.  The planar kinds (linestring, polygon, bbox)
#     are bit-identical to geo.py; point haversine uses the JVM's sin/cos/
#     asin, which can differ from numpy's in the last bits (< 1e-12 m), so
#     the driver recomputes emitted distances with geo.py (api.py).


def _d(x) -> str:
    """Exact double literal: repr round-trips the value; the D suffix keeps
    it DOUBLE (a bare 1.5 parses as DECIMAL).  Negatives are parenthesized
    so `a - -1.0D` can never become a `--` comment."""
    r = f"{float(x)!r}D"
    return f"({r})" if r.startswith("-") else r


def _col_sql(c: Column) -> str:
    """SQL text of an input column reference such as F.col("lon") (read
    from its expression node — one py4j call)."""
    return c._jc.toString()


def _ring_edges(xy: np.ndarray, ring: int, close: bool) -> list[str]:
    """named_struct literals for the edges of one ring or polyline.

    Segment fields (ax, ay, dx, dy, den) follow geo.dist_to_segments_m over
    the vertices as given; ray-cast fields (ax, ay, by, dx, rden) follow
    geo.point_in_ring over the closed ring.  With `close`, a missing closing
    edge is appended with s=false: it takes part in the ray cast only."""
    n_seg = len(xy) - 1
    if close:
        xy = _geo._closed(xy)
    a, b = xy[:-1], xy[1:]
    dx, dy = (b - a)[:, 0], (b - a)[:, 1]
    l2 = dx * dx + dy * dy
    den = np.where(l2 > 0.0, l2, 1.0)
    rden = np.where(dy != 0.0, dy, 1.0)
    return [
        f"named_struct('ax', {_d(a[i, 0])}, 'ay', {_d(a[i, 1])}, "
        f"'by', {_d(b[i, 1])}, 'dx', {_d(dx[i])}, 'dy', {_d(dy[i])}, "
        f"'den', {_d(den[i])}, 'rden', {_d(rden[i])}, "
        f"'s', {'true' if i < n_seg else 'false'}, 'r', {ring})"
        for i in range(len(a))
    ]


_INF = "CAST('Infinity' AS DOUBLE)"


def _min_d2(acc: str) -> str:
    """least(acc, squared planar distance from point p to segment e), as
    geo.dist_to_segments_m computes it: clamped projection parameter t,
    closest point c = a + t*d, |p - c|^2.  t is bound once per edge by an
    inner one-element `aggregate` whose start value is the running min."""
    t = "least(greatest(((p.x - e.ax) * e.dx + (p.y - e.ay) * e.dy) / e.den, 0D), 1D)"
    d2 = ("(p.x - (e.ax + t * e.dx)) * (p.x - (e.ax + t * e.dx)) + "
          "(p.y - (e.ay + t * e.dy)) * (p.y - (e.ay + t * e.dy))")
    return f"aggregate(array({t}), {acc}, (q, t) -> least(q, {d2}))"


# the horizontal ray from p crosses edge e (geo.point_in_ring)
_CROSS = "((e.ay > p.y) != (e.by > p.y) AND p.x < e.ax + (p.y - e.ay) * e.dx / e.rden)"


def _project_sql(spec: "_geo.GeomSpec", lon: str, lat: str) -> tuple[str, str]:
    """geo.local_xy(lon, lat, spec.lon0, spec.lat0) as SQL, antimeridian
    wrap included (np.mod's sign rule spelled out: `%` is C fmod)."""
    m = _geo.M_PER_DEG_LAT
    dl = f"({lon} - {_d(spec.lon0)})"
    r = f"(({dl} + 180D) % 360D)"
    wrapped = f"IF(abs({dl}) > 180D, IF({r} < 0D, {r} + 360D, {r}) - 180D, {dl})"
    x = f"{wrapped} * {_d(m)} * {_d(np.cos(np.radians(spec.lat0)))}"
    y = f"({lat} - {_d(spec.lat0)}) * {_d(m)}"
    return x, y


def _haversine_sql(spec: "_geo.GeomSpec", lon: str, lat: str) -> str:
    """geo.haversine_m(lon, lat, *spec.coords[0]) as SQL; the query point's
    terms are precomputed by the same numpy calls geo.py makes."""
    k = _d(np.pi / 180.0)  # np.radians multiplies by this constant
    lon2, lat2 = (np.asarray(v, dtype=np.float64) for v in spec.coords[0])
    rl2 = np.radians(lat2)
    rl1 = f"({lat} * {k})"
    s1 = f"sin(({_d(rl2)} - {rl1}) / 2D)"
    s2 = f"sin(({_d(np.radians(lon2))} - {lon} * {k}) / 2D)"
    a = f"{s1} * {s1} + cos({rl1}) * {_d(np.cos(rl2))} * ({s2} * {s2})"
    return f"{_d(2.0 * _geo.EARTH_RADIUS_M)} * asin(least(1D, sqrt({a})))"


def _distance_sql(spec: "_geo.GeomSpec", lon: str, lat: str) -> str:
    """GeomSpec.distance_m (spheroid=False) as one SQL expression."""
    if spec.kind == "point":
        return _haversine_sql(spec, lon, lat)
    if spec.kind == "linestring":
        edges = _ring_edges(spec._xy, 0, close=False)
        body = f"sqrt(aggregate(array({', '.join(edges)}), {_INF}, (m, e) -> {_min_d2('m')}))"
    elif spec.kind == "polygon":
        # outer ring first, then the holes: min squared distance over every
        # segment; even-odd parity per ring, folded ring by ring (inside =
        # odd parity on ring 0 and even parity on every hole)
        edges = _ring_edges(spec._xy, 0, close=True)
        for i, hxy in enumerate(spec._holes_xy, start=1):
            edges += _ring_edges(hxy, i, close=True)
        ring_ok = "(a.r = 0) = a.c"
        body = (
            f"aggregate(array({', '.join(edges)}), "
            f"named_struct('d2', {_INF}, 'r', 0, 'c', false, 'ok', true), "
            f"(a, e) -> named_struct("
            f"'d2', IF(e.s, {_min_d2('a.d2')}, a.d2), 'r', e.r, "
            f"'c', IF(e.r = a.r, a.c, false) != {_CROSS}, "
            f"'ok', a.ok AND (e.r = a.r OR {ring_ok})), "
            f"a -> IF(a.ok AND {ring_ok}, 0D, sqrt(a.d2)))"
        )
    else:
        raise ValueError(f"unknown geometry kind: {spec.kind}")
    x, y = _project_sql(spec, lon, lat)
    return f"transform(array(named_struct('x', {x}, 'y', {y})), p -> {body})[0]"


def make_refine_udf(spec: "_geo.GeomSpec", buffer_m: float,
                    bbox: "_geo.GeomSpec | None" = None):
    """Exact spatial refine: ST_DWithin(buffered geom [∩ bbox], point, 0)
    (reference query_builder.py:119-138), i.e. GeomSpec.within_m.

    Returns a callable (lon, lat) -> boolean Column: one native Spark SQL
    expression, no Python worker.  The name and call shape are kept from
    the former pandas UDF so bench.py, __spark_entry__.py and perfbench
    call it unchanged."""

    def refine(lon, lat) -> Column:
        return F.expr(refine_sql(spec, buffer_m, bbox, _col_sql(lon), _col_sql(lat)))

    return refine


def refine_sql(spec: "_geo.GeomSpec", buffer_m: float,
               bbox: "_geo.GeomSpec | None", lon: str, lat: str,
               distance: str | None = None) -> str:
    """make_refine_udf's predicate as SQL text.  `distance`, when given,
    is SQL already holding `_distance_sql(spec, lon, lat)` (such as a
    column computed once beside it)."""
    sql = f"{distance or _distance_sql(spec, lon, lat)} <= {_d(buffer_m)}"
    if bbox is not None:
        sql = f"({sql}) AND {_distance_sql(bbox, lon, lat)} <= 0D"
    return sql


def make_distance_udf(spec: "_geo.GeomSpec", spheroid: bool = False):
    """Geodesic meters to the query geometry (reference ST_Distance at
    query_builder.py:98; which geometry per quirk Q5 is the caller's job),
    i.e. GeomSpec.distance_m.

    Returns a callable (lon, lat) -> double Column, a native expression; the
    name is kept for bench.py and __spark_entry__.py.  `spheroid=True` on a
    point geometry keeps the Arrow pandas UDF over geo.vincenty_m (see
    geo.py for the option and the haversine bound); other kinds ignore the
    flag, as GeomSpec.distance_m does."""
    if spheroid and spec.kind == "point":
        @F.pandas_udf(T.DoubleType())
        def vincenty(lon: pd.Series, lat: pd.Series) -> pd.Series:
            return pd.Series(spec.distance_m(lon.to_numpy(), lat.to_numpy(), spheroid=True))

        return vincenty

    def distance(lon, lat) -> Column:
        return F.expr(_distance_sql(spec, _col_sql(lon), _col_sql(lat)))

    return distance
