"""Many-geometry batch spatial join — the J7 *batch* mode (SURVEY.md §2.3).

The request path (api.PoiEngine) executes ONE query geometry per plan,
exactly like the reference builds one SQLAlchemy plan per request (reference
openpoiservice/server/api/query_builder.py:31-113).  A 100 TB training-data
pipeline instead joins MILLIONS of geometries (geo-tag every image against a
polygon/region layer) in one job.  This module is that operator:

    geometries ──mapInPandas──> (qcell, geom_id, geometry cols)   [cover explode]
                                        │ shuffle by (qcell[, salt])
    points ────native cell_expr──> qcell[, salt] ─┘
                 equi-JOIN (never a cartesian product)
                        │  (pipelined, same stage)
            mapInPandas exact per-geometry refine  ──> (geom_id, point keys)

Scale properties:
  * The point side carries NO geometry payload through the shuffle — only the
    int64 join key(s); the geometry side is N_geoms x |cover| small rows.
  * One shuffle per side (the equi-join's own hash partitioning).  The exact
    refine is pipelined into the post-join stage — no extra exchange.
  * A point has exactly ONE cover cell at the join resolution and each
    geometry's cover cells are distinct, so (geom_id, point) pairs are unique
    by construction — no dedup stage is needed.
  * Dense cells (urban skew) are salted: the point side picks a deterministic
    salt in [0, S) per row, the geometry side replicates its cover row S
    times, and the join key becomes (qcell, salt) — same row-set, S-way
    fan-out of the hot cell across reducers.  `auto_salt_cells` derives the
    salt map from the lineage per-pcell statistics (prepare.load_pcell_stats),
    the same stats the single-query planner uses for its strategy choice.
  * Covers are computed DISTRIBUTEDLY (mapInPandas over the geometry table):
    no driver-side loop over N geometries, so N scales past what the driver
    could enumerate.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import cells, geo
from .functions import cell_expr, cell_parent_expr, isin_expr
from .topk import partial_topk, rank_topk

#: geometry-table schema: one row per query geometry.  `gspec` is the packed
#: JSON geometry `[kind, coords, holes, buffer]` (pack_geom) — a single
#: string column, deliberately NOT GeoJSON-style nested arrays: a
#: list<list<list<double>>> column segfaults pyarrow's arrow_to_pandas on
#: this container's pyarrow when crossing into mapInPandas, and the flat
#: string is smaller on the wire anyway.  Geometry layers stored as
#: WKT/GeoJSON text parse into this format with one native from_json/UDF
#: pass.
GEOM_SCHEMA = T.StructType([
    T.StructField("geom_id", T.LongType(), False),
    T.StructField("gspec", T.StringType(), False),
])


def pack_geom(spec: geo.GeomSpec, buffer_m: float) -> str:
    """Compact JSON geometry encoding `[kind, coords, holes, buffer]`."""
    import json

    return json.dumps(
        [spec.kind, [[float(x), float(y)] for x, y in spec.coords],
         [[[float(x), float(y)] for x, y in h] for h in spec.holes] or None,
         float(buffer_m)], separators=(",", ":"))


def geoms_to_df(spark: SparkSession, items: Iterable[tuple[int, geo.GeomSpec, float]]
                ) -> DataFrame:
    """Build the geometry table from driver-side (geom_id, GeomSpec, buffer)
    triples — the small-N convenience constructor (tests, gates).  Large-N
    pipelines produce GEOM_SCHEMA rows distributedly from their stored
    geometry layer."""
    rows = [(int(gid), pack_geom(spec, buf)) for gid, spec, buf in items]
    # pandas -> Arrow fast path (list-of-tuples createDataFrame pays per-row
    # pickling; noticeable from ~10^4 geometries up)
    pdf = pd.DataFrame(rows, columns=["geom_id", "gspec"])
    return spark.createDataFrame(pdf, GEOM_SCHEMA)


def _unpack_geom(s: str) -> tuple[geo.GeomSpec, float]:
    import json

    kind, coords, holes, buf = json.loads(s)
    return geo.GeomSpec(kind, coords, holes=holes), float(buf)


#: per-worker spec cache: a geometry appears in MANY Arrow batches of the
#: refine stage (once per qcell per partition) — at N=5000 geometries the
#: repeated JSON parse + GeomSpec construction dominated the refine (24 s ->
#: ~16 s for the 5000-geometry sweep at sf0.1).  Keyed by the packed string;
#: bounded with a wholesale clear (simple, and a worker rarely sees more
#: than one layer's geometries).
_SPEC_CACHE: dict[str, tuple] = {}


def _unpack_geom_cached(s: str) -> tuple[geo.GeomSpec, float]:
    out = _SPEC_CACHE.get(s)
    if out is None:
        if len(_SPEC_CACHE) >= 65536:
            _SPEC_CACHE.clear()
        out = _SPEC_CACHE[s] = _unpack_geom(s)
    return out


_COVER_SCHEMA = T.StructType([
    T.StructField("qcell", T.LongType(), False),
    T.StructField("geom_id", T.LongType(), False),
    T.StructField("gspec", T.StringType(), False),
])


def cover_rows(geoms_df: DataFrame, res: int,
               min_buffer_m: float = 0.0) -> DataFrame:
    """Explode each geometry into its cell cover at `res`: one row per
    (qcell, geometry).  The packed geometry rides along so the exact refine
    after the join needs no second join and no driver broadcast — the cover
    rows ARE the broadcast-free shipping of the geometries to exactly the
    reducers that need them."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            frames = []
            for i in range(len(b)):
                gspec = b["gspec"].iloc[i]
                spec, buf = _unpack_geom(gspec)
                cover = cells.cover_geometry(spec, max(buf, min_buffer_m), res)
                if cover.size == 0:
                    continue
                frames.append(pd.DataFrame({
                    "qcell": cover.astype(np.int64),
                    "geom_id": np.int64(b["geom_id"].iloc[i]),
                    "gspec": gspec,
                }))
            if frames:  # never yield empty frames (Arrow empty-cast gotcha)
                yield pd.concat(frames, ignore_index=True)

    return geoms_df.mapInPandas(run, schema=_COVER_SCHEMA)


def pcell_footprint(geoms_df: DataFrame, res: int,
                    min_buffer_m: float = 0.0) -> list[int]:
    """The geometry layer's PARTITION-key footprint: each geometry's FINE
    cover (the same one the join will use — a coarse-res cover computed
    directly is NOT a guaranteed superset of the fine cover's parents, the
    half-diagonal slack differs) reduced to its distinct pcells inside the
    stage, so the job's output is tiny (<= 4^7 cells planet-wide) however
    large N x |cover| is.  One extra pass over the SMALL geometry side —
    deliberately not a cache of the cover rows, which would pin
    N x |cover| x |gspec| bytes of executor memory at production N."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            pcs: set[int] = set()
            for i in range(len(b)):
                spec, buf = _unpack_geom(b["gspec"].iloc[i])
                cover = cells.cover_geometry(spec, max(buf, min_buffer_m), res)
                if cover.size:
                    pcs.update(
                        int(c) for c in
                        np.unique(cells.cell_parent(cover, cells.PARTITION_RES)))
            if pcs:
                yield pd.DataFrame({"pc": sorted(pcs)})

    df = geoms_df.mapInPandas(run, schema="pc long")
    return sorted({r.pc for r in df.distinct().collect()})


def pick_batch_res(items, sample: int = 256) -> int:
    """Driver-side shared-resolution pick for a geometry batch: the median
    of cells.pick_cover_res over a bounded sample (all covers and the point
    key must agree on ONE res).  Median, not min/max: one continent-sized
    outlier must not coarsen every city-sized geometry's cover (false-
    positive explosion), nor one tiny geometry blow up a big one's cover
    row count — outliers on either side still get correct results, just a
    less-optimal cover for themselves."""
    items = list(items)
    step = max(1, len(items) // sample)
    picks = sorted(
        cells.pick_cover_res(spec, buf) for _, spec, buf in items[::step]
    )
    return picks[len(picks) // 2] if picks else cells.DEFAULT_RES


def auto_salt_cells(pcell_rows: dict[int, int], threshold: int,
                    max_salt: int = 32) -> dict[int, int]:
    """Salt map from the lineage per-pcell row counts: pcells whose count
    exceeds `threshold` get S = ceil(count / threshold) (capped) salt
    buckets.  Keyed at PARTITION_RES — the granularity the lineage measures."""
    out = {}
    for pc, n in pcell_rows.items():
        if n > threshold:
            out[int(pc)] = min(int(np.ceil(n / threshold)), max_salt)
    return out


def _refine_fn(keep_cols: list[str], lon_col: str, lat_col: str,
               with_distance: bool = False, min_buffer_m: float = 0.0):
    """mapInArrow body of the exact refine.  Every candidate row carries
    the packed geometry JSON `gspec`; the Arrow batch keeps it in its
    contiguous buffer and the body reads it once per geometry group via
    .as_py() (a pandas body would materialize one Python string per
    candidate, ~60 MB and a few hundred ms per 300k candidates at sf0.1).
    lon/lat/geom_id convert zero-copy to numpy and each group is refined
    as one vectorized call."""

    def run(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if not n:
                continue
            lon = b.column(lon_col).to_numpy(zero_copy_only=False)
            lat = b.column(lat_col).to_numpy(zero_copy_only=False)
            gids = b.column("geom_id").to_numpy(zero_copy_only=False)
            keep = np.zeros(n, dtype=bool)
            dist = np.zeros(n, dtype=np.float64) if with_distance else None
            # group by geometry within the Arrow batch: the join's hash
            # partitioning clusters each qcell's rows, so batches contain
            # few distinct geometries and each group refines vectorized
            order = np.argsort(gids, kind="stable")
            bounds = np.flatnonzero(np.diff(gids[order])) + 1
            gspec_col = b.column("gspec")
            for idx in np.split(order, bounds):
                spec, buf = _unpack_geom_cached(gspec_col[int(idx[0])].as_py())
                d = spec.distance_m(lon[idx], lat[idx])
                keep[idx] = d <= max(buf, min_buffer_m)
                if with_distance:
                    dist[idx] = d
            if keep.any():
                mask = pa.array(keep)
                arrays = [b.column("geom_id").filter(mask)] + \
                    [b.column(c).filter(mask) for c in keep_cols]
                names = ["geom_id", *keep_cols]
                if with_distance:
                    arrays.append(pa.array(dist[keep], type=pa.float64()))
                    names.append("distance")
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    return run


def batch_spatial_join(points: DataFrame, geoms_df: DataFrame, res: int,
                       keep_cols: tuple[str, ...] = ("poi_id",),
                       lon_col: str = "lon", lat_col: str = "lat",
                       salt_cells: dict[int, int] | None = None,
                       salt_res: int = cells.PARTITION_RES,
                       with_distance: bool = False,
                       pcell_col: str | None = None,
                       min_buffer_m: float = 0.0) -> DataFrame:
    """JOIN every point against every query geometry containing it, in ONE
    job.  Returns (geom_id, *keep_cols) pairs — inner-join semantics: points
    matching no geometry and geometries matching no point produce no row.

    res: shared cover/join resolution (every geometry's cover and the point
    cell key must agree).  Pick ~ the finest res whose typical cover stays
    small (cells.pick_cover_res of a representative geometry).
    salt_cells: {salt_res-cell id -> S} skew map (see auto_salt_cells); the
    hot cells' join work fans out S ways with identical output.
    pcell_col: name of the points table's coarse PARTITION key column (the
    prepared layout's `pcell`).  When given, the geometry layer's pcell
    footprint (one bounded collect over the small cover side, <= 4^7 cells
    planet-wide) becomes an IN filter on that column — PARQUET DIRECTORY
    PRUNING on the point side, so a regional geometry layer never scans the
    planet-scale table's other partitions.
    min_buffer_m: floor on every geometry's candidacy radius (cover AND
    refine use max(buffer, min_buffer_m)) — batch_nearest's max_radius
    escape hatch rides on this."""
    covers = cover_rows(geoms_df, res, min_buffer_m)
    qcell = cell_expr(F.col(lon_col), F.col(lat_col), res)
    if pcell_col is not None:
        pcs = pcell_footprint(geoms_df, res, min_buffer_m)
        if not pcs:
            points = points.filter(F.lit(False))
        else:
            points = points.filter(isin_expr(pcell_col, pcs))
    cols = list(dict.fromkeys([*keep_cols, lon_col, lat_col]))
    pts = points.select(*cols).withColumn("qcell", qcell)

    if salt_cells:
        entries = []
        for c, s in sorted(salt_cells.items()):
            entries.extend([F.lit(int(c)), F.lit(int(s))])
        salt_map = F.create_map(*entries)
        nsalt_p = F.coalesce(
            F.element_at(salt_map, cell_parent_expr(F.col("qcell"), res, salt_res)),
            F.lit(1))
        # deterministic per-row salt: any well-mixed function of the row works
        pts = pts.withColumn(
            "salt", F.pmod(F.xxhash64(F.col(lon_col), F.col(lat_col)), nsalt_p))
        nsalt_g = F.coalesce(
            F.element_at(salt_map, cell_parent_expr(F.col("qcell"), res, salt_res)),
            F.lit(1))
        covers = covers.withColumn(
            "salt", F.explode(F.sequence(F.lit(0).cast("long"), nsalt_g - 1)))
        joined = pts.join(covers, ["qcell", "salt"]).drop("qcell", "salt")
    else:
        joined = pts.join(covers, "qcell").drop("qcell")

    out_schema = T.StructType(
        [T.StructField("geom_id", T.LongType(), False)]
        + [joined.schema[c] for c in keep_cols]
        + ([T.StructField("distance", T.DoubleType(), False)]
           if with_distance else [])
    )
    return joined.mapInArrow(
        _refine_fn(list(keep_cols), lon_col, lat_col, with_distance,
                   min_buffer_m),
        schema=out_schema)


# --------------------------------------------------------------- batch kNN

#: query-table schema for batch_knn: one row per probe location.
KNN_QUERY_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("qlon", T.DoubleType(), False),
    T.StructField("qlat", T.DoubleType(), False),
])

_KNN_COVER_SCHEMA = T.StructType([
    T.StructField("qcell", T.LongType(), False),
    T.StructField("query_id", T.LongType(), False),
    T.StructField("qlon", T.DoubleType(), False),
    T.StructField("qlat", T.DoubleType(), False),
])

_KNN_META_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("r", T.LongType(), False),
    T.StructField("fence_m", T.DoubleType(), False),
])


def _disk_fence_m(res: int, cy: int, r: int) -> float:
    """Guaranteed-covered Euclidean radius of the Chebyshev cell disk: r x
    the smallest cell dimension over the WHOLE disk's latitude span (lon
    cell width shrinks poleward — same fence as knn.min_dim_disk).  +inf
    when the disk covers the full latitude axis AND r wraps the lon axis
    (nothing outside the disk exists, the probe is exact by construction)."""
    n = 1 << res
    if 2 * r + 1 >= n and cy - r <= 0 and cy + r + 1 >= n:
        return float("inf")
    lat_lo = -90.0 + max(cy - r, 0) * 180.0 / n
    lat_hi = -90.0 + min(cy + r + 1, n) * 180.0 / n
    lat_edge = min(max(abs(lat_lo), abs(lat_hi)), 89.99)
    h = 180.0 / n * geo.M_PER_DEG_LAT
    w = 360.0 / n * geo.M_PER_DEG_LAT * float(np.cos(np.radians(lat_edge)))
    return float(r) * min(w, h)


def _seeded_r(lon: float, lat: float, k: int, res: int,
              pcell_rows: dict[int, int] | None, r0: int | None,
              max_ring: int) -> int:
    from . import knn as _knn

    if r0 is not None:
        return min(int(r0), max_ring)
    seeded = _knn.seed_radius(lon, lat, k, pcell_rows or {}, res,
                              max_rings=max_ring)
    if seeded is not None:
        return seeded
    return min(max(1, int(np.ceil(np.sqrt(k) / 2.0))), max_ring)


def _knn_meta_fn(k: int, res: int, pcell_rows, r0, max_ring):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = []
            for i in range(len(b)):
                lon = float(b["qlon"].iloc[i])
                lat = float(b["qlat"].iloc[i])
                r = (int(b["r"].iloc[i]) if "r" in b.columns
                     else _seeded_r(lon, lat, k, res, pcell_rows, r0, max_ring))
                cy = int(cells.cell_of(lon, lat, res)) & ((1 << 26) - 1)
                out.append((np.int64(b["query_id"].iloc[i]), np.int64(r),
                            _disk_fence_m(res, cy, r)))
            if out:
                yield pd.DataFrame(out, columns=["query_id", "r", "fence_m"])

    return run


def _knn_cover_fn(k: int, res: int, pcell_rows, r0, max_ring):
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            frames = []
            for i in range(len(b)):
                lon = float(b["qlon"].iloc[i])
                lat = float(b["qlat"].iloc[i])
                r = (int(b["r"].iloc[i]) if "r" in b.columns
                     else _seeded_r(lon, lat, k, res, pcell_rows, r0, max_ring))
                disk = cells.ring_cells(int(cells.cell_of(lon, lat, res)), r)
                frames.append(pd.DataFrame({
                    "qcell": disk.astype(np.int64),
                    "query_id": np.int64(b["query_id"].iloc[i]),
                    "qlon": lon,
                    "qlat": lat,
                }))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return run


def _knn_frames(batches: Iterator[pd.DataFrame], keep_cols: list[str],
                lon_col: str, lat_col: str) -> Iterator[pd.DataFrame]:
    """Exact haversine per joined (query, point) candidate, one frame per
    Arrow batch — the input of the shared per-task partial top-k."""
    for b in batches:
        if len(b):
            d = geo.haversine_m(b[lon_col].to_numpy(), b[lat_col].to_numpy(),
                                b["qlon"].to_numpy(), b["qlat"].to_numpy())
            yield b[["query_id", *keep_cols]].assign(distance=d)


def batch_knn(points: DataFrame, queries_df: DataFrame, k: int, res: int,
              keep_cols: tuple[str, ...] = ("poi_id",),
              lon_col: str = "lon", lat_col: str = "lat",
              r0: int | None = None,
              pcell_rows: dict[int, int] | None = None,
              max_rounds: int = 6, max_ring: int = 32,
              pcell_col: str | None = None,
              salt_cells: dict[int, int] | None = None,
              salt_res: int = cells.PARTITION_RES,
              probe_stats: dict | None = None) -> DataFrame:
    """For EACH of N probe locations, the k nearest points — in one
    distributed job per round, never a per-query driver loop (the
    reference's ORDER BY distance + LIMIT path, reference
    openpoiservice/server/api/query_builder.py:84-103, runs once per
    request — this is its N-queries-at-once pipeline shape).

    queries_df: KNN_QUERY_SCHEMA rows (query_id, qlon, qlat).
    Returns (query_id, *keep_cols, distance) — k rows per query (fewer only
    if the whole table holds fewer candidates).

    Shape per round:
      1. per-query Chebyshev cell disk (radius seeded from lineage density
         stats when given, else r0) exploded distributedly into cover rows;
      2. ONE equi-join on qcell against the slim point side;
      3. exact haversine + the shared per-task partial top-k
         (`topk.partial_topk`) in the SAME Arrow pass (the shuffle to
         query_id then carries <= k rows per task per query, not all
         candidates);
      4. global top-k via `topk.rank_topk` over (distance, keep_cols[0]);
      5. distributed correctness fence: a query whose k-th distance exceeds
         its disk's guaranteed-covered radius (or that found < k rows)
         re-probes next round with an expanded disk.  Rounds coarsen the
         join resolution so a disk never exceeds (2*max_ring+1)^2 cells —
         planet-wide fallback terminates at res 0 (fence = +inf).
    The per-round driver work is one aggregate over the failing set (its
    size and largest next radius); queries and radii stay DataFrame-resident
    throughout (no collect of the query set).

    salt_cells: the same lineage-driven skew map the batch join takes
    (auto_salt_cells) — a hot urban cell's candidate rows fan out S ways
    (disk cover rows replicate per salt, points pick a deterministic salt),
    so the per-partition partial top-k parallelizes inside the hot cell
    instead of serializing on one reducer.  Applied while the round res is
    at/finer than salt_res (a coarser re-probe has no salted ancestors)."""
    if k <= 0:
        raise ValueError("k must be positive")
    tie = keep_cols[0]
    cols = list(dict.fromkeys([*keep_cols, lon_col, lat_col]))
    remaining = queries_df.select(
        F.col("query_id").cast("long"),
        F.col("qlon").cast("double"), F.col("qlat").cast("double"))
    done: DataFrame | None = None
    rounds = 0
    res_r = res
    for rnd in range(max_rounds):
        rounds += 1
        meta = remaining.mapInPandas(
            _knn_meta_fn(k, res_r, pcell_rows, r0, max_ring),
            schema=_KNN_META_SCHEMA)
        covers = remaining.mapInPandas(
            _knn_cover_fn(k, res_r, pcell_rows, r0, max_ring),
            schema=_KNN_COVER_SCHEMA)
        pts = points.select(*cols)
        if pcell_col is not None and res_r >= cells.PARTITION_RES:
            # footprint pruning only while the join res is at/finer than the
            # table's partition key: a coarser re-probe round's cover cells
            # have no pcell ancestors to IN-match (and a disk that coarse is
            # approaching a full scan anyway) — skip the filter, never emit
            # a wrong one
            pcs = sorted({
                int(r.pc) for r in covers.select(
                    F.expr(_pcell_parent_sql("qcell", res_r)).alias("pc")
                ).distinct().collect()
            })
            pts = pts.filter(isin_expr(pcell_col, pcs)) if pcs else \
                pts.filter(F.lit(False))
        pts = pts.withColumn(
            "qcell", cell_expr(F.col(lon_col), F.col(lat_col), res_r))
        if salt_cells and res_r >= salt_res:
            entries = []
            for c, sv in sorted(salt_cells.items()):
                entries.extend([F.lit(int(c)), F.lit(int(sv))])
            salt_map = F.create_map(*entries)
            nsalt = F.coalesce(
                F.element_at(salt_map,
                             cell_parent_expr(F.col("qcell"), res_r, salt_res)),
                F.lit(1))
            pts = pts.withColumn(
                "salt",
                F.pmod(F.xxhash64(F.col(lon_col), F.col(lat_col)), nsalt))
            covers = covers.withColumn("qsalt", F.coalesce(
                F.element_at(salt_map,
                             cell_parent_expr(F.col("qcell"), res_r, salt_res)),
                F.lit(1)))
            covers = covers.withColumn(
                "salt",
                F.explode(F.sequence(F.lit(0).cast("long"),
                                     F.col("qsalt") - 1))).drop("qsalt")
            joined = pts.join(covers, ["qcell", "salt"]).drop("qcell", "salt")
        else:
            joined = pts.join(covers, "qcell").drop("qcell")
        local = joined.mapInPandas(
            lambda batches: partial_topk(
                _knn_frames(batches, list(keep_cols), lon_col, lat_col),
                k, "distance", tie),
            schema=T.StructType(
                [T.StructField("query_id", T.LongType(), False)]
                + [joined.schema[c] for c in keep_cols]
                + [T.StructField("distance", T.DoubleType(), False)]))
        # materialized ONCE below (<= N*k rows — the result size): the
        # fence check AND the caller's terminal action read the blocks
        # instead of each executing the cover-join + partial top-k chain
        topk = rank_topk(local, k, ["distance", tie])
        if probe_stats is not None:
            # pre-checkpoint plan per round (the checkpoint truncates the
            # caller-visible plan to Scan ExistingRDD; tests assert the
            # candidate-join shape through this hook)
            probe_stats.setdefault("plans", []).append(
                topk._jdf.queryExecution().executedPlan().toString())
        topk = topk.localCheckpoint()
        stats = topk.groupBy("query_id").agg(
            F.count("*").alias("n"), F.max("distance").alias("dk"))
        checked = meta.join(stats, "query_id", "left")
        # a full-coverage disk (fence = +inf) is exact whatever it found —
        # even < k rows just means the table has fewer candidates
        ok_pred = (F.col("fence_m") == float("inf")) | (
            (F.col("n") == k) & (F.col("dk") <= F.col("fence_m")))
        if rnd == max_rounds - 1:
            failing = checked.filter(F.lit(False))  # last round: take as-is
        else:
            failing = checked.filter(~F.coalesce(ok_pred, F.lit(False)))
        # materialize the round's failing set ONCE (ids + expanded radius,
        # in CURRENT-res cell units, uncapped — the next round's resolution
        # derives from the largest need); the ok results union lazily.
        # An empty disk (n null) grows 8x: emptiness means the neighbourhood
        # is sparse, and over-expansion into pruned-empty cells is cheap —
        # a doubling schedule would need O(log2(planet/d0)) rounds to reach
        # a far-away cluster.
        dk_term = F.coalesce(
            F.ceil(F.col("dk") / (F.col("fence_m") / F.col("r"))), F.lit(0))
        fail_meta = failing.select(
            "query_id",
            F.when(F.coalesce(F.col("n"), F.lit(0)) < k,
                   F.greatest(F.col("r") * 8, dk_term)).otherwise(
                F.greatest(F.col("r") * 2, dk_term)
            ).cast("long").alias("r_next"))
        fail_meta.cache()
        n_fail, mx = fail_meta.agg(F.count("*"), F.max("r_next")).first()
        if n_fail == 0:
            done = topk if done is None else done.unionByName(topk)
            fail_meta.unpersist()
            break
        # multi-round path: the accepted rows read the round's checkpointed
        # top-k blocks, so the anti-join here is cheap and the lazy union's
        # plan depth stays O(1) per round
        this_round = topk.join(
            F.broadcast(fail_meta.select("query_id")), "query_id",
            "left_anti")
        done = this_round if done is None else done.unionByName(this_round)
        # pick next round's res so the LARGEST needed disk stays within
        # max_ring cells (bounded cover size per query however far the
        # expansion must reach); everyone's radius rescales to the new res
        shift = (int(math.ceil(math.log2(mx / max_ring)))
                 if mx > max_ring else 0)
        res_next = max(res_r - shift, 0)
        eff = res_r - res_next  # may be < shift when res floors at 0 ...
        res_r = res_next
        remaining = (
            remaining.drop("r")
            .join(F.broadcast(fail_meta), "query_id")
            .withColumn("r", F.least(  # ... so clamp (res 0 = full cover)
                F.greatest(F.ceil(F.col("r_next") / F.lit(float(1 << eff))),
                           F.lit(1)),
                F.lit(int(max_ring))).cast("long"))
            .drop("r_next")
        ).localCheckpoint()
        # remaining + this_round are materialized: the round's cached
        # fail_meta has no remaining consumers (caching it past this point
        # would leak one frame per re-probe round)
        fail_meta.unpersist()
    if probe_stats is not None:
        probe_stats.update(rounds=rounds)
    return done


def _pcell_parent_sql(col_sql: str, res_from: int) -> str:
    from .functions import cell_parent_sql

    res_to = min(cells.PARTITION_RES, res_from)
    return cell_parent_sql(col_sql, res_from, res_to)


def batch_join_counts(points: DataFrame, geoms_df: DataFrame, res: int,
                      include_empty: bool = False,
                      dedup: bool = False, **kw) -> DataFrame:
    """Per-geometry match counts — the batch analogue of the stats request
    (one aggregate over the join; partial aggregation keeps the shuffle to
    one row per (partition, geom_id)).  `include_empty=True` emits a 0-count
    row for geometries matching nothing (a broadcast left join against the
    small geometry-id side — the report shape a region-coverage audit
    needs).

    dedup=True collapses duplicate (geom_id, point) pairs BEFORE counting —
    required when the geometry layer came from geomtext's multi-part
    fan-out (one GEOM_SCHEMA row per MultiPolygon part shares the geom_id,
    so a point inside two parts of one geometry otherwise counts twice).
    Point identity is keep_cols[0], which must UNIQUELY
    identify a point — with a non-unique key (e.g. a per-category exploded
    view) dedup also collapses same-key rows.  Costs one extra
    partial-aggregable distinct on the pair keys; leave False for
    single-part layers."""
    pairs = batch_spatial_join(points, geoms_df, res, **kw)
    if dedup:
        key = kw.get("keep_cols", ("poi_id",))[0]
        pairs = pairs.dropDuplicates(["geom_id", key])
    counts = pairs.groupBy("geom_id").agg(F.count("*").alias("n_pois"))
    if not include_empty:
        return counts
    return (
        geoms_df.select("geom_id")
        .join(F.broadcast(counts), "geom_id", "left")
        .select("geom_id", F.coalesce(F.col("n_pois"), F.lit(0)).alias("n_pois"))
    )


def batch_filtered_counts(points: DataFrame, geoms_df: DataFrame, res: int,
                          allowed: DataFrame, cat_col: str = "cat",
                          per_category: bool = False, **kw) -> DataFrame:
    """Per-geometry counts where each geometry admits only ITS OWN category
    set — the reference's category-filtered stats request
    (reference openpoiservice/server/api/query_builder.py:46-53 builds the
    category filter per request; this is N such requests in one job).

    allowed: small DataFrame (geom_id, <cat_col>) — the exploded per-
    geometry allow-list (broadcast side).  A (geom_id, point) pair survives
    iff the point's category is in that geometry's list; the filter is one
    broadcast equi-join on (geom_id, cat) composed AFTER the spatial join,
    so the spatial stage's shape (one shuffle per side, pipelined refine)
    is untouched.  per_category=True keeps the (geom_id, cat) breakdown —
    the reference's stats-by-category response shape.

    dedup=True collapses duplicate (geom_id, point) pairs before counting
    (multi-part layers — see batch_join_counts; a point in two parts of
    one MultiPolygon has one category, so the pair key suffices)."""
    keep = tuple(kw.pop("keep_cols", ("poi_id",)))
    dedup = kw.pop("dedup", False)
    pairs = batch_spatial_join(points, geoms_df, res,
                               keep_cols=tuple(dict.fromkeys(
                                   [*keep, cat_col])), **kw)
    if dedup:
        pairs = pairs.dropDuplicates(["geom_id", keep[0]])
    kept = pairs.join(F.broadcast(allowed.select("geom_id", cat_col)),
                      ["geom_id", cat_col])
    keys = ["geom_id", cat_col] if per_category else ["geom_id"]
    return kept.groupBy(*keys).agg(F.count("*").alias("n_pois"))


def batch_nearest(points: DataFrame, geoms_df: DataFrame, res: int,
                  keep_cols: tuple[str, ...] = ("poi_id",),
                  max_radius: float | None = None,
                  unmatched: str = "drop",
                  **kw) -> DataFrame:
    """Assign each point its NEAREST geometry — the 'tag every image with
    its region' pipeline op (one row per matched point: *keep_cols,
    nearest_geom).

    Candidacy contract (the default is radius-BOUNDED and drops points out
    of every geometry's reach, so both escape hatches are explicit):
      * default: candidates are geometries whose own buffer reaches the
        point (the original gate-matched semantics);
      * max_radius=R: every geometry within R meters is a candidate too
        (candidacy radius max(buffer, R) via the join's min_buffer_m floor —
        cover cells AND refine agree), so any point within R of SOME
        geometry gets an assignment; ranking stays by true distance with
        the lowest-geom_id tie-break.  R bounds the cover size per geometry
        — a planet-wide unbounded assignment should instead use
        batch_knn(queries=points, k=1) whose ring expansion is adaptive.
      * unmatched='null': points still out of every candidacy radius emit a
        row with NULL nearest_geom (audit shape — nothing silently
        disappears); 'drop' (default) keeps inner-join semantics.

    Shape: the batch join with per-pair distances, then ONE partial-
    aggregable min of struct(distance, geom_id) per point — lexicographic
    struct ordering gives the deterministic lowest-geom_id tie-break, and
    the partial aggregation means the shuffle carries one candidate per
    (task, point), not every pair.  unmatched='null' adds a left join from
    the slim point-key side against the aggregated (small) result."""
    if unmatched not in ("drop", "null"):
        raise ValueError("unmatched must be 'drop' or 'null'")
    if max_radius is not None:
        kw = dict(kw, min_buffer_m=float(max_radius))
    pairs = batch_spatial_join(points, geoms_df, res, keep_cols=keep_cols,
                               with_distance=True, **kw)
    best = F.min(F.struct(F.col("distance"), F.col("geom_id"))).alias("best")
    matched = (
        pairs.groupBy(*keep_cols).agg(best)
        .select(*keep_cols, F.col("best.geom_id").alias("nearest_geom"))
    )
    if unmatched == "drop":
        return matched
    return points.select(*keep_cols).join(matched, list(keep_cols), "left")
