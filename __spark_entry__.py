"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes the engine's operator inventory over the driver's
testdata tables; each entry has an ANSI-SQL twin in `oracle_sql()` that
DuckDB executes on the same parquet.  Geo operators run over a POI view
derived deterministically from `lineitem` (see openpoiservice_spark.derive —
the derivation snippets are shared verbatim between both engines, so results
are bit-identical by construction).  The openpoiservice golden-parity suite
(fixtures + quirks) lives in tests/ and runs on the synthesized poi_images
table; this file is the operator-level correctness gate.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import math
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openpoiservice_spark import cells as C
from openpoiservice_spark import derive as D
from openpoiservice_spark import geo as G
from openpoiservice_spark import knn as K
from openpoiservice_spark import tiles as TI
from openpoiservice_spark import batchjoin as BJ
from openpoiservice_spark.functions import (cell_expr, cell_parent_expr,
                                            isin_expr, make_refine_udf)
from openpoiservice_spark.operators import ann as ANN
from openpoiservice_spark.operators import curation as CU
from openpoiservice_spark.operators import text as TX

_POI = f"WITH poi AS ({D.sql_poi_cte()})"
_GEO_RES = 12


# --------------------------------------------------------------- helpers

def _poi_with_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = D.spark_poi_view(spark, sf_dir)
    cell = cell_expr(F.col("lon"), F.col("lat"), C.DEFAULT_RES)
    return df.withColumn("cell", cell).withColumn(
        "pcell", cell_parent_expr(F.col("cell"), C.DEFAULT_RES, C.PARTITION_RES)
    )


def _geo_query(spark: SparkSession, sf_dir: str, spec: G.GeomSpec, buffer_m: float) -> DataFrame:
    """The engine's prefilter+refine path over the derived view: cell cover
    (equi-IN as ONE parsed expression — Column.isin costs a py4j round-trip
    per literal) then the exact native refine."""
    view = D.spark_poi_view(spark, sf_dir)
    cover = C.cover_geometry(spec, buffer_m, _GEO_RES)
    df = view.filter(isin_expr(D.sql_cell("lon", "lat", _GEO_RES), cover.tolist()))
    refine = make_refine_udf(spec, buffer_m, None)
    return df.filter(refine(F.col("lon"), F.col("lat"))).select("poi_id", "lon", "lat")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


_QVEC = ANN.query_vector(64, seed=7)
_PLANES = ANN.hyperplanes(8, 64, seed=13)
#: request filter for the Q2 category-restriction gate query
_RESTRICT_IDS = sorted({cat for _, _, cat, _ in D.POOL})[:6]
#: leaf ids present in the reference taxonomy but missing from the round-2
#: subset table (full-parity gate pois_category_new_leaf)
_NEW_LEAF_IDS = (299, 488)
_CENTROIDS = ANN.ivf_centroids(16, 64, seed=21)
#: deterministic PQ sub-codebooks (m=8 subspaces x 16 centroids x 8 dims) —
#: the gate twin replicates encode + ADC with the same literals
_PQ_CB = ANN.pq_codebooks(8, 16, 64, seed=29)


def _emb_rows(sf_dir: str) -> int:
    """Embedding-table row count from the parquet footer (no Spark job) —
    the statistic the size-aware LSH sizing rule consumes."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(f"{sf_dir}/embeddings.parquet").metadata.num_rows


#: target bucket size for the auto-sized LSH gates (small, so the auto pick
#: lands on a DIFFERENT plane count than the fixed-8 gates: 500 rows -> 6)
_AUTO_TARGET = 8
_AUTO_PLANES_CACHE: dict[str, np.ndarray] = {}


def _auto_planes_for(sf_dir: str = "/root/testdata/sf0.01") -> np.ndarray:
    """Plane set the auto gates resolve to at the driver's gate scale
    (sf0.01's footer; sf0.001 has the identical row count) — inlined into
    the oracle SQL.  Computed LAZILY inside oracle_sql(): an import-time
    footer read made importing this module fail on any host without the
    fixture path (round-4 ADVICE)."""
    p = _AUTO_PLANES_CACHE.get(sf_dir)
    if p is None:
        p = _AUTO_PLANES_CACHE[sf_dir] = ANN.hyperplanes(
            ANN.auto_planes(_emb_rows(sf_dir), _AUTO_TARGET), 64, seed=13)
    return p


def _batch_bboxes(k: int = 1000, seed: int = 31):
    """Deterministic synthetic bbox layer over the derived lon/lat domain
    (7.5..14 E, 52..54 N) — the N-geometry side of the batch spatial join
    gate.  Full-precision floats; the same values are inlined as literals
    into the DuckDB VALUES twin."""
    rng = np.random.default_rng(seed)
    out = []
    for gid in range(k):
        w = 0.05 + 0.45 * float(rng.random())
        h = 0.03 + 0.25 * float(rng.random())
        x1 = 7.5 + (6.5 - w) * float(rng.random())
        y1 = 52.0 + (2.0 - h) * float(rng.random())
        out.append((gid, (x1, y1, x1 + w, y1 + h)))
    return out


def _batch_circles(k: int = 100, seed: int = 37):
    """Deterministic point+radius layer (batch radius-query analogue)."""
    rng = np.random.default_rng(seed)
    out = []
    for gid in range(k):
        lon0 = 7.5 + 6.5 * float(rng.random())
        lat0 = 52.0 + 2.0 * float(rng.random())
        r = 3_000.0 + 17_000.0 * float(rng.random())
        out.append((gid, lon0, lat0, r))
    return out


def _batch_polygons(k: int = 50, seed: int = 41):
    """Deterministic convex CCW polygon layer: vertices on a random ellipse
    at sorted angles (affine image of a circle => convex; increasing angle
    => counter-clockwise).  Convexity lets the DuckDB twin express each
    polygon as a half-plane conjunction (derive.sql_polygon_pred)."""
    rng = np.random.default_rng(seed)
    out = []
    for gid in range(k):
        cx = 7.9 + 5.7 * float(rng.random())
        cy = 52.15 + 1.7 * float(rng.random())
        a = 0.05 + 0.25 * float(rng.random())
        b = 0.03 + 0.15 * float(rng.random())
        nv = int(rng.integers(3, 8))
        angles = np.sort(rng.random(nv)) * 2.0 * math.pi
        ring = [(cx + a * math.cos(t), cy + b * math.sin(t)) for t in angles]
        out.append((gid, ring))
    return out


def _batch_corridors(k: int = 30, seed: int = 43):
    """Deterministic 3-vertex polyline + buffer layer (batch corridor
    queries — the linestring flavor of the batch join)."""
    rng = np.random.default_rng(seed)
    out = []
    for gid in range(k):
        x = 7.8 + 5.4 * float(rng.random())
        y = 52.2 + 1.5 * float(rng.random())
        line = [(x, y)]
        for _ in range(2):
            x += 0.5 * float(rng.random()) - 0.1
            y += 0.3 * float(rng.random()) - 0.15
            line.append((x, y))
        buf = 4_000.0 + 8_000.0 * float(rng.random())
        out.append((gid, line, buf))
    return out


#: deterministic CLUSTERED embedding transform, expressible in BOTH engines:
#: v'_i = 0.05 * v_i, plus +4.0 at dimension 8 * (vec_id % 8) — 8 well-
#: separated clusters derived from the isotropic table (IVF's workload; on
#: isotropic data recall ~ scanned fraction and IVF cannot help by
#: construction, BENCH/EXPLAIN.md).  The trained-IVF gate rests on this:
#: with clean separation, the trained codebook's top-DEFAULT_NPROBE probe
#: provably contains the query's whole cluster, so approximate top-10 ==
#: exact top-10 == the DuckDB brute twin (verified at both gate scales).
_IVF_EPS = 0.05
_IVF_SPIKE = 4.0
_IVF_TRAINED_C = 16  # over-segmented: every true cluster gets >= 1 centroid


def _ivf_cluster_expr() -> str:
    return (
        f"transform(embedding, (x, i) -> CAST({_IVF_EPS!r} * CAST(x AS DOUBLE)"
        f" + CASE WHEN i = 8 * CAST(vec_id % 8 AS INT) THEN {_IVF_SPIKE!r} "
        "ELSE 0.0 END AS DOUBLE))"
    )


def _ivf_query_vec() -> np.ndarray:
    q2 = _IVF_EPS * np.asarray(_QVEC, dtype=np.float64)
    q2[8 * 3] += _IVF_SPIKE  # the probe lands in cluster 3
    return q2


def _batch_cat_filters(seed: int = 67):
    """Deterministic per-geometry category allow-lists for the filtered
    batch-stats gate: each circle admits 4 of the derived view's category
    ids (the reference's per-request category filter, N requests at once)."""
    cats = sorted({cat for _, _, cat, _ in D.POOL})
    rng = np.random.default_rng(seed)
    out = []
    for gid, _, _, _ in _BATCH_CIRCLES:
        pick = sorted(rng.choice(len(cats), size=4, replace=False).tolist())
        out.append((gid, [cats[i] for i in pick]))
    return out


def _batch_knn_queries(k: int = 500, seed: int = 47):
    """Deterministic probe-location layer for the batch kNN gate, inset in
    the derived view's lon/lat domain (so every query's 10th-NN distance,
    measured <= 11.3 km at sf0.001 / 3.6 km at sf0.01, stays far inside the
    oracle twin's +-0.5 deg lon / +-0.3 deg lat candidate box: the nearest
    EXCLUDED point is >= 32.8 km away — the SQL prefilter provably contains
    the true top-10)."""
    rng = np.random.default_rng(seed)
    return [(qid, 7.8 + 5.9 * float(rng.random()),
             52.15 + 1.7 * float(rng.random())) for qid in range(k)]


_BATCH_BBOXES = _batch_bboxes()
_BATCH_CIRCLES = _batch_circles()
_BATCH_POLYGONS = _batch_polygons()
_BATCH_CORRIDORS = _batch_corridors()
_BATCH_KNN_QUERIES = _batch_knn_queries()


# --------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial corridor join + raster tile histogram at sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    spec = G.GeomSpec("linestring", D.LINE_Q)
    view = D.spark_poi_view(spark, sf_dir)
    cover = C.cover_geometry(spec, D.CORRIDOR_M, _GEO_RES)
    refine = make_refine_udf(spec, D.CORRIDOR_M, None)
    hits = view.filter(
        isin_expr(D.sql_cell("lon", "lat", _GEO_RES), cover.tolist())
    ).filter(refine(F.col("lon"), F.col("lat")))
    return TI.tile_histogram(hits.select("poi_id", "lon", "lat", "w", "h"), 14)


# --------------------------------------------------------------- queries

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def pois_bbox(spark, sf):
        x1, y1, x2, y2 = D.BBOX_Q
        return _geo_query(spark, sf, G.bbox_spec(x1, y1, x2, y2), 0.0)

    def pois_radius(spark, sf):
        return _geo_query(spark, sf, G.GeomSpec("point", [D.POINT_Q]), D.RADIUS_Q)

    def pois_polygon(spark, sf):
        ring = list(D.POLY_Q) + [D.POLY_Q[0]]
        return _geo_query(spark, sf, G.GeomSpec("polygon", ring), 0.0)

    def pois_corridor(spark, sf):
        return _geo_query(spark, sf, G.GeomSpec("linestring", D.LINE_Q), D.CORRIDOR_M)

    def pois_polygon_bbox(spark, sf):
        # P2: geom ∩ bbox conjunct (reference query_builder.py:124-130) —
        # the bbox rides along as a second refine conjunct, exactly the
        # engine's CompiledQuery.refine_bbox path
        ring = list(D.POLY_Q) + [D.POLY_Q[0]]
        spec = G.GeomSpec("polygon", ring)
        bbox = G.bbox_spec(*D.BBOX_Q)
        view = D.spark_poi_view(spark, sf)
        cover = C.cover_geometry(spec, 0.0, _GEO_RES)
        refine = make_refine_udf(spec, 0.0, bbox)
        return (
            view.filter(isin_expr(D.sql_cell("lon", "lat", _GEO_RES), cover.tolist()))
            .filter(refine(F.col("lon"), F.col("lat")))
            .select("poi_id", "lon", "lat")
        )

    def pois_multipolygon(spark, sf):
        # Q7 analogue under the oracle: each polygon of a MultiPolygon is an
        # independent compiled query; over DISJOINT parts the fan-out's
        # union equals the OR of the per-part predicates
        a = _geo_query(spark, sf, G.GeomSpec("polygon", list(D.POLY_Q) + [D.POLY_Q[0]]), 0.0)
        b = _geo_query(spark, sf, G.GeomSpec("polygon", list(D.POLY2_Q) + [D.POLY2_Q[0]]), 0.0)
        return a.unionByName(b)

    def pois_polygon_holes(spark, sf):
        # donut: POIs inside the interior ring are excluded (PostGIS
        # hole semantics, reference views.py:228-233)
        ring = list(D.POLY_Q) + [D.POLY_Q[0]]
        hole = list(D.HOLE_Q) + [D.HOLE_Q[0]]
        return _geo_query(spark, sf, G.GeomSpec("polygon", ring, holes=[hole]), 0.0)

    def pois_sorted_limit(spark, sf):
        # quirk Q1 under the oracle: ORDER BY (exact planar d2, poi_id)
        # through the engine's apply_limit_quirk -> limit-1 rows.  The sort
        # key is *,+,- arithmetic only (derive.sql_planar_d2) so the cutoff
        # row is bit-deterministic across engines.
        from openpoiservice_spark.api import apply_limit_quirk

        d2 = D.sql_planar_d2("lon", "lat", D.POINT_Q[0], D.POINT_Q[1])
        view = D.spark_poi_view(spark, sf)
        df = (
            view.filter(F.expr(D.sql_bbox_pred("lon", "lat")))
            .select("poi_id", F.expr(d2).alias("d2"))
            .orderBy("d2", "poi_id")
        )
        return apply_limit_quirk(df, 200)  # reference limit=200 -> 199 rows

    def pois_sortby_category(spark, sf):
        # O2 sortby=category + Q1 limit, oracle-gated (reference
        # query_builder.py:88-89,103): category ascending, poi_id tiebreak
        from openpoiservice_spark.api import apply_limit_quirk

        view = D.spark_poi_view(spark, sf)
        df = (
            view.filter(F.expr(D.sql_bbox_pred("lon", "lat")))
            .select("poi_id", "cat")
            .orderBy("cat", "poi_id")
        )
        return apply_limit_quirk(df, 500)

    def pois_category_restrict(spark, sf):
        # quirk Q2 under the oracle: the output category array keeps ONLY the
        # ids matching the request filter (reference query_builder.py:46-53);
        # a second synthetic category makes the restriction observable
        view = D.spark_poi_view(spark, sf)
        cat2 = D.snip_cat("(poi_id + 17)")
        ids = ", ".join(str(i) for i in _RESTRICT_IDS)
        kept = (
            f"filter(array(cat, {cat2}), x -> x IN ({ids}))"
        )
        return (
            view.filter(F.expr(D.sql_bbox_pred("lon", "lat")))
            .withColumn("kept", F.expr(kept))
            .filter(F.size("kept") > 0)
            .select(
                "poi_id",
                F.expr(
                    "concat_ws(',', transform(kept, x -> CAST(x AS STRING)))"
                ).alias("matched_cats"),
            )
        )

    def pois_category_new_leaf(spark, sf):
        # full-taxonomy parity gate: 299 (amenity=cinema) and 488
        # (shop=kiosk) exist in the reference's categories.yml:293,316 but
        # were absent from the round-2 subset table — a reference user
        # filtering on them got empty results; the full 333-leaf tree
        # (taxonomy.py) now resolves them
        view = D.spark_poi_view(spark, sf)
        return (
            view.filter(F.expr(D.sql_bbox_pred("lon", "lat")))
            .filter(F.col("cat").isin(list(_NEW_LEAF_IDS)))
            .select("poi_id", "cat", "lon", "lat")
        )

    def knn_100(spark, sf):
        # res 12 (~6 km cells) suits the derived view's regional density;
        # the prepared-table path uses the finer default res
        df = D.spark_poi_view(spark, sf)
        cell12 = cell_expr(F.col("lon"), F.col("lat"), 12)
        df = df.withColumn("cell", cell12).withColumn(
            "pcell", cell_parent_expr(F.col("cell"), 12, C.PARTITION_RES)
        )
        return K.knn(df, D.POINT_Q[0], D.POINT_Q[1], 100, res=12).select("poi_id")

    def cells_hist(spark, sf):
        view = D.spark_poi_view(spark, sf)
        return (
            view.groupBy(cell_expr(F.col("lon"), F.col("lat"), _GEO_RES).alias("cell"))
            .agg(F.count("*").alias("n"))
        )

    def tiles_z14(spark, sf):
        view = D.spark_poi_view(spark, sf)
        tx, ty = D.sql_mercator_tile("lon", "lat", 14)
        return view.select("poi_id", F.expr(tx).alias("tx"), F.expr(ty).alias("ty"))

    def tile_pixels(spark, sf):
        view = D.spark_poi_view(spark, sf).select("poi_id", "lon", "lat", "w", "h")
        return (
            TI.tile_histogram(view, 14)
            .select("z", "tx", "ty", "n_images", "total_px")
        )

    def tile_heatmap_meta(spark, sf):
        # the raster SINK of the live-map stack under the oracle: native
        # (tile, pixel) binning + per-tile reduction, verified on the
        # metadata columns (n_points / n_hot / max_n); the PNG bytes the
        # same applyInPandas emits are golden'd in pytest via the repo's
        # own decoder roundtrip — zlib output is not SQL-expressible
        view = D.spark_poi_view(spark, sf)
        return TI.tile_heatmaps(view, z=10).select(
            "z", "tx", "ty", "n_points", "n_hot", "max_n")

    def tile_heatmap_weighted(spark, sf):
        # weighted raster: intensity = TOTAL IMAGE PIXELS landing on each
        # map pixel (weight = w*h), the image-density map of the graft's
        # image axis — same native binning, sum instead of count, both
        # aggregates still partial
        view = D.spark_poi_view(spark, sf)
        src = view.select(
            "lon", "lat",
            (F.col("w").cast("long") * F.col("h")).alias("wt"))
        return TI.tile_heatmaps(src, z=10, weight="wt").select(
            "z", "tx", "ty", "n_points", "n_hot", "max_n")

    def tile_heatmap_pyr(spark, sf):
        # multi-zoom render from ONE input pass: coarser levels roll up
        # from the base GLOBAL PIXEL aggregate by bit-shift (pixel grids
        # nest like tile grids); the twin re-bins the raw rows per zoom —
        # independence is the point, the engine never rescans
        view = D.spark_poi_view(spark, sf)
        return TI.tile_heatmap_pyramid(view, 12, (10,)).select(
            "z", "tx", "ty", "n_points", "n_hot", "max_n")

    def tile_pyramid(spark, sf):
        # multi-zoom rollup from ONE input pass: z12/z10 derived from the
        # z14 AGGREGATE by bit-shift (slippy tiles nest exactly), not by
        # re-binning the raw table per zoom
        view = D.spark_poi_view(spark, sf)
        return TI.tile_count_pyramid(view, 14, (12, 10))

    def stream_tiles(spark, sf):
        # streaming x geo: the poi view replayed as 3 file micro-batches
        # (maxFilesPerTrigger=1) through stream_tile_counts — incremental
        # state merge across batches must land on the batch histogram
        import os
        import tempfile
        import uuid

        from openpoiservice_spark import streaming as STR

        view = D.spark_poi_view(spark, sf).select("lon", "lat")
        root = tempfile.mkdtemp(prefix="stream_tiles_gate_")
        raw = os.path.join(root, "raw")
        view.repartition(3).write.mode("overwrite").parquet(raw)
        src = (spark.readStream.schema(view.schema)
               .option("maxFilesPerTrigger", "1").parquet(raw))
        name = f"stream_tiles_{uuid.uuid4().hex[:8]}"
        q = (STR.stream_tile_counts(src, 14).writeStream
             .outputMode("complete").format("memory").queryName(name)
             .option("checkpointLocation", os.path.join(root, "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return spark.table(name)

    def stream_heatmaps(spark, sf):
        # streaming x image: the incremental heatmap renderer driven by 3
        # file micro-batches — per-batch pixel partials + touched-tile
        # re-render upserts must converge to the batch render; the twin
        # is the same per-zoom metadata SQL as tile_heatmap_meta
        import os
        import tempfile

        from openpoiservice_spark import streaming as STR

        view = D.spark_poi_view(spark, sf).select("lon", "lat")
        root = tempfile.mkdtemp(prefix="stream_hm_gate_")
        raw = os.path.join(root, "raw")
        view.repartition(3).write.mode("overwrite").parquet(raw)
        src = (spark.readStream.schema(view.schema)
               .option("maxFilesPerTrigger", "1").parquet(raw))
        out = os.path.join(root, "hm")
        q = (STR.stream_heatmap_sink(src, out, z=10)
             .option("checkpointLocation", os.path.join(root, "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return spark.read.parquet(os.path.join(out, "tiles")).select(
            F.col("z").cast("int").alias("z"),
            F.col("tx").cast("long").alias("tx"),
            F.col("ty").cast("long").alias("ty"),
            "n_points", "n_hot", "max_n")

    def tile_index14(spark, sf):
        # tile-serving interop: distinct visited tiles with Bing quadkey
        # addressing + inverse-mercator degree bounds, all native bit/math
        # expressions (the twin spells the identical >>/&/atan-sinh forms)
        view = D.spark_poi_view(spark, sf)
        return TI.tile_index(view, 14)

    def tile_top_cat(spark, sf):
        # dominant category per tile — argmax via min(struct(-n, cat)),
        # deterministic smallest-cat tie-break, no sort window
        view = D.spark_poi_view(spark, sf)
        return TI.tile_top_category(view.select("lon", "lat", "cat"), 14)

    def stats_category(spark, sf):
        view = D.spark_poi_view(spark, sf)
        return (
            view.filter(F.expr(D.sql_bbox_pred("lon", "lat")))
            .groupBy("grp", "cat")
            .agg(F.count("*").alias("n"))
        )

    def way_centroid(spark, sf):
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        nodes = li.select("l_orderkey", "l_partkey").distinct()
        return nodes.groupBy(F.col("l_orderkey").alias("way_id")).agg(
            F.round(F.avg(F.expr(D.snip_node_lon())), 6).alias("c_lon"),
            F.round(F.avg(F.expr(D.snip_node_lat())), 6).alias("c_lat"),
            F.count("*").alias("n_nodes"),
        )

    def seg_rollup(spark, sf):
        o = spark.read.parquet(f"{sf}/orders.parquet")
        c = spark.read.parquet(f"{sf}/customer.parquet")
        return (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment", "o_orderpriority")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("total_price"))
        )

    def pricing(spark, sf):
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        return li.groupBy("l_returnflag", "l_linestatus").agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.sum(F.expr("l_extendedprice * (1.0 - l_discount)")), 2).alias("sum_disc_price"),
        )

    def top3(spark, sf):
        from pyspark.sql import Window

        c = spark.read.parquet(f"{sf}/customer.parquet")
        w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        return (
            c.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select(F.col("c_nationkey").alias("n_nationkey"), "c_custkey", "rnk")
        )

    # NTZ wall time read AS UTC, independent of the caller's session
    # timezone (DuckDB epoch(ts) parity) — no session-conf mutation inside a
    # query builder (round-1 VERDICT footgun)
    _EPOCH = ("unix_seconds(make_timestamp_ltz(year(ts), month(ts), day(ts), "
              "hour(ts), minute(ts), second(ts), 'UTC'))")

    def events_hourly(spark, sf):
        e = spark.read.parquet(f"{sf}/events.parquet")
        return (
            e.groupBy(
                F.expr(f"{_EPOCH} div 3600").alias("hour_bucket"),
                "event_type",
            )
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        )

    def events_sessions(spark, sf):
        from pyspark.sql import Window

        e = spark.read.parquet(f"{sf}/events.parquet").select(
            "user_id", "event_id",
            F.expr(_EPOCH).alias("t"),
        )
        w = Window.partitionBy("user_id").orderBy("t", "event_id")
        gap = F.col("t") - F.coalesce(F.lag("t").over(w), F.col("t"))
        brk = F.when(gap > 1800, 1).otherwise(0)
        return (
            e.withColumn("brk", brk)
            .groupBy("user_id")
            .agg((F.sum("brk") + 1).alias("n_sessions"), F.count("*").alias("n_events"))
        )

    def events_sessions_update(spark, sf):
        # round-4 verdict item 3: stream_sessionize_update END-TO-END under
        # the oracle.  The events fixture replays as 3 time-ordered chunks
        # with a deliberate within-watermark LATE tail (events in the last
        # hour before each cut are delayed one batch — they must merge into
        # already-emitted sessions via the update path, never drop); the
        # changelog then applies as an upsert keyed by (user_id,
        # session_start) (delete on 'retracted') and the surviving state
        # aggregates to the SAME (user_id, n_sessions, n_events) rows as
        # the batch DuckDB sessionization twin.
        import os
        import tempfile

        import pandas as pd

        from openpoiservice_spark import streaming as STR

        pdf = pd.read_parquet(f"{sf}/events.parquet",
                              columns=["user_id", "event_id", "ts"])
        # NTZ wall time pinned to UTC (same convention as the batch _EPOCH)
        pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
        t = (pdf["ts"].astype("int64") // 1_000_000_000).to_numpy()
        order = np.lexsort((pdf["event_id"].to_numpy(), t))
        pdf, t = pdf.iloc[order].reset_index(drop=True), t[order]
        root = tempfile.mkdtemp(prefix="sess_upd_gate_")
        raw = os.path.join(root, "raw")
        os.makedirs(raw)
        n = len(pdf)
        chunks = [pdf.iloc[: n // 3], pdf.iloc[n // 3: 2 * n // 3],
                  pdf.iloc[2 * n // 3:]]
        late_hold = pdf.iloc[0:0]
        for i, ch in enumerate(chunks):
            if len(late_hold):
                ch = pd.concat([late_hold, ch], ignore_index=True)
            if i < len(chunks) - 1:
                cut = int(ch["ts"].astype("int64").max() // 1_000_000_000)
                lt = (ch["ts"].astype("int64") // 1_000_000_000) > cut - 3600
                # hold back a bounded late tail (never the max itself would
                # break nothing — the watermark derives from what remains)
                # hold the tail (minus its earliest event, which stays to
                # pin the chunk max inside the tail window) for the next
                # batch: held t > cut-3600 >= watermark+3600 -> never drops
                late_hold = ch[lt].iloc[1:]
                ch = pd.concat([ch[~lt], ch[lt].iloc[:1]], ignore_index=True)
            else:
                late_hold = late_hold.iloc[0:0]
            fp = os.path.join(raw, f"c{i}.parquet")
            ch.to_parquet(fp, index=False)
            # pin the micro-batch ORDER: the file source sorts by mtime, and
            # three sub-ms writes could otherwise tie and reorder the replay
            os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))
        src = (spark.readStream
               .schema("user_id long, event_id long, ts timestamp")
               .option("maxFilesPerTrigger", "1").parquet(raw))
        log: list[tuple[int, list]] = []

        def sink(bdf, bid):
            log.append((int(bid), bdf.collect()))

        q = (STR.stream_sessionize_update(src, gap_s=1800, watermark="2 hours")
             .writeStream.foreachBatch(sink).outputMode("update")
             .option("checkpointLocation", os.path.join(root, "cp"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        state: dict[tuple[int, int], tuple[int, int]] = {}
        for _, rows in sorted(log, key=lambda x: x[0]):
            for r in rows:
                key = (r.user_id, r.session_start)
                if r.status == "retracted":
                    state.pop(key, None)
                else:
                    state[key] = (r.session_end, r.n_events)
        agg: dict[int, list[int]] = {}
        for (uid, _), (_, ne) in state.items():
            cur = agg.setdefault(uid, [0, 0])
            cur[0] += 1
            cur[1] += ne
        return spark.createDataFrame(
            [(int(u), int(ns), int(ne)) for u, (ns, ne) in sorted(agg.items())],
            "user_id long, n_sessions long, n_events long")

    def tag_inheritance(spark, sf):
        # J6 analogue (reference parse_osm.py:259-261,293-298): a way with
        # no own tag inherits its relation's tag — broadcast left join +
        # coalesce; here lineitem rows with a synthetically-missing flag
        # inherit the parent order's priority.
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        o = spark.read.parquet(f"{sf}/orders.parquet")
        own = F.expr("CASE WHEN l_linenumber % 3 = 0 THEN NULL ELSE l_returnflag END")
        return (
            li.join(F.broadcast(o.select("o_orderkey", "o_orderpriority")),
                    li.l_orderkey == o.o_orderkey, "left")
            .select(
                F.expr(D.snip_pk()).alias("poi_id"),
                F.coalesce(own, F.col("o_orderpriority")).alias("tag_value"),
            )
        )

    def dedup_exact(spark, sf):
        return TX.exact_dedup(_docs(spark, sf))

    def dedup_incr(spark, sf):
        # the daily-crawl increment: new docs (id%10 >= 7) admitted against
        # the resident 70% — resident never self-pairs
        docs = _docs(spark, sf)
        return TX.dedup_increment(docs.filter(F.col("doc_id") % 10 >= 7),
                                  docs.filter(F.col("doc_id") % 10 < 7))

    def minhash_sigs(spark, sf):
        return TX.minhash_signatures(_docs(spark, sf))

    def lsh_pairs(spark, sf):
        return TX.lsh_candidate_pairs(_docs(spark, sf))

    def near_dup(spark, sf):
        p = TX.ngram_jaccard_pairs(_docs(spark, sf))
        return p.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))

    def simhash16(spark, sf):
        return TX.simhash(_docs(spark, sf))

    def lang_id(spark, sf):
        return TX.lang_id(_docs(spark, sf)).select("doc_id", "pred_lang")

    def quality(spark, sf):
        return TX.quality_score(_docs(spark, sf))

    def token_counts(spark, sf):
        return TX.token_counts(_docs(spark, sf))

    def fingerprint(spark, sf):
        return TX.fingerprint(_docs(spark, sf))

    def lsh_pairs_capped(spark, sf):
        # skew guard END-TO-END under the oracle (round-2 verdict item 6):
        # max_bucket=3 excludes real oversized buckets at both gate scales
        # (sf0.001 has buckets of 7/4/4/4, sf0.01 a 4) — the capped result
        # genuinely differs from the uncapped gate
        return TX.lsh_candidate_pairs(_docs(spark, sf), max_bucket=3)

    def curate(spark, sf):
        return TX.curate(_docs(spark, sf), min_quality=0.5, langs=("en",))

    def curate_capped(spark, sf):
        # the cap's interaction with curate's keep-set, oracle-checked:
        # excluded buckets drop near-dup pairs, so fewer losers are
        # anti-joined away and MORE docs survive than uncapped curate
        return TX.curate(_docs(spark, sf), min_quality=0.5, langs=("en",),
                         max_bucket=3)

    def curate_repetition(spark, sf):
        # the full curation chain WITH the repetition ceiling — Gopher-style
        # boilerplate gate composed into exact-dedup + near-dup + quality +
        # lang (threshold 0.5 genuinely drops high-dup survivors at both
        # gate scales)
        return TX.curate(_docs(spark, sf), min_quality=0.5, langs=("en",),
                         max_dup_word_frac=0.5)

    def ann_components(spark, sf):
        # embedding near-dup clusters: the shared connected-components core
        # over cosine_pairs edges (graph.connected_components) vs the same
        # RECURSIVE-CTE closure twin shape as the text side
        return ANN.cosine_components(_emb(spark, sf), 0.35, _PLANES)

    def curate_clusters(spark, sf):
        # cluster-correct curation: exactly ONE survivor per near-dup
        # connected component (vs the default pairwise loser-drop) — the
        # policy a leakage-conscious 100 TB pipeline wants
        return TX.curate(_docs(spark, sf), min_quality=0.5, langs=("en",),
                         clusters=True)

    def train_test_split(spark, sf):
        # deterministic hash split: reproducible train/test assignment with
        # no sampling state — pure h32(salt||id) % 100 arithmetic, the same
        # value in both engines
        return TX.deterministic_split(_docs(spark, sf), test_pct=20)

    def split_by_content(spark, sf):
        # the LEAKAGE-SAFE variant: the hash keys on the text, so exact
        # duplicates land on the same side of the split by construction
        return TX.deterministic_split(_docs(spark, sf), test_pct=20,
                                      by_content=True)

    def near_dup_components(spark, sf):
        # connected components of the near-dup graph (iterative min-label
        # propagation; localCheckpoint per round) vs a DuckDB RECURSIVE-CTE
        # transitive-closure twin — cluster-correct dedup/split keys
        return TX.near_dup_components(_docs(spark, sf))

    def split_by_component(spark, sf):
        # the NEAR-dup leakage guard: the split hash keys on the connected-
        # component label, so a whole near-dup cluster lands on ONE side of
        # the train/test boundary (by_content only guarantees that for
        # exact duplicates); singletons key on their own doc_id
        return TX.split_by_component(_docs(spark, sf), test_pct=20)

    def doc_contamination(spark, sf):
        # benchmark decontamination signal: per-corpus-doc distinct-shingle
        # overlap with a held-out eval slice (doc_id % 37 == 1); the eval
        # side is distinct-projected (broadcast-sized) before the join
        d = _docs(spark, sf)
        bench = d.filter(F.col("doc_id") % 37 == 1)
        corpus = d.filter(F.col("doc_id") % 37 != 1)
        return TX.contamination(corpus, bench)

    def ivf_cell_stats(spark, sf):
        # IVF occupancy histogram (the retrain-trigger observability op):
        # one codebook-assignment expression + one partial-agg groupBy
        return ANN.ivf_cell_stats(_emb(spark, sf), _CENTROIDS)

    def ann_brute(spark, sf):
        return ANN.brute_topk(_emb(spark, sf), _QVEC, 10)

    def ann_lsh(spark, sf):
        return ANN.lsh_topk(_emb(spark, sf), _QVEC, 10, _PLANES).select("vec_id")

    def ann_pairs(spark, sf):
        return ANN.cosine_pairs(_emb(spark, sf), 0.35, _PLANES)

    def ann_ivf(spark, sf):
        return ANN.ivf_topk(_emb(spark, sf), _QVEC, 10, _CENTROIDS, nprobe=2)

    def ann_pq(spark, sf):
        # PQ/ADC top-10: encode (per-subspace argmin over the literal
        # codebook) + LUT scoring fused into one scan — the compressed-table
        # ranking path that never reads vector bytes at 10^12 rows
        return ANN.pq_topk(_emb(spark, sf), _QVEC, 10, _PQ_CB)

    def ann_ivfpq(spark, sf):
        # IVF cell pruning -> ADC shortlist -> exact cosine re-rank: the
        # standard billion-scale composition, end-to-end under the oracle
        return ANN.ivfpq_topk(_emb(spark, sf), _QVEC, 10, _CENTROIDS,
                              _PQ_CB, nprobe=2, shortlist=4)

    def _ivfpq_table(spark, sf):
        # fresh temp layout per run: (vec_id, embedding, codes) partitioned
        # by ivf_cell, both codebooks as sidecars (readers use the sidecars
        # — centroids/codebooks args stay None below on purpose)
        import tempfile

        path = tempfile.mkdtemp(prefix="ivfpq_gate_") + "/ivfpq"
        ANN.write_ivfpq_table(_emb(spark, sf), path, _CENTROIDS, _PQ_CB)
        return path

    def ann_ivfpq_append(spark, sf):
        # compressed-layout MAINTENANCE under the oracle: build the table
        # from half the vectors, append_ivfpq_table the rest (cells AND
        # codes from the persisted sidecars, commit-locked, idempotent),
        # then search — the grown table must answer exactly like the
        # full-table twin, so the oracle is the same full-algorithm SQL
        # as ann_ivfpq_table_top10
        import tempfile

        emb = _emb(spark, sf)
        path = tempfile.mkdtemp(prefix="ivfpq_append_gate_") + "/t"
        ANN.write_ivfpq_table(emb.filter(F.col("vec_id") % 2 == 0), path,
                              _CENTROIDS, _PQ_CB)
        ANN.append_ivfpq_table(spark, path,
                               emb.filter(F.col("vec_id") % 2 == 1))
        return ANN.ivfpq_topk_table(spark, path, _QVEC, 10,
                                    nprobe=2, shortlist=4)

    def ann_ivfpq_table(spark, sf):
        # two-phase FAISS-style read over the written layout: codes-only
        # ADC shortlist (bounded id collect) -> exact re-rank with vec_id
        # pushdown.  Same math as ivfpq_topk, so the same oracle twin.
        path = _ivfpq_table(spark, sf)
        return ANN.ivfpq_topk_table(spark, path, _QVEC, 10,
                                    nprobe=2, shortlist=4)

    def ann_batch_ivfpq(spark, sf):
        # batch probes over the compressed layout: candidate scoring via
        # <qvec, recon(codes)> (per-pair ADC — a per-query LUT literal is
        # impossible in batch), shortlist, exact re-rank, brute fence
        path = _ivfpq_table(spark, sf)
        emb = _emb(spark, sf)
        return ANN.batch_topk_ivfpq_table(spark, path,
                                          _batch_queries(emb, 9), 10,
                                          nprobe=2, shortlist=4)

    def ann_lsh_auto(spark, sf):
        # size-aware plane count (round-3 verdict item 2): P derived from
        # the table row count so expected bucket size <= target — the
        # production sizing rule, exercised end-to-end under the oracle
        emb = _emb(spark, sf)
        planes = ANN.auto_hyperplanes(emb, target_bucket=_AUTO_TARGET,
                                      n_rows=_emb_rows(sf))
        return ANN.lsh_topk(emb, _QVEC, 10, planes).select("vec_id")

    def ann_pairs_auto(spark, sf):
        emb = _emb(spark, sf)
        planes = ANN.auto_hyperplanes(emb, target_bucket=_AUTO_TARGET,
                                      n_rows=_emb_rows(sf))
        return ANN.cosine_pairs(emb, 0.35, planes)

    def _batch_queries(emb, modulo: int):
        # query vectors drawn FROM the table (every vec_id % m == 0 row) so
        # the DuckDB twin sees identical inputs with zero inlined literals
        return emb.filter(F.col("vec_id") % modulo == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"))

    def doc_repetition(spark, sf):
        # Gopher-style repetition filters (dup-word / modal-word / modal-
        # bigram fractions): the post-dedup boilerplate signals a 100 TB
        # pretraining pipeline scores before mixing — one explode, map-side
        # combined into per-(doc, term) counts before the only shuffle
        return CU.repetition_signals(_docs(spark, sf))

    def docs_cap_source(spark, sf):
        # per-source document cap (training-mix balancing): deterministic
        # hash-ranked top-10 per source via the skew-aware two-phase window
        # (a dominant source never funnels through one reducer)
        return CU.cap_per_source(_docs(spark, sf), 10).select("doc_id", "source")

    def docs_sample_mix(spark, sf):
        # deterministic mixture sampling: per-source keep rates as pure
        # hash arithmetic (narrow filter, zero shuffle at any scale);
        # stable + nested across runs — rate 0.1 rows are a subset of 0.5's
        return CU.sample_by_source(_docs(spark, sf),
                                   {"src0": 0.5, "src1": 0.1},
                                   default_rate=0.3).select("doc_id", "source")

    def docs_pack_bins(spark, sf):
        # greedy sequence packing (first-fit decreasing inside deterministic
        # hash shards) — inherently sequential, so no SQL twin exists: the
        # driver records the weaker rows-only check; pytest owns the
        # invariants (fill <= budget, each doc exactly once, partitioning-
        # invariant assignment)
        return CU.pack_sequences(_docs(spark, sf), budget=256)

    def ann_batch_brute(spark, sf):
        # round-5 verdict item 2 baseline: N query vectors x exact top-k in
        # ONE job — broadcast query block, per-partition partial top-k in an
        # Arrow pass, one row_number window (never a per-query plan; the
        # reference's ORDER BY distance + LIMIT path,
        # reference openpoiservice/server/api/query_builder.py:84-103, is
        # the one-plan-per-request shape this batches)
        emb = _emb(spark, sf)
        return ANN.batch_topk_brute(emb, _batch_queries(emb, 7), 10)

    def ann_batch_mmr(spark, sf):
        # MMR diversity re-rank over the batch pool: greedy relevance-vs-
        # redundancy pick is not SQL-expressible — rows-only driver check;
        # tests/test_ann_batch.py owns exactness (lam=1 degeneracy, the
        # diverse-runner-up case, partitioning invariance)
        emb = _emb(spark, sf)
        pool = ANN.batch_topk_brute(emb, _batch_queries(emb, 7), 20)
        return ANN.mmr_rerank(emb, pool, 5, lam=0.7)

    def ann_batch_ivf(spark, sf):
        # IVF-cell batch top-k: both sides assigned to the 16-centroid
        # codebook, each query exploded into its top-nprobe cells (JVM
        # array_sort argmax, lowest-index tie-break), ONE equi-join on the
        # cell id; under-filled queries re-answered by the brute fence
        emb = _emb(spark, sf)
        return ANN.batch_topk_ivf(emb, _batch_queries(emb, 5), 10,
                                  _CENTROIDS, nprobe=2)

    def ann_recall(spark, sf):
        # index-quality observability: per-query recall@k of the batch IVF
        # tier against the batch brute baseline — two jobs for N probes
        emb = _emb(spark, sf)
        qs = _batch_queries(emb, 5)
        approx = ANN.batch_topk_ivf(emb, qs, 10, _CENTROIDS, nprobe=2)
        exact = ANN.batch_topk_brute(emb, qs, 10)
        return ANN.batch_recall(approx, exact, 10)

    def ann_recall_ivfpq(spark, sf):
        # recall@k of the COMPRESSED tier: the IVF+PQ written-layout batch
        # search (per-pair ADC shortlist + exact re-rank) measured against
        # the brute baseline over the same modulo-9 probe set — the
        # quality check a PQ retrain runs before swapping codebooks in.
        # Still two jobs for N probes; composes three existing operators.
        path = _ivfpq_table(spark, sf)
        emb = _emb(spark, sf)
        qs = _batch_queries(emb, 9)
        approx = ANN.batch_topk_ivfpq_table(spark, path, qs, 10,
                                            nprobe=2, shortlist=4)
        exact = ANN.batch_topk_brute(emb, qs, 10)
        return ANN.batch_recall(approx, exact, 10)

    def compact_identity(spark, sf):
        # round-5 verdict item 7: prepare.compact under the oracle — build a
        # pcell-partitioned table from the poi view in THREE append slices
        # (multi-file pcells, the streaming-sink aftermath), compact every
        # pcell, and return the table content: rows must be bit-identical to
        # the pre-compaction view (the twin is the plain view SQL)
        import tempfile

        from openpoiservice_spark import prepare
        from openpoiservice_spark.functions import cell_expr, cell_parent_expr

        view = D.spark_poi_view(spark, sf).select("poi_id", "lon", "lat")
        df = view.withColumn(
            "cell", cell_expr(F.col("lon"), F.col("lat"), prepare.ROW_RES))
        df = df.withColumn(
            "pcell", cell_parent_expr(F.col("cell"), prepare.ROW_RES,
                                      prepare.PART_RES))
        base = tempfile.mkdtemp(prefix="compact_gate_") + "/prepared"
        for s in range(3):
            (df.filter(F.pmod(F.col("poi_id"), F.lit(3)) == s)
             .write.mode("append").partitionBy("pcell")
             .parquet(prepare.data_path(base)))
        stats = prepare.compact(spark, base, min_files=2)
        if stats["pcells"] < 1 or stats["files_after"] >= stats["files_before"]:
            raise AssertionError(f"compaction did not rewrite: {stats}")
        return prepare.read_prepared(spark, base).select(
            "poi_id", "lon", "lat")

    def ann_batch(spark, sf):
        # the scale path: LSH-bucket both sides, explode each query into
        # its Hamming<=1 probe buckets, ONE equi-join on the int bucket —
        # under-filled queries (the 8-plane buckets are sparse at 500 rows)
        # re-answered exactly via the brute fence, so BOTH branches run
        # under the oracle
        emb = _emb(spark, sf)
        return ANN.batch_topk(emb, _batch_queries(emb, 3), 10, _PLANES)

    def pois_batch_join(spark, sf):
        # J7 BATCH mode (round-3 verdict item 1): N query geometries joined
        # against the POI table in ONE job — distributed cover explode,
        # repartition-by-cell equi-join, per-geometry exact refine
        # (batchjoin.batch_spatial_join); never a cartesian product
        # (plan-asserted in tests/test_batchjoin.py)
        view = D.spark_poi_view(spark, sf)
        items = [(gid, G.bbox_spec(x1, y1, x2, y2), 0.0)
                 for gid, (x1, y1, x2, y2) in _BATCH_BBOXES]
        gdf = BJ.geoms_to_df(spark, items)
        return BJ.batch_spatial_join(view, gdf, res=_GEO_RES,
                                     keep_cols=("poi_id",))

    def pois_batch_counts(spark, sf):
        # batch stats analogue: per-geometry match counts over a
        # point+radius layer (haversine refine — exercises the non-bbox
        # refine path under the oracle)
        view = D.spark_poi_view(spark, sf)
        items = [(gid, G.GeomSpec("point", [(lon0, lat0)]), r)
                 for gid, lon0, lat0, r in _BATCH_CIRCLES]
        gdf = BJ.geoms_to_df(spark, items)
        return BJ.batch_join_counts(view, gdf, res=_GEO_RES,
                                    keep_cols=("poi_id",))

    def pois_batch_polygons(spark, sf):
        # the per-polygon UNION-twin flavor of the batch join: 50 convex
        # polygons, exact ray-cast refine vs the DuckDB half-plane
        # conjunction per geometry
        view = D.spark_poi_view(spark, sf)
        items = [(gid, G.GeomSpec("polygon", list(ring) + [ring[0]]), 0.0)
                 for gid, ring in _BATCH_POLYGONS]
        gdf = BJ.geoms_to_df(spark, items)
        return BJ.batch_spatial_join(view, gdf, res=_GEO_RES,
                                     keep_cols=("poi_id",))

    def pois_batch_nearest(spark, sf):
        # nearest-geometry assignment ('tag each image with its region'):
        # batch join with per-pair distances + one partial-aggregable
        # min(struct(distance, geom_id)) per point
        view = D.spark_poi_view(spark, sf)
        items = [(gid, G.GeomSpec("point", [(lon0, lat0)]), r)
                 for gid, lon0, lat0, r in _BATCH_CIRCLES]
        gdf = BJ.geoms_to_df(spark, items)
        return BJ.batch_nearest(view, gdf, res=_GEO_RES, keep_cols=("poi_id",))

    def pois_batch_corridors(spark, sf):
        # batch corridor flavor: 30 buffered polylines in one job (the
        # dist-to-segments refine under the oracle's per-line corridor pred)
        view = D.spark_poi_view(spark, sf)
        items = [(gid, G.GeomSpec("linestring", line), buf)
                 for gid, line, buf in _BATCH_CORRIDORS]
        gdf = BJ.geoms_to_df(spark, items)
        return BJ.batch_spatial_join(view, gdf, res=_GEO_RES,
                                     keep_cols=("poi_id",))

    def ann_ivf_trained(spark, sf):
        # round-4 verdict item 5: the FULL trained path under the oracle —
        # ivf_train (spherical k-means on a deterministic sorted sample) ->
        # write_ivf_table (layout partitioned by trained cell; probes are
        # parquet DIRECTORY PRUNING) -> ivf_topk_table at DEFAULT_NPROBE.
        # Runs over the clustered transform (_ivf_cluster_expr) where the
        # probe provably contains the exact top-10, so the DuckDB twin is
        # plain brute-force cosine over the same transformed vectors.
        import tempfile

        emb2 = _emb(spark, sf).select(
            "vec_id", F.expr(_ivf_cluster_expr()).alias("embedding"))
        # bounded deterministic training sample (sorted by vec_id so the
        # k-means init is independent of scan order / parallelism); a
        # production table samples with .sample(fraction).limit(n)
        sample = emb2.orderBy("vec_id").toPandas()
        cent = ANN.ivf_train(np.stack(sample["embedding"].to_numpy()),
                             n_centroids=_IVF_TRAINED_C, seed=21)
        path = tempfile.mkdtemp(prefix="ivf_gate_") + "/ivf"
        ANN.write_ivf_table(emb2, path, cent)
        return ANN.ivf_topk_table(spark, path, _ivf_query_vec(), 10, cent,
                                  nprobe=ANN.DEFAULT_NPROBE)

    def pois_batch_nearest_all(spark, sf):
        # round-4 verdict item 6: the UNBOUNDED nearest contract —
        # max_radius widens every circle's candidacy to >= 60 km and
        # unmatched='null' emits an audit row for points beyond even that
        # (no silent drops).  NULLs coalesce to -1 for the hash compare
        # (a NULL int surfaces as NaN through DuckDB's pandas bridge).
        view = D.spark_poi_view(spark, sf)
        items = [(gid, G.GeomSpec("point", [(lon0, lat0)]), r)
                 for gid, lon0, lat0, r in _BATCH_CIRCLES]
        gdf = BJ.geoms_to_df(spark, items)
        out = BJ.batch_nearest(view, gdf, res=_GEO_RES, keep_cols=("poi_id",),
                               max_radius=60_000.0, unmatched="null")
        return out.select(
            "poi_id",
            F.coalesce(F.col("nearest_geom"), F.lit(-1)).cast("long")
            .alias("nearest_geom"))

    def pois_batch_knn_salted(spark, sf):
        # the SALTED batch-kNN path under the oracle (same discipline the
        # round-4 verdict demanded for the salted batch join): real-density
        # salt map, non-empty asserted, output hash-matching the unsalted
        # twin.
        view = D.spark_poi_view(spark, sf)
        counts = {
            int(r.pc): int(r.n)
            for r in view.groupBy(
                F.expr(D.sql_cell("lon", "lat", C.PARTITION_RES)).alias("pc")
            ).agg(F.count("*").alias("n")).collect()
        }
        salt = BJ.auto_salt_cells(counts, threshold=max(counts.values()) // 2)
        if not salt:
            raise RuntimeError("salted batch-kNN gate: empty salt map")
        qdf = spark.createDataFrame(
            [(int(q), float(x), float(y)) for q, x, y in _BATCH_KNN_QUERIES],
            BJ.KNN_QUERY_SCHEMA)
        return BJ.batch_knn(view, qdf, k=10, res=_GEO_RES, r0=2,
                            keep_cols=("poi_id",),
                            salt_cells=salt, salt_res=C.PARTITION_RES
                            ).select("query_id", "poi_id")

    def pois_batch_join_salted(spark, sf):
        # round-4 verdict item 2: the SKEW-SALTED code path under the
        # oracle.  The salt map derives from the view's real per-pcell
        # density with a threshold at half the densest cell, so
        # auto_salt_cells is guaranteed non-trivial (asserted loudly — a
        # silent no-op would gate the unsalted path twice); output must
        # hash-match the same VALUES range-join twin as the unsalted gate.
        view = D.spark_poi_view(spark, sf)
        counts = {
            int(r.pc): int(r.n)
            for r in view.groupBy(
                F.expr(D.sql_cell("lon", "lat", C.PARTITION_RES)).alias("pc")
            ).agg(F.count("*").alias("n")).collect()
        }
        thr = max(counts.values()) // 2
        salt = BJ.auto_salt_cells(counts, threshold=thr)
        if not salt:
            raise RuntimeError(
                "salted batch-join gate: auto_salt_cells returned an empty "
                "map — the salted path would silently no-op")
        items = [(gid, G.bbox_spec(x1, y1, x2, y2), 0.0)
                 for gid, (x1, y1, x2, y2) in _BATCH_BBOXES]
        gdf = BJ.geoms_to_df(spark, items)
        return BJ.batch_spatial_join(view, gdf, res=_GEO_RES,
                                     keep_cols=("poi_id",),
                                     salt_cells=salt,
                                     salt_res=C.PARTITION_RES)

    def pois_batch_stats_filtered(spark, sf):
        # batch stats with PER-GEOMETRY category filters (P4 x J7-batch):
        # each circle counts only its own allowed category ids — N
        # category-filtered stats requests (reference
        # query_builder.py:46-53) as one job; the allow-list joins as one
        # broadcast AFTER the spatial stage.
        view = D.spark_poi_view(spark, sf)
        items = [(gid, G.GeomSpec("point", [(lon0, lat0)]), r)
                 for gid, lon0, lat0, r in _BATCH_CIRCLES]
        gdf = BJ.geoms_to_df(spark, items)
        allowed = spark.createDataFrame(
            [(gid, c) for gid, cs in _batch_cat_filters() for c in cs],
            "geom_id long, cat int")
        return BJ.batch_filtered_counts(view, gdf, res=_GEO_RES,
                                        allowed=allowed)

    def pois_batch_wkt(spark, sf):
        # geometry-layer INGESTION under the oracle (round-4 verdict item
        # 7): the same bbox layer serialized as WKT POLYGON text, parsed
        # distributedly by geomtext.wkt_to_gspec, must join identically to
        # the driver-built layer — same VALUES range-join twin.
        from openpoiservice_spark import geomtext as GT

        view = D.spark_poi_view(spark, sf)
        import pandas as pd

        wkts = pd.DataFrame(
            [(gid,
              f"POLYGON (({x1!r} {y1!r}, {x2!r} {y1!r}, {x2!r} {y2!r}, "
              f"{x1!r} {y2!r}, {x1!r} {y1!r}))")
             for gid, (x1, y1, x2, y2) in _BATCH_BBOXES],
            columns=["geom_id", "wkt"])
        gdf = GT.wkt_to_gspec(spark.createDataFrame(wkts))
        return BJ.batch_spatial_join(view, gdf, res=_GEO_RES,
                                     keep_cols=("poi_id",))

    def pois_batch_knn(spark, sf):
        # round-4 verdict item 1: for EACH of 500 probe locations, the 10
        # nearest POIs — one distributed job (disk-cover equi-join +
        # partial top-k + fence re-probe; batchjoin.batch_knn), not 500
        # driver-steered requests.  Twin: DuckDB haversine + row_number
        # over a provably-containing candidate box.
        view = D.spark_poi_view(spark, sf)
        qdf = spark.createDataFrame(
            [(int(q), float(x), float(y)) for q, x, y in _BATCH_KNN_QUERIES],
            BJ.KNN_QUERY_SCHEMA)
        return BJ.batch_knn(view, qdf, k=10, res=_GEO_RES, r0=2,
                            keep_cols=("poi_id",)).select("query_id", "poi_id")

    def image_phash_pairs(spark, sf):
        # image near-dup by 64-bit fingerprint: banded hamming LSH + exact
        # popcount verify (operators/images.hamming_pairs).  The fingerprint
        # column derives from the shared snip_fp64 snippet (planted <=2-bit
        # clusters), so the DuckDB twin sees identical inputs.
        from openpoiservice_spark.operators import images as IM

        view = D.spark_poi_view(spark, sf).select(
            "poi_id", F.expr(D.snip_fp64("poi_id")).alias("fp"))
        return IM.hamming_pairs(view, col="fp", key="poi_id", max_dist=3, bands=4)

    def image_phash_capped(spark, sf):
        # hamming skew guard END-TO-END under the oracle: max_bucket=4
        # excludes real oversized band buckets at both gate scales (max 7 at
        # sf0.001, 16 at sf0.01) — the capped pair set genuinely differs
        from openpoiservice_spark.operators import images as IM

        view = D.spark_poi_view(spark, sf).select(
            "poi_id", F.expr(D.snip_fp64("poi_id")).alias("fp"))
        return IM.hamming_pairs(view, col="fp", key="poi_id", max_dist=3,
                                bands=4, max_bucket=4)

    # Registration order IS the driver's CORRECTNESS sampling order: the
    # driver records the FIRST 50 entries, so the newest / least-proven gates
    # come first and the long-stable round-1 geo gates fill the tail (round-5
    # verdict item 1 — 5 rounds of green driver rows stand behind the tail).
    return {
        # -- round 6 (newest) -------------------------------------------
        "tile_heatmap_meta": tile_heatmap_meta,
        "tile_heatmap_weighted": tile_heatmap_weighted,
        "tile_heatmap_pyramid": tile_heatmap_pyr,
        "stream_heatmaps_z10": stream_heatmaps,
        "ann_ivfpq_append_top10": ann_ivfpq_append,
        "tile_index_z14": tile_index14,
        "ann_pq_top10": ann_pq,
        "ann_ivfpq_top10": ann_ivfpq,
        "ann_ivfpq_table_top10": ann_ivfpq_table,
        "ann_batch_ivfpq_top10": ann_batch_ivfpq,
        "tile_pyramid": tile_pyramid,
        "tile_top_category": tile_top_cat,
        "dedup_increment": dedup_incr,
        "ann_recall_ivf": ann_recall,
        "ann_recall_ivfpq": ann_recall_ivfpq,
        "stream_tiles_z14": stream_tiles,
        "doc_contamination": doc_contamination,
        "ivf_cell_stats": ivf_cell_stats,
        "split_by_component": split_by_component,
        "doc_repetition": doc_repetition,
        "docs_cap_source": docs_cap_source,
        "docs_sample_mix": docs_sample_mix,
        "docs_pack_bins": docs_pack_bins,
        "curate_repetition": curate_repetition,
        "ann_batch_top10": ann_batch,
        "ann_batch_brute_top10": ann_batch_brute,
        "ann_batch_ivf_top10": ann_batch_ivf,
        "ann_batch_mmr_top5": ann_batch_mmr,
        "compact_identity": compact_identity,
        # -- round 5 ----------------------------------------------------
        "pois_batch_knn": pois_batch_knn,
        "pois_batch_knn_salted": pois_batch_knn_salted,
        "pois_batch_nearest": pois_batch_nearest,
        "pois_batch_nearest_all": pois_batch_nearest_all,
        "pois_batch_corridors": pois_batch_corridors,
        "pois_batch_join_salted": pois_batch_join_salted,
        "pois_batch_wkt": pois_batch_wkt,
        "pois_batch_stats_filtered": pois_batch_stats_filtered,
        "ann_ivf_trained_top10": ann_ivf_trained,
        "ann_lsh_auto_top10": ann_lsh_auto,
        "ann_pairs_auto": ann_pairs_auto,
        # -- round 4 ----------------------------------------------------
        "pois_batch_join": pois_batch_join,
        "pois_batch_counts": pois_batch_counts,
        "pois_batch_polygons": pois_batch_polygons,
        "near_dup_components": near_dup_components,
        "curate_clusters": curate_clusters,
        "ann_components": ann_components,
        "events_sessions_update": events_sessions_update,
        # -- rounds 2-3 -------------------------------------------------
        "ann_brute_top10": ann_brute,
        "image_phash_pairs": image_phash_pairs,
        # near_dup_jaccard moved INSIDE the window this round: its
        # intersection join changed (candidate-doc restriction) and a
        # changed operator deserves a driver row; minhash_signatures and
        # lsh_candidate_pairs are components near_dup exercises end-to-end
        # (signatures + banding + pairing + verify) and retire to the
        # veteran tail on 4 rounds of green driver rows each
        "near_dup_jaccard": near_dup,
        "minhash_signatures": minhash_sigs,
        "lsh_candidate_pairs": lsh_pairs,
        "lsh_pairs_capped": lsh_pairs_capped,
        # fixed-plane LSH gates, subsumed by their *_auto twins (same
        # pipelines, production auto-sized planes) — veteran tail
        "ann_pairs": ann_pairs,
        "ann_lsh_top10": ann_lsh,
        # fixed-literal-centroid IVF, subsumed by ann_ivf_trained_top10
        # (the full train->write->probe path) and the IVF+PQ table gates
        "ann_ivf_top10": ann_ivf,
        # exact-hash survivor rule exercised end-to-end inside
        # dedup_increment (stage 1) and curate_keep — veteran tail
        "dedup_exact": dedup_exact,
        # capped invariance twin of image_phash_pairs — retired to the
        # veteran tail (outside the driver's 50-row window) to make room
        # for ann_recall_ivfpq; 3 rounds of green driver rows behind it
        "image_phash_capped": image_phash_capped,
        "simhash16": simhash16,
        "lang_id": lang_id,
        "quality_score": quality,
        "token_counts": token_counts,
        "doc_fingerprint": fingerprint,
        "curate_keep": curate,
        "curate_capped": curate_capped,
        "train_test_split": train_test_split,
        # content-keyed variant of deterministic_split; the split family
        # stays window-represented by split_by_component (round 6) —
        # veteran tail
        "split_by_content": split_by_content,
        "events_sessions": events_sessions,
        "tag_inheritance": tag_inheritance,
        "way_centroid": way_centroid,
        "segment_priority_rollup": seg_rollup,
        "knn_100": knn_100,
        "cells_hist_r12": cells_hist,
        "tiles_z14": tiles_z14,
        "tile_pixels_z14": tile_pixels,
        "stats_category_bbox": stats_category,
        "pricing_summary": pricing,
        "top3_per_nation": top3,
        "events_hourly": events_hourly,
        # -- round 1 (tail: 5 rounds of green driver history) -----------
        "pois_bbox": pois_bbox,
        "pois_radius": pois_radius,
        "pois_polygon": pois_polygon,
        "pois_corridor": pois_corridor,
        "pois_polygon_bbox": pois_polygon_bbox,
        "pois_multipolygon": pois_multipolygon,
        "pois_polygon_holes": pois_polygon_holes,
        "pois_sorted_limit": pois_sorted_limit,
        "pois_sortby_category": pois_sortby_category,
        "pois_category_restrict": pois_category_restrict,
        "pois_category_new_leaf": pois_category_new_leaf,
    }


# --------------------------------------------------------------- oracles

def _sql_shingles_cte() -> str:
    return (
        "sh AS (SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 5) AS shingle "
        "FROM documents, unnest(range(1, length(text) - 3)) AS t(i) "
        "WHERE length(text) >= 5)"
    )


def _sql_minhash_cte() -> str:
    # one md5 per shingle + k arithmetic permutations (a_i*h + b_i) mod p —
    # mirrors operators/text.py:minhash_signatures term for term
    a, b = TX.minhash_params(8)
    p = TX.MINHASH_PRIME
    mins = ", ".join(
        f"min((h * {a[i]} + {b[i]}) % {p}) AS mh{i}" for i in range(8)
    )
    return (
        f"{_sql_shingles_cte()}, "
        f"hh AS (SELECT doc_id, {D.sql_h32('shingle')} AS h FROM sh), "
        f"sig AS (SELECT doc_id, {mins} FROM hh GROUP BY doc_id)"
    )


def _sql_banded_cte() -> str:
    bands = []
    for b in range(2):
        parts = ", ".join(f"mh{b * 4 + r}::VARCHAR" for r in range(4))
        bands.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws('_', {parts})) AS bhash FROM sig"
        )
    return f"{_sql_minhash_cte()}, banded AS ({' UNION ALL '.join(bands)})"


def _sql_lsh_pairs_cte(max_bucket: int | None = None) -> str:
    if max_bucket is None:
        return (
            f"{_sql_banded_cte()}, pairs AS ("
            "SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b "
            "FROM banded l JOIN banded r ON l.band = r.band AND l.bhash = r.bhash "
            "AND l.doc_id < r.doc_id)"
        )
    # skew-guard twin: buckets above the cap are excluded from pairing,
    # exactly TX.lsh_candidate_pairs(max_bucket=...)
    return (
        f"{_sql_banded_cte()}, ok AS ("
        f"SELECT band, bhash FROM banded GROUP BY 1, 2 HAVING count(*) <= {max_bucket}), "
        "bok AS (SELECT b.* FROM banded b JOIN ok USING (band, bhash)), "
        "pairs AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b "
        "FROM bok l JOIN bok r ON l.band = r.band AND l.bhash = r.bhash "
        "AND l.doc_id < r.doc_id)"
    )


def _sql_dot(vec: str, values: np.ndarray) -> str:
    return "(" + " + ".join(
        f"CAST({vec}[{i + 1}] AS DOUBLE) * CAST({float(v)!r} AS DOUBLE)"
        for i, v in enumerate(values)
    ) + ")"


def _sql_norm(vec: str, dim: int = 64) -> str:
    return "sqrt(" + " + ".join(
        f"CAST({vec}[{i + 1}] AS DOUBLE) * CAST({vec}[{i + 1}] AS DOUBLE)"
        for i in range(dim)
    ) + ")"


def _sql_cosine(vec: str, qvec: np.ndarray) -> str:
    qn = float(np.linalg.norm(qvec))
    return f"({_sql_dot(vec, qvec)} / ({_sql_norm(vec)} * CAST({qn!r} AS DOUBLE)))"


def _sql_bucket(vec: str, planes: np.ndarray) -> str:
    terms = [
        f"(CASE WHEN {_sql_dot(vec, plane)} > 0 THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(planes)
    ]
    return "CAST((" + " + ".join(terms) + ") AS INTEGER)"


def oracle_sql() -> dict[str, str]:
    x1, y1, x2, y2 = D.BBOX_Q
    ring = list(D.POLY_Q) + [D.POLY_Q[0]]
    gx0, gy0 = D.sql_raster_axes("lon", "lat", 14)
    tx14, ty14 = D.sql_mercator_tile("lon", "lat", 14)
    _SCALE14 = (1 << 14) * 256
    hav = D.sql_haversine("lon", "lat", D.POINT_Q[0], D.POINT_Q[1])

    out = {
        "pois_bbox": f"{_POI} SELECT poi_id, lon, lat FROM poi WHERE {D.sql_bbox_pred('lon', 'lat')}",
        "pois_radius": f"{_POI} SELECT poi_id, lon, lat FROM poi WHERE {hav} <= {float(D.RADIUS_Q)!r}",
        "pois_polygon": f"{_POI} SELECT poi_id, lon, lat FROM poi WHERE {D.sql_polygon_pred('lon', 'lat')}",
        "pois_corridor": f"{_POI} SELECT poi_id, lon, lat FROM poi WHERE {D.sql_corridor_pred('lon', 'lat')}",
        "pois_polygon_bbox": (
            f"{_POI} SELECT poi_id, lon, lat FROM poi WHERE "
            f"{D.sql_polygon_pred('lon', 'lat')} AND {D.sql_bbox_pred('lon', 'lat')}"
        ),
        "pois_multipolygon": (
            f"{_POI} SELECT poi_id, lon, lat FROM poi WHERE "
            f"{D.sql_polygon_pred('lon', 'lat')} "
            f"OR {D.sql_polygon_pred('lon', 'lat', ring=D.POLY2_Q)}"
        ),
        "pois_polygon_holes": (
            f"{_POI} SELECT poi_id, lon, lat FROM poi WHERE "
            f"{D.sql_polygon_pred('lon', 'lat')} "
            f"AND NOT {D.sql_polygon_pred('lon', 'lat', ring=D.HOLE_Q)}"
        ),
        "knn_100": f"{_POI} SELECT poi_id FROM poi ORDER BY {hav} ASC, poi_id LIMIT 100",
        "pois_sorted_limit": (
            f"{_POI} SELECT poi_id, "
            f"{D.sql_planar_d2('lon', 'lat', D.POINT_Q[0], D.POINT_Q[1])} AS d2 "
            f"FROM poi WHERE {D.sql_bbox_pred('lon', 'lat')} "
            "ORDER BY d2, poi_id LIMIT 199"
        ),
        "pois_sortby_category": (
            f"{_POI} SELECT poi_id, cat FROM poi "
            f"WHERE {D.sql_bbox_pred('lon', 'lat')} ORDER BY cat, poi_id LIMIT 499"
        ),
        "pois_category_restrict": _sql_category_restrict(),
        "pois_category_new_leaf": (
            f"{_POI} SELECT poi_id, cat, lon, lat FROM poi "
            f"WHERE {D.sql_bbox_pred('lon', 'lat')} "
            f"AND cat IN ({', '.join(str(i) for i in _NEW_LEAF_IDS)})"
        ),
        "cells_hist_r12": (
            f"{_POI} SELECT {D.sql_cell('lon', 'lat', _GEO_RES)} AS cell, count(*) AS n "
            "FROM poi GROUP BY 1"
        ),
        "tiles_z14": f"{_POI} SELECT poi_id, {tx14} AS tx, {ty14} AS ty FROM poi",
        "tile_index_z14": _sql_tile_index(tx14, ty14),
        # pyramid twin mirrors the rollup-from-aggregate: coarser zooms
        # integer-divide the z14 histogram's tile ids (shiftright == // 2^s
        # for the non-negative clamped ids)
        # heatmap metadata twin: identical clamped global-pixel binning at
        # dim=256 subpixel resolution, per-pixel counts, per-tile
        # reduction (PNG bytes are pytest-golden'd, not SQL-expressible)
        "tile_heatmap_meta": f"{_POI} {_sql_heatmap_meta(10)}",
        # weighted twin: identical binning, sum(w*h) instead of count(*)
        "tile_heatmap_weighted": (
            f"{_POI} {_sql_heatmap_meta(10, weight_sql='w * h')}"
        ),
        # pyramid twin: DIRECT per-zoom binning (independent of the
        # engine's rollup-from-base-aggregate trick — the twin re-bins
        # the raw rows at every zoom, which is exactly what nesting makes
        # unnecessary in the engine), unioned across levels
        "tile_heatmap_pyramid": (
            f"{_POI} {_sql_heatmap_meta(12)} "
            f"UNION ALL {_sql_heatmap_meta(10)}"
        ),
        # streaming convergence: the upserted tile store's metadata must
        # equal the batch heatmap of everything ingested
        "stream_heatmaps_z10": f"{_POI} {_sql_heatmap_meta(10)}",
        "tile_pyramid": (
            f"{_POI}, b AS (SELECT {tx14} AS tx, {ty14} AS ty, "
            "count(*) AS n FROM poi GROUP BY 1, 2) "
            "SELECT 14 AS z, tx, ty, n FROM b "
            "UNION ALL SELECT 12 AS z, tx // 4 AS tx, ty // 4 AS ty, "
            "CAST(sum(n) AS BIGINT) AS n FROM b GROUP BY 2, 3 "
            "UNION ALL SELECT 10 AS z, tx // 16 AS tx, ty // 16 AS ty, "
            "CAST(sum(n) AS BIGINT) AS n FROM b GROUP BY 2, 3"
        ),
        # dominant-category twin: window rank replicates the engine's
        # min(struct(-n, cat)) argmax — n DESC then cat ASC tie-break
        "tile_top_category": (
            f"{_POI}, b AS (SELECT {tx14} AS tx, {ty14} AS ty, cat, "
            "count(*) AS n FROM poi GROUP BY 1, 2, 3), "
            "t AS (SELECT tx, ty, cat, n, "
            "row_number() OVER (PARTITION BY tx, ty ORDER BY n DESC, cat ASC) AS rn, "
            "CAST(sum(n) OVER (PARTITION BY tx, ty) AS BIGINT) AS n_total FROM b) "
            "SELECT 14 AS z, tx, ty, cat AS top_cat, n AS n_top, n_total "
            "FROM t WHERE rn = 1"
        ),
        "dedup_increment": _sql_dedup_increment(),
        # streaming tile histogram converges to the batch histogram: the
        # twin is the plain per-tile count (z14 base of the pyramid twin)
        "stream_tiles_z14": (
            f"{_POI} SELECT {tx14} AS tx, {ty14} AS ty, count(*) AS n "
            "FROM poi GROUP BY 1, 2"
        ),
        # recall twin composes the existing IVF-batch and brute-batch twins
        # (same modulo-5 probe set) as derived tables and joins them
        "ann_recall_ivf": (
            f"WITH ap AS (SELECT * FROM ({_sql_ann_batch_ivf()}) t1), "
            f"ex AS (SELECT * FROM ({_sql_ann_batch_brute(modulo=5)}) t2), "
            "hit AS (SELECT a.query_id, count(*) AS n_hit FROM ap a "
            "JOIN ex e ON e.query_id = a.query_id AND e.vec_id = a.vec_id "
            "GROUP BY 1), "
            "qs AS (SELECT DISTINCT query_id FROM ex) "
            "SELECT q.query_id, coalesce(n_hit, 0) AS n_hit, "
            "round(coalesce(n_hit, 0) / 10, 6) AS recall "
            "FROM qs q LEFT JOIN hit h ON h.query_id = q.query_id"
        ),
        # compressed-tier recall twin: the full IVF+PQ algorithm twin and
        # the brute twin at the SAME modulo-9 probe set, joined on hits
        "ann_recall_ivfpq": (
            f"WITH ap AS (SELECT * FROM ({_sql_ann_batch_ivfpq()}) t1), "
            f"ex AS (SELECT * FROM ({_sql_ann_batch_brute(modulo=9)}) t2), "
            "hit AS (SELECT a.query_id, count(*) AS n_hit FROM ap a "
            "JOIN ex e ON e.query_id = a.query_id AND e.vec_id = a.vec_id "
            "GROUP BY 1), "
            "qs AS (SELECT DISTINCT query_id FROM ex) "
            "SELECT q.query_id, coalesce(n_hit, 0) AS n_hit, "
            "round(coalesce(n_hit, 0) / 10, 6) AS recall "
            "FROM qs q LEFT JOIN hit h ON h.query_id = q.query_id"
        ),
        "tile_pixels_z14": (
            # clamped to the zoom-14 grid [0, 2^14*256) exactly like
            # tiles.assign_tiles (polar/edge rasters clip, never emit
            # out-of-grid tile ids)
            f"{_POI}, g AS (SELECT poi_id, w, h, {gx0} AS gx0, {gy0} AS gy0 FROM poi), "
            f"c AS (SELECT poi_id, greatest(least(gx0, {_SCALE14}), 0) AS gx0c, "
            f"greatest(least(gx0 + w, {_SCALE14}), 0) - greatest(least(gx0, {_SCALE14}), 0) AS extx, "
            f"greatest(least(gy0, {_SCALE14}), 0) AS gy0c, "
            f"greatest(least(gy0 + h, {_SCALE14}), 0) - greatest(least(gy0, {_SCALE14}), 0) AS exty "
            "FROM g), "
            "a AS (SELECT poi_id, extx, exty, gx0c, gy0c, "
            "CAST(floor(gx0c / 256.0) AS BIGINT) AS txA, "
            "CAST(floor(gy0c / 256.0) AS BIGINT) AS tyA FROM c), "
            "b AS (SELECT *, least((txA + 1) * 256 - gx0c, extx) AS nxA, "
            "least((tyA + 1) * 256 - gy0c, exty) AS nyA FROM a), "
            "u AS (SELECT poi_id, txA AS tx, tyA AS ty, nxA * nyA AS px FROM b "
            "UNION ALL SELECT poi_id, txA + 1, tyA, (extx - nxA) * nyA FROM b "
            "UNION ALL SELECT poi_id, txA, tyA + 1, nxA * (exty - nyA) FROM b "
            "UNION ALL SELECT poi_id, txA + 1, tyA + 1, (extx - nxA) * (exty - nyA) FROM b) "
            "SELECT 14 AS z, tx, ty, count(*) AS n_images, CAST(sum(px) AS BIGINT) AS total_px "
            "FROM u WHERE px > 0 GROUP BY 1, 2, 3"
        ),
        "stats_category_bbox": (
            f"{_POI} SELECT grp, cat, count(*) AS n FROM poi "
            f"WHERE {D.sql_bbox_pred('lon', 'lat')} GROUP BY 1, 2"
        ),
        "way_centroid": (
            "WITH nodes AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) "
            f"SELECT l_orderkey AS way_id, round(avg({D.snip_node_lon()}), 6) AS c_lon, "
            f"round(avg({D.snip_node_lat()}), 6) AS c_lat, count(*) AS n_nodes "
            "FROM nodes GROUP BY 1"
        ),
        "segment_priority_rollup": (
            "SELECT c_mktsegment, o_orderpriority, count(*) AS n, "
            "round(sum(o_totalprice), 2) AS total_price "
            "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2"
        ),
        "pricing_summary": (
            "SELECT l_returnflag, l_linestatus, count(*) AS n, "
            "round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice), 2) AS sum_price, "
            "round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price "
            "FROM lineitem GROUP BY 1, 2"
        ),
        "top3_per_nation": (
            "SELECT n_nationkey, c_custkey, CAST(rnk AS INTEGER) AS rnk FROM ("
            "SELECT c_nationkey AS n_nationkey, c_custkey, "
            "row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk "
            "FROM customer) t WHERE rnk <= 3"
        ),
        "events_hourly": (
            "SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 3600) AS hour_bucket, event_type, "
            "count(*) AS n, round(sum(value), 4) AS sum_value FROM events GROUP BY 1, 2"
        ),
        "events_sessions": (
            "WITH e AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events), "
            "l AS (SELECT user_id, t - coalesce(lag(t) OVER "
            "(PARTITION BY user_id ORDER BY t, event_id), t) AS gap FROM e) "
            "SELECT user_id, CAST(sum(CASE WHEN gap > 1800 THEN 1 ELSE 0 END) + 1 AS BIGINT) "
            "AS n_sessions, count(*) AS n_events FROM l GROUP BY 1"
        ),
        "tag_inheritance": (
            f"SELECT {D.snip_pk()} AS poi_id, "
            "coalesce(CASE WHEN l_linenumber % 3 = 0 THEN NULL ELSE l_returnflag END, "
            "o_orderpriority) AS tag_value "
            "FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey"
        ),
        "dedup_exact": (
            "SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keep_id "
            "FROM documents GROUP BY 1"
        ),
        "minhash_signatures": (
            f"WITH {_sql_minhash_cte()} SELECT * FROM sig"
        ),
        "lsh_candidate_pairs": (
            f"WITH {_sql_lsh_pairs_cte()} SELECT doc_a, doc_b FROM pairs"
        ),
        "near_dup_jaccard": _sql_near_dup(),
        "simhash16": _sql_simhash(),
        "lang_id": _sql_lang_id(),
        "quality_score": _sql_quality(),
        "token_counts": (
            "SELECT doc_id, "
            r"len(regexp_extract_all(text, '\S+')) AS n_tokens_ws, "
            r"len(regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]+|[^a-z0-9\s]')) AS n_tokens_sub "
            "FROM documents"
        ),
        "doc_fingerprint": (
            "SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), "
            "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp FROM documents"
        ),
        "curate_keep": _sql_curate(),
        "train_test_split": _sql_split("CAST(doc_id AS VARCHAR)"),
        "split_by_content": _sql_split("coalesce(text, '')"),
        "near_dup_components": _sql_components(),
        "split_by_component": _sql_split_component(),
        "ivf_cell_stats": _sql_ivf_cell_stats(),
        "doc_contamination": _sql_contamination(),
        "curate_clusters": _sql_curate_clusters(),
        "ann_components": _sql_ann_components(),
        "lsh_pairs_capped": (
            f"WITH {_sql_lsh_pairs_cte(3)} SELECT doc_a, doc_b FROM pairs"
        ),
        "curate_capped": _sql_curate(3),
        "ann_brute_top10": (
            f"SELECT vec_id, round({_sql_cosine('embedding', _QVEC)}, 6) AS cosine "
            "FROM embeddings ORDER BY cosine DESC, vec_id LIMIT 10"
        ),
        "ann_lsh_top10": _sql_ann_lsh(),
        "ann_pairs": _sql_ann_pairs(),
        "ann_ivf_top10": _sql_ann_ivf(),
        "image_phash_pairs": _sql_phash_pairs(),
        "image_phash_capped": _sql_phash_pairs(4),
        "pois_batch_join": _sql_batch_join(),
        "pois_batch_counts": _sql_batch_counts(),
        "pois_batch_polygons": _sql_batch_polygons(),
        "pois_batch_corridors": _sql_batch_corridors(),
        "pois_batch_nearest": _sql_batch_nearest(),
        "pois_batch_knn": _sql_batch_knn(),
        # same twin as the unsalted gate — salting must not change one row
        "pois_batch_join_salted": _sql_batch_join(),
        # WKT-ingested layer must join identically to the driver-built one
        "pois_batch_wkt": _sql_batch_join(),
        "pois_batch_stats_filtered": _sql_batch_stats_filtered(),
        # salting must not change one neighbour — same twin as the unsalted
        "pois_batch_knn_salted": _sql_batch_knn(),
        "pois_batch_nearest_all": _sql_batch_nearest_all(),
        "ann_ivf_trained_top10": _sql_ann_ivf_trained(),
        "ann_lsh_auto_top10": _sql_ann_lsh(_auto_planes_for()),
        "ann_pairs_auto": _sql_ann_pairs(_auto_planes_for()),
        "ann_pq_top10": _sql_ann_pq(),
        "ann_ivfpq_top10": _sql_ann_ivfpq(),
        # the written-layout two-phase read computes the same math as the
        # in-memory composition — shared twin by construction
        "ann_ivfpq_table_top10": _sql_ann_ivfpq(),
        # append parity: post-append table == full write (bitwise, pytest),
        # so the search twin is the identical full-algorithm SQL
        "ann_ivfpq_append_top10": _sql_ann_ivfpq(),
        "ann_batch_ivfpq_top10": _sql_ann_batch_ivfpq(),
        "ann_batch_top10": _sql_ann_batch(),
        "ann_batch_brute_top10": _sql_ann_batch_brute(),
        "ann_batch_ivf_top10": _sql_ann_batch_ivf(),
        # compaction is a file-geometry rewrite: the content contract is
        # IDENTITY against the derived view (same rows before and after)
        "compact_identity": f"{_POI} SELECT poi_id, lon, lat FROM poi",
        "doc_repetition": _sql_repetition(),
        "docs_cap_source": _sql_cap_source(10),
        "docs_sample_mix": _sql_sample_mix(),
        "curate_repetition": _sql_curate(max_dup_word_frac=0.5),
        # round-6 session 4: first-fit-decreasing turned out to BE
        # SQL-expressible (integer-exact recursive CTE carrying the
        # bin-fill list) — upgraded from the rows-only check
        "docs_pack_bins": _sql_pack_bins(),
    }
    # the update-mode streaming gate's upsert-applied final state must equal
    # the BATCH sessionization — same twin by construction
    out["events_sessions_update"] = out["events_sessions"]
    return out


def _sql_batch_join() -> str:
    """DuckDB twin of the batch spatial join gate: the same bbox layer as a
    VALUES table, range-joined against the derived POI view.  The engine's
    per-geometry exact refine (ray-cast on the bbox ring) and the plain
    range predicate agree everywhere except exactly ON a boundary, which the
    synthetic doubles never hit."""
    vals = ", ".join(
        f"(CAST({gid} AS BIGINT), {x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for gid, (x1, y1, x2, y2) in _BATCH_BBOXES
    )
    return (
        f"{_POI}, g(geom_id, x1, y1, x2, y2) AS (VALUES {vals}) "
        "SELECT g.geom_id, p.poi_id FROM poi p JOIN g "
        "ON p.lon >= g.x1 AND p.lon <= g.x2 AND p.lat >= g.y1 AND p.lat <= g.y2"
    )


def _sql_batch_polygons() -> str:
    """The per-polygon-predicate UNION twin: one SELECT per convex polygon
    with its half-plane-conjunction membership test, geom_id attached."""
    parts = []
    for gid, ring in _BATCH_POLYGONS:
        pred = D.sql_polygon_pred("lon", "lat", ring=ring)
        parts.append(
            f"SELECT CAST({gid} AS BIGINT) AS geom_id, poi_id FROM poi WHERE {pred}"
        )
    return f"{_POI} {' UNION ALL '.join(parts)}"


def _sql_batch_corridors() -> str:
    """Per-corridor UNION twin: each polyline's buffered membership as the
    shared derive.sql_corridor_pred snippet with geom_id attached."""
    parts = []
    for gid, line, buf in _BATCH_CORRIDORS:
        pred = D.sql_corridor_pred("lon", "lat", line=line, buffer_m=buf)
        parts.append(
            f"SELECT CAST({gid} AS BIGINT) AS geom_id, poi_id FROM poi WHERE {pred}"
        )
    return f"{_POI} {' UNION ALL '.join(parts)}"


def _sql_batch_nearest() -> str:
    """Nearest-geometry twin: within-radius join, then row_number over
    (distance, geom_id) per point — the same deterministic tie-break as the
    operator's min(struct(distance, geom_id))."""
    vals = ", ".join(
        f"(CAST({gid} AS BIGINT), {lon0!r}, {lat0!r}, {r!r})"
        for gid, lon0, lat0, r in _BATCH_CIRCLES
    )
    hav = (
        f"(2.0 * {D.EARTH_R!r} * asin(least(1.0, sqrt("
        "pow(sin((radians(p.lat) - radians(g.y0)) / 2.0), 2) "
        "+ cos(radians(g.y0)) * cos(radians(p.lat)) "
        "* pow(sin((radians(p.lon) - radians(g.x0)) / 2.0), 2)))))"
    )
    return (
        f"{_POI}, g(geom_id, x0, y0, r) AS (VALUES {vals}), "
        f"j AS (SELECT p.poi_id, g.geom_id, {hav} AS d "
        f"FROM poi p JOIN g ON {hav} <= g.r) "
        "SELECT poi_id, geom_id AS nearest_geom FROM ("
        "SELECT poi_id, geom_id, "
        "row_number() OVER (PARTITION BY poi_id ORDER BY d, geom_id) AS rn "
        "FROM j) t WHERE rn = 1"
    )


def _sql_batch_stats_filtered() -> str:
    """Filtered batch-stats twin: the circle join AND a per-geometry
    (geom_id, cat) VALUES allow-list, counts grouped per geometry."""
    vals = ", ".join(
        f"(CAST({gid} AS BIGINT), {lon0!r}, {lat0!r}, {r!r})"
        for gid, lon0, lat0, r in _BATCH_CIRCLES
    )
    avals = ", ".join(
        f"(CAST({gid} AS BIGINT), {c})"
        for gid, cs in _batch_cat_filters() for c in cs
    )
    hav = (
        f"(2.0 * {D.EARTH_R!r} * asin(least(1.0, sqrt("
        "pow(sin((radians(p.lat) - radians(g.y0)) / 2.0), 2) "
        "+ cos(radians(g.y0)) * cos(radians(p.lat)) "
        "* pow(sin((radians(p.lon) - radians(g.x0)) / 2.0), 2)))))"
    )
    return (
        f"{_POI}, g(geom_id, x0, y0, r) AS (VALUES {vals}), "
        f"a(geom_id, cat) AS (VALUES {avals}) "
        f"SELECT g.geom_id, count(*) AS n_pois FROM poi p "
        f"JOIN g ON {hav} <= g.r "
        "JOIN a ON a.geom_id = g.geom_id AND a.cat = p.cat "
        "GROUP BY 1"
    )


def _sql_batch_nearest_all() -> str:
    """Unbounded-nearest twin: candidacy radius greatest(r, 60 km), then a
    LEFT join from the full poi set so unmatched points keep a row
    (nearest_geom -1); same (distance, geom_id) tie-break as the operator's
    min(struct(...))."""
    vals = ", ".join(
        f"(CAST({gid} AS BIGINT), {lon0!r}, {lat0!r}, {r!r})"
        for gid, lon0, lat0, r in _BATCH_CIRCLES
    )
    hav = (
        f"(2.0 * {D.EARTH_R!r} * asin(least(1.0, sqrt("
        "pow(sin((radians(p.lat) - radians(g.y0)) / 2.0), 2) "
        "+ cos(radians(g.y0)) * cos(radians(p.lat)) "
        "* pow(sin((radians(p.lon) - radians(g.x0)) / 2.0), 2)))))"
    )
    return (
        f"{_POI}, g(geom_id, x0, y0, r) AS (VALUES {vals}), "
        f"j AS (SELECT p.poi_id, g.geom_id, {hav} AS d "
        f"FROM poi p JOIN g ON {hav} <= greatest(g.r, 60000.0)), "
        "rk AS (SELECT poi_id, geom_id, "
        "row_number() OVER (PARTITION BY poi_id ORDER BY d, geom_id) AS rn "
        "FROM j) "
        "SELECT p.poi_id, coalesce(r.geom_id, -1) AS nearest_geom "
        "FROM poi p LEFT JOIN (SELECT poi_id, geom_id FROM rk WHERE rn = 1) r "
        "USING (poi_id)"
    )


def _sql_batch_knn() -> str:
    """Batch-kNN twin: per-query top-10 by (haversine, poi_id) via
    row_number, candidates prefiltered to a +-0.5 deg lon / +-0.3 deg lat
    box whose nearest excluded point (>= 32.8 km) is provably beyond every
    query's measured 10th-NN distance (<= 11.3 km at the smallest gate
    scale — see _batch_knn_queries)."""
    vals = ", ".join(
        f"(CAST({qid} AS BIGINT), {x0!r}, {y0!r})"
        for qid, x0, y0 in _BATCH_KNN_QUERIES
    )
    hav = (
        f"(2.0 * {D.EARTH_R!r} * asin(least(1.0, sqrt("
        "pow(sin((radians(p.lat) - radians(g.y0)) / 2.0), 2) "
        "+ cos(radians(g.y0)) * cos(radians(p.lat)) "
        "* pow(sin((radians(p.lon) - radians(g.x0)) / 2.0), 2)))))"
    )
    return (
        f"{_POI}, g(query_id, x0, y0) AS (VALUES {vals}), "
        f"j AS (SELECT g.query_id, p.poi_id, "
        f"row_number() OVER (PARTITION BY g.query_id ORDER BY {hav}, p.poi_id) AS rn "
        "FROM poi p JOIN g ON p.lon BETWEEN g.x0 - 0.5 AND g.x0 + 0.5 "
        "AND p.lat BETWEEN g.y0 - 0.3 AND g.y0 + 0.3) "
        "SELECT query_id, poi_id FROM j WHERE rn <= 10"
    )


def _sql_batch_counts() -> str:
    """Per-geometry counts over the point+radius layer: generic haversine
    (column-ref form of derive.sql_haversine) against each circle center."""
    vals = ", ".join(
        f"(CAST({gid} AS BIGINT), {lon0!r}, {lat0!r}, {r!r})"
        for gid, lon0, lat0, r in _BATCH_CIRCLES
    )
    hav = (
        f"(2.0 * {D.EARTH_R!r} * asin(least(1.0, sqrt("
        "pow(sin((radians(p.lat) - radians(g.y0)) / 2.0), 2) "
        "+ cos(radians(g.y0)) * cos(radians(p.lat)) "
        "* pow(sin((radians(p.lon) - radians(g.x0)) / 2.0), 2)))))"
    )
    return (
        f"{_POI}, g(geom_id, x0, y0, r) AS (VALUES {vals}) "
        f"SELECT g.geom_id, count(*) AS n_pois FROM poi p JOIN g ON {hav} <= g.r "
        "GROUP BY 1"
    )


def _sql_category_restrict() -> str:
    cat2 = D.snip_cat("(poi_id + 17)")
    ids = ", ".join(str(i) for i in _RESTRICT_IDS)
    kept = f"list_filter([cat, {cat2}], x -> x IN ({ids}))"
    return (
        f"{_POI} SELECT poi_id, "
        f"array_to_string(list_transform({kept}, x -> CAST(x AS VARCHAR)), ',') "
        "AS matched_cats "
        f"FROM poi WHERE {D.sql_bbox_pred('lon', 'lat')} AND len({kept}) > 0"
    )


def _sql_repetition() -> str:
    """Twin of curation.repetition_signals: same word split
    (regexp_extract_all '\\S+'), same modal-term math, round(,6) parity."""
    return (
        r"WITH w AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws "
        "FROM documents), "
        "base AS (SELECT doc_id, len(ws) AS n_words, "
        "len(list_distinct(ws)) AS n_distinct FROM w), "
        "wcnt AS (SELECT doc_id, term, count(*) AS c FROM "
        "(SELECT doc_id, unnest(ws) AS term FROM w) GROUP BY 1, 2), "
        "wtop AS (SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS twf "
        "FROM wcnt GROUP BY 1), "
        "bidx AS (SELECT doc_id, ws, "
        "unnest(generate_series(1, len(ws) - 1)) AS i FROM w), "
        "bcnt AS (SELECT doc_id, term, count(*) AS c FROM "
        "(SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1] "
        "AS term FROM bidx) GROUP BY 1, 2), "
        "btop AS (SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS tbf "
        "FROM bcnt GROUP BY 1) "
        "SELECT b.doc_id, b.n_words, "
        "CASE WHEN b.n_words > 0 THEN "
        "round(1 - b.n_distinct * 1.0 / b.n_words, 6) ELSE 0.0 END "
        "AS dup_word_frac, "
        "coalesce(wtop.twf, 0.0) AS top_word_frac, "
        "coalesce(btop.tbf, 0.0) AS top_bigram_frac "
        "FROM base b LEFT JOIN wtop USING (doc_id) "
        "LEFT JOIN btop USING (doc_id)"
    )


def _sql_cap_source(cap: int) -> str:
    """Twin of curation.cap_per_source: the two-phase bucketed rank equals
    ONE global per-source rank (per-bucket rank > cap implies global
    rank > cap), so the twin is the plain window form."""
    h = D.sql_h32("CAST(doc_id AS VARCHAR)")
    return (
        "SELECT doc_id, source FROM ("
        "SELECT doc_id, source, row_number() OVER "
        "(PARTITION BY source ORDER BY h, doc_id) AS r FROM ("
        f"SELECT doc_id, source, {h} AS h FROM documents)) "
        f"WHERE r <= {cap}"
    )


def _sql_sample_mix() -> str:
    """Twin of curation.sample_by_source with the gate's mixture config:
    src0 0.5, src1 0.1, default 0.3 — identical md5 key + double math."""
    h = D.sql_h32("CAST(doc_id AS VARCHAR)")
    return (
        "SELECT doc_id, source FROM ("
        f"SELECT doc_id, source, {h} % 1000000 AS k FROM documents) "
        "WHERE k < (CASE WHEN source = 'src0' THEN 0.5 "
        "WHEN source = 'src1' THEN 0.1 ELSE 0.3 END) * 1000000.0"
    )


def _sql_tile_index(tx14: str, ty14: str, z: int = 14) -> str:
    """tile_index twin: Bing quadkey (bit-interleave MSB-first) + inverse
    mercator degree bounds, spelled with the same >>/& and
    atan((e^a - e^-a)/2) forms the engine compiles to."""
    n = float(1 << z)
    qk = "||".join(
        f"CAST(((ty >> {i}) & 1) * 2 + ((tx >> {i}) & 1) AS VARCHAR)"
        for i in range(z - 1, -1, -1))

    def lat_sql(t_expr: str) -> str:
        a = f"({math.pi!r} * (1.0 - 2.0 * {t_expr} / {n!r}))"
        return f"round(degrees(atan((exp({a}) - exp(-{a})) / 2.0)), 6)"

    return (
        f"{_POI}, t AS (SELECT DISTINCT {tx14} AS tx, {ty14} AS ty FROM poi) "
        f"SELECT {z} AS z, tx, ty, {qk} AS quadkey, "
        f"round(tx / {n!r} * 360.0 - 180.0, 6) AS west, "
        f"{lat_sql('(ty + 1)')} AS south, "
        f"round((tx + 1) / {n!r} * 360.0 - 180.0, 6) AS east, "
        f"{lat_sql('ty')} AS north FROM t"
    )


def _sql_pack_bins(budget: int = 256, buckets: int = 64) -> str:
    """Twin of curation.pack_sequences — first-fit-decreasing IS
    SQL-expressible after all (upgrading the one-time rows-only check):
    the greedy loop is integer-exact and per-bucket sequential, so a
    recursive CTE walks each bucket's (n_tokens desc, doc_id) order
    carrying the bin-fill list as DuckDB list state — `list_position(
    list_transform(fills, f -> f + tok <= budget), true)` is the
    first-fit probe, an indexed-lambda `list_transform` is the in-place
    fill update, and every bucket advances in the same recursion (the
    recursive term joins rank i+1 of all buckets at step i).  No floats
    anywhere, so the hash compare is exact by construction.  Oversize
    docs (tok > budget) open a dedicated bin exactly like the engine's
    own_bin branch; bin_fill reports the bin's FINAL total."""
    h = D.sql_h32("CAST(doc_id AS VARCHAR)")
    # nullif: DuckDB's list_position returns 0 (not NULL) on no match
    fit = (f"CASE WHEN r.n_tokens <= {budget} THEN "
           f"nullif(list_position(list_transform(s.fills, "
           f"f -> f + r.n_tokens <= {budget}), true), 0) ELSE NULL END")
    return (
        "WITH RECURSIVE ranked AS ("
        "SELECT doc_id, n_tokens, bucket, "
        "row_number() OVER (PARTITION BY bucket "
        "ORDER BY n_tokens DESC, doc_id) AS rn, "
        "count(*) OVER (PARTITION BY bucket) AS cnt FROM ("
        r"SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)"
        f" AS n_tokens, {h} % {buckets} AS bucket FROM documents)), "
        "state AS ("
        "SELECT bucket, CAST(0 AS BIGINT) AS i, "
        "CAST([] AS BIGINT[]) AS fills, CAST([] AS BIGINT[]) AS assigns, "
        "cnt FROM (SELECT DISTINCT bucket, cnt FROM ranked) "
        "UNION ALL "
        "SELECT s.bucket, s.i + 1, "
        f"CASE WHEN ({fit}) IS NULL THEN list_append(s.fills, r.n_tokens) "
        f"ELSE list_transform(s.fills, (f, ix) -> CASE WHEN ix = ({fit}) "
        "THEN f + r.n_tokens ELSE f END) END, "
        f"list_append(s.assigns, CAST(coalesce(({fit}), "
        "len(s.fills) + 1) AS BIGINT)), s.cnt "
        "FROM state s JOIN ranked r ON r.bucket = s.bucket "
        "AND r.rn = s.i + 1 WHERE s.i < s.cnt), "
        "final AS (SELECT bucket, fills, assigns FROM state WHERE i = cnt) "
        "SELECT r.doc_id, r.n_tokens, "
        f"f.bucket * {1 << 32} + (f.assigns[CAST(r.rn AS INT)] - 1) AS bin_id, "
        "f.fills[CAST(f.assigns[CAST(r.rn AS INT)] AS INT)] AS bin_fill "
        "FROM ranked r JOIN final f ON f.bucket = r.bucket"
    )


def _sql_heatmap_meta(z: int, dim: int = 256,
                      weight_sql: str | None = None) -> str:
    """Per-zoom heatmap-metadata twin (tiles.tile_heatmaps minus the PNG):
    clamped global-pixel binning at dim-subpixel resolution (the
    sql_mercator_tile closed form scaled by dim), per-pixel counts, then
    the per-tile (n_points, n_hot, max_n) reduction.  Subquery-shaped (no
    CTE of its own) so pyramid twins can UNION ALL several zooms under
    one `WITH poi` prefix."""
    scale = (1 << z) * dim
    gx = (f"least({scale - 1}, greatest(0, CAST(floor("
          f"((lon + 180.0) / 360.0) * {float(scale)!r}) AS BIGINT)))")
    gy = (f"least({scale - 1}, greatest(0, CAST(floor("
          f"((1.0 - ln(tan(radians(lat)) + sqrt(tan(radians(lat)) * "
          f"tan(radians(lat)) + 1.0)) / {math.pi!r}) / 2.0) "
          f"* {float(scale)!r}) AS BIGINT)))")
    carry = "" if weight_sql is None else f", {weight_sql} AS wsrc"
    nsrc = "count(*)" if weight_sql is None else "CAST(sum(wsrc) AS BIGINT)"
    return (
        f"SELECT {z} AS z, tx, ty, CAST(sum(n) AS BIGINT) AS n_points, "
        "count(*) AS n_hot, CAST(max(n) AS BIGINT) AS max_n FROM ("
        f"SELECT tx, ty, px, py, {nsrc} AS n FROM ("
        f"SELECT CAST(floor(gx / {float(dim)!r}) AS BIGINT) AS tx, "
        f"CAST(floor(gy / {float(dim)!r}) AS BIGINT) AS ty, "
        f"gx % {dim} AS px, gy % {dim} AS py{', wsrc' if weight_sql else ''}"
        " FROM ("
        f"SELECT {gx} AS gx, {gy} AS gy{carry} FROM poi) g) p "
        "GROUP BY 1, 2, 3, 4) c GROUP BY 2, 3"
    )


def _sql_dedup_increment(threshold: float = 0.2) -> str:
    # increment twin: new = doc_id%10 >= 7, resident = the rest.  The
    # shingle/minhash/band CTEs are the shared dedup-pipeline twins over
    # the FULL table — minhash is per-doc, so banding the union equals
    # banding each side separately.  Pair predicate restricts to
    # new x resident (any) and new x new (smaller id wins); resident
    # never self-pairs, mirroring TX.dedup_increment stage 2.
    return (
        f"WITH {_sql_banded_cte()}, "
        "new_keep AS (SELECT min(doc_id) AS doc_id FROM documents "
        "WHERE doc_id % 10 >= 7 GROUP BY md5(text)), "
        "res_hash AS (SELECT DISTINCT md5(text) AS th FROM documents "
        "WHERE doc_id % 10 < 7), "
        "live AS (SELECT k.doc_id FROM new_keep k "
        "JOIN documents d ON d.doc_id = k.doc_id "
        "LEFT JOIN res_hash rh ON md5(d.text) = rh.th WHERE rh.th IS NULL), "
        "pairs AS (SELECT DISTINCT l.doc_id AS loser, r.doc_id AS other "
        "FROM banded l JOIN banded r ON l.band = r.band AND l.bhash = r.bhash "
        "WHERE l.doc_id % 10 >= 7 "
        "AND (r.doc_id % 10 < 7 OR r.doc_id < l.doc_id)), "
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1), "
        "inter AS (SELECT p.loser, p.other, count(*) AS n_inter "
        "FROM pairs p JOIN sh a ON a.doc_id = p.loser "
        "JOIN sh b ON b.doc_id = p.other AND b.shingle = a.shingle "
        "GROUP BY 1, 2), "
        "losers AS (SELECT DISTINCT i.loser AS doc_id FROM inter i "
        "JOIN sizes sa ON sa.doc_id = i.loser "
        "JOIN sizes sb ON sb.doc_id = i.other "
        f"WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= {threshold!r}) "
        "SELECT l.doc_id FROM live l "
        "LEFT JOIN losers ls ON ls.doc_id = l.doc_id WHERE ls.doc_id IS NULL"
    )


def _sql_near_dup(max_bucket: int | None = None) -> str:
    return (
        f"WITH {_sql_lsh_pairs_cte(max_bucket)}, "
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1), "
        "inter AS (SELECT p.doc_a, p.doc_b, count(*) AS n_inter "
        "FROM pairs p JOIN sh a ON a.doc_id = p.doc_a "
        "JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle "
        "GROUP BY 1, 2) "
        "SELECT i.doc_a, i.doc_b, round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard "
        "FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a "
        "JOIN sizes sb ON sb.doc_id = i.doc_b "
        "WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.2"
    )


def _sql_curate(max_bucket: int | None = None,
                max_dup_word_frac: float | None = None) -> str:
    # the gates of TX.curate as one CTE chain over the documents table
    rep_cte = rep_join = ""
    if max_dup_word_frac is not None:
        rep_cte = (
            f", rep AS (SELECT doc_id FROM ({_sql_repetition()}) rr "
            f"WHERE dup_word_frac <= {max_dup_word_frac!r}) "
        )
        rep_join = "JOIN rep ON rep.doc_id = d.doc_id "
    return (
        "WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)), "
        f"losers AS (SELECT DISTINCT doc_b AS doc_id FROM ({_sql_near_dup(max_bucket)}) nd), "
        f"q AS (SELECT doc_id, quality FROM ({_sql_quality()}) qq), "
        f"l AS (SELECT doc_id, pred_lang FROM ({_sql_lang_id()}) ll)"
        f"{rep_cte} "
        "SELECT d.doc_id, l.pred_lang, q.quality FROM documents d "
        "JOIN keep ON keep.doc_id = d.doc_id "
        "LEFT JOIN losers ON losers.doc_id = d.doc_id "
        "JOIN q ON q.doc_id = d.doc_id "
        "JOIN l ON l.doc_id = d.doc_id "
        f"{rep_join}"
        "WHERE losers.doc_id IS NULL AND q.quality >= 0.5 AND l.pred_lang IN ('en')"
    )


def _sql_split(key_expr: str, test_pct: int = 20, salt: str = "split:v1") -> str:
    """Deterministic-split twin: same h32(salt || key) % 100 bucket."""
    h = D.sql_h32(f"concat('{salt}', {key_expr})")
    return (
        f"SELECT doc_id, CASE WHEN ({h}) % 100 < {test_pct} "
        "THEN 'test' ELSE 'train' END AS split FROM documents"
    )


def _sql_components() -> str:
    """Near-dup connected-components twin: transitive closure of the
    symmetrized jaccard-pair edges via a RECURSIVE CTE, component = min of
    self and everything reachable."""
    return (
        "WITH RECURSIVE jp AS (SELECT doc_a, doc_b FROM "
        f"({_sql_near_dup()}) nd), "
        "e(a, b) AS (SELECT doc_a, doc_b FROM jp "
        "UNION SELECT doc_b, doc_a FROM jp), "
        "reach(s, d) AS (SELECT a, b FROM e "
        "UNION SELECT r.s, e.b FROM reach r JOIN e ON e.a = r.d) "
        "SELECT doc_id, least(doc_id, coalesce("
        "(SELECT min(d) FROM reach WHERE s = doc_id), doc_id)) AS component "
        "FROM documents"
    )


def _sql_split_component(test_pct: int = 20, salt: str = "split:v1") -> str:
    """split_by_component twin: the recursive-CTE component label feeds the
    same h32(salt || key) % 100 bucket arithmetic as _sql_split."""
    h = D.sql_h32(f"concat('{salt}', CAST(component AS VARCHAR))")
    return (
        f"SELECT doc_id, CASE WHEN ({h}) % 100 < {test_pct} "
        f"THEN 'test' ELSE 'train' END AS split "
        f"FROM ({_sql_components()}) c"
    )


def _sql_ann_components() -> str:
    """Embedding-component twin: transitive closure over the ann_pairs
    edge set (cosine >= 0.35 bucket-verified pairs)."""
    return (
        "WITH RECURSIVE jp AS (SELECT vec_a, vec_b FROM "
        f"({_sql_ann_pairs()}) nd), "
        "e(a, b) AS (SELECT vec_a, vec_b FROM jp "
        "UNION SELECT vec_b, vec_a FROM jp), "
        "reach(s, d) AS (SELECT a, b FROM e "
        "UNION SELECT r.s, e.b FROM reach r JOIN e ON e.a = r.d) "
        "SELECT vec_id, least(vec_id, coalesce("
        "(SELECT min(d) FROM reach WHERE s = vec_id), vec_id)) AS component "
        "FROM embeddings"
    )


def _sql_curate_clusters() -> str:
    """Cluster-correct curation twin: losers are every doc whose near-dup
    COMPONENT label differs from its own id (one survivor per component),
    composed with the same exact-dedup/quality/language gates."""
    return (
        "WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents "
        "GROUP BY md5(text)), "
        f"losers AS (SELECT doc_id FROM ({_sql_components()}) c "
        "WHERE component <> doc_id), "
        f"q AS (SELECT doc_id, quality FROM ({_sql_quality()}) qq), "
        f"l AS (SELECT doc_id, pred_lang FROM ({_sql_lang_id()}) ll) "
        "SELECT d.doc_id, l.pred_lang, q.quality FROM documents d "
        "JOIN keep ON keep.doc_id = d.doc_id "
        "LEFT JOIN losers ON losers.doc_id = d.doc_id "
        "JOIN q ON q.doc_id = d.doc_id "
        "JOIN l ON l.doc_id = d.doc_id "
        "WHERE losers.doc_id IS NULL AND q.quality >= 0.5 "
        "AND l.pred_lang IN ('en')"
    )


def _sql_simhash(bits: int = 16) -> str:
    h = D.sql_h32("tok")
    sums = ", ".join(
        f"sum(((({h}) >> {b}) & 1) * 2 - 1) AS s{b}" for b in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return (
        "WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), "
        "'[a-z0-9]+')) AS tok FROM documents), "
        f"agg AS (SELECT doc_id, {sums} FROM toks GROUP BY doc_id) "
        f"SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM agg"
    )


def _sql_lang_id() -> str:
    scores = []
    for lang, words in TX._STOPWORDS.items():
        pat = r"\b(" + "|".join(words) + r")\b"
        scores.append(
            f"len(regexp_extract_all(lower(text), '{pat}')) AS score_{lang}"
        )
    langs = list(TX._STOPWORDS)
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN score_{l} = {best} THEN '{l}'" for l in langs
    ) + " ELSE 'und' END"
    return (
        f"WITH s AS (SELECT doc_id, {', '.join(scores)} FROM documents) "
        f"SELECT doc_id, {case} AS pred_lang FROM s"
    )


def _sql_quality() -> str:
    return (
        "WITH f AS (SELECT doc_id, length(text) AS n_chars2, "
        r"len(regexp_extract_all(text, '\S+')) AS n_words, "
        "len(regexp_extract_all(text, '[.,;:!?]')) AS n_punct, "
        r"len(regexp_extract_all(lower(text), "
        r"'\b(the|a|and|of|to|in|is|that|for|it)\b')) AS n_stop "
        "FROM documents) "
        "SELECT doc_id, n_words, n_punct, n_stop, "
        "round((n_chars2 - (n_words - 1)) / n_words, 6) AS mean_word_len, "
        "round(n_stop / n_words, 6) AS stop_ratio, "
        "round((CASE WHEN n_words >= 20 THEN 0.4 ELSE 0.0 END) "
        "+ (CASE WHEN (n_chars2 - (n_words - 1)) / n_words >= 3.0 "
        "AND (n_chars2 - (n_words - 1)) / n_words <= 10.0 THEN 0.3 ELSE 0.0 END) "
        "+ (CASE WHEN n_stop / n_words >= 0.05 THEN 0.2 ELSE 0.0 END) "
        "+ (CASE WHEN n_punct / n_chars2 <= 0.1 THEN 0.1 ELSE 0.0 END), 6) AS quality "
        "FROM f"
    )


def _sql_ann_lsh(planes: np.ndarray | None = None) -> str:
    planes = _PLANES if planes is None else planes
    q = np.asarray(_QVEC, dtype=np.float64)
    qbits = 0
    for p, plane in enumerate(planes):
        if float(plane @ q) > 0:
            qbits |= 1 << p
    probe = [qbits] + [qbits ^ (1 << p) for p in range(len(planes))]
    return (
        f"WITH b AS (SELECT vec_id, embedding, {_sql_bucket('embedding', planes)} AS bucket "
        "FROM embeddings) "
        f"SELECT vec_id FROM b WHERE bucket IN ({', '.join(map(str, probe))}) "
        f"ORDER BY round({_sql_cosine('embedding', _QVEC)}, 6) DESC, vec_id LIMIT 10"
    )


def _sql_ann_ivf() -> str:
    # mirrors ANN.ivf_assign_col: per-row dots against the 16-centroid
    # codebook, argmax with lowest-index tie-break via CASE ordering
    n = len(_CENTROIDS)
    dots = ", ".join(
        f"{_sql_dot('embedding', c)} AS d{i}" for i, c in enumerate(_CENTROIDS)
    )
    best = "greatest(" + ", ".join(f"d{i}" for i in range(n)) + ")"
    case = "CASE " + " ".join(
        f"WHEN d{i} = best THEN {i}" for i in range(n - 1)
    ) + f" ELSE {n - 1} END"
    q = np.asarray(_QVEC, dtype=np.float64)
    probe = np.argsort(-(_CENTROIDS @ q), kind="stable")[:2]
    probes = ", ".join(str(int(i)) for i in probe)
    return (
        f"WITH d AS (SELECT vec_id, embedding, {dots} FROM embeddings), "
        f"b AS (SELECT *, {best} AS best FROM d), "
        f"a AS (SELECT vec_id, embedding, {case} AS ivf_cell FROM b) "
        f"SELECT vec_id, round({_sql_cosine('embedding', _QVEC)}, 6) AS cosine "
        f"FROM a WHERE ivf_cell IN ({probes}) "
        "ORDER BY cosine DESC, vec_id LIMIT 10"
    )


def _pq_luts() -> list[list[float]]:
    """Per-subspace ADC lookup tables lut[j][k] = <u_subj, C[j][k]> over
    the UNIT query — the same driver-side doubles ANN.pq_adc_col ships as
    literals (same numpy ops, so bit-identical)."""
    m, ks, dsub = _PQ_CB.shape
    q = np.asarray(_QVEC, dtype=np.float64)
    q = q / np.linalg.norm(q)
    return [[float(np.dot(q[j * dsub:(j + 1) * dsub], _PQ_CB[j][kk]))
             for kk in range(ks)] for j in range(m)]


def _sql_pq_ctes(src: str, keep: str = "vec_id",
                 carry_embedding: bool = False) -> str:
    """CTE chain replicating ANN.pq_code_col over `src`: pqn = row norm
    (the tier encodes the UNIT vector so ADC approximates cosine), pd{j} =
    per-subspace distance lists (bias - 2*dot over embedding[i]/nrm, term
    order matching the engine's left-fold), pqc.c{j} = argmin codes
    (list_position = first match, the engine's array_position tie-break)."""
    m, ks, dsub = _PQ_CB.shape
    dists = []
    for j in range(m):
        terms = []
        for kk in range(ks):
            c = _PQ_CB[j][kk]
            bias = float(np.dot(c, c))
            dot = "(" + " + ".join(
                f"(CAST(embedding[{j * dsub + i + 1}] AS DOUBLE) / nrm) * "
                f"CAST({float(c[i])!r} AS DOUBLE)" for i in range(dsub)
            ) + ")"
            terms.append(f"(CAST({bias!r} AS DOUBLE) - "
                         f"CAST('2.0' AS DOUBLE) * {dot})")
        dists.append(f"list_value({', '.join(terms)}) AS pd{j}")
    codes = ", ".join(
        f"(list_position(pd{j}, list_min(pd{j})) - 1) AS c{j}"
        for j in range(m)
    )
    out_cols = f"{keep}, embedding" if carry_embedding else keep
    return (
        f"pqn AS (SELECT {keep}, embedding, {_sql_norm('embedding')} AS nrm "
        f"FROM {src}), "
        f"pqd AS (SELECT {keep}, embedding, {', '.join(dists)} FROM pqn), "
        f"pqc AS (SELECT {out_cols}, {codes} FROM pqd)"
    )


def _sql_pq_adc() -> str:
    """ADC score over pqc's codes: M LUT lookups + left-assoc adds."""
    luts = _pq_luts()
    return "(" + " + ".join(
        "(list_value("
        + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in luts[j])
        + f")[c{j} + 1])"
        for j in range(len(luts))
    ) + ")"


def _sql_ann_pq() -> str:
    """ann_pq_top10 twin: encode + ADC replicated with the same codebook /
    LUT literals the engine ships (Jegou et al. PQ; approximate by design,
    so the twin is the algorithm, not brute force — the same relationship
    _sql_bucket has to the LSH gates)."""
    return (
        f"WITH {_sql_pq_ctes('embeddings')} "
        f"SELECT vec_id, round({_sql_pq_adc()}, 6) AS adc FROM pqc "
        "ORDER BY adc DESC, vec_id LIMIT 10"
    )


def _sql_ann_ivfpq(k: int = 10, shortlist: int = 4) -> str:
    """ann_ivfpq_top10 twin: the IVF cell filter of _sql_ann_ivf, the PQ
    shortlist of _sql_pq_ctes (k*shortlist by unrounded ADC), then exact
    cosine re-rank — each stage the same literals/order as the engine."""
    n = len(_CENTROIDS)
    dots = ", ".join(
        f"{_sql_dot('embedding', c)} AS d{i}" for i, c in enumerate(_CENTROIDS)
    )
    best = "greatest(" + ", ".join(f"d{i}" for i in range(n)) + ")"
    case = "CASE " + " ".join(
        f"WHEN d{i} = best THEN {i}" for i in range(n - 1)
    ) + f" ELSE {n - 1} END"
    q = np.asarray(_QVEC, dtype=np.float64)
    probe = np.argsort(-(_CENTROIDS @ q), kind="stable")[:2]
    probes = ", ".join(str(int(i)) for i in probe)
    return (
        f"WITH d AS (SELECT vec_id, embedding, {dots} FROM embeddings), "
        f"b AS (SELECT *, {best} AS best FROM d), "
        f"a AS (SELECT vec_id, embedding, {case} AS ivf_cell FROM b), "
        f"f AS (SELECT vec_id, embedding FROM a WHERE ivf_cell IN ({probes})), "
        f"{_sql_pq_ctes('f', carry_embedding=True)}, "
        f"s AS (SELECT vec_id, embedding, {_sql_pq_adc()} AS _adc FROM pqc "
        f"ORDER BY _adc DESC, vec_id LIMIT {k * shortlist}) "
        f"SELECT vec_id, round({_sql_cosine('embedding', _QVEC)}, 6) AS cosine "
        f"FROM s ORDER BY cosine DESC, vec_id LIMIT {k}"
    )


def _sql_ann_batch_ivfpq(modulo: int = 9, k: int = 10, nprobe: int = 2,
                         shortlist: int = 4) -> str:
    """ann_batch_ivfpq_top10 twin: the batch-IVF twin's cell assignment +
    per-query probe pick, then the PQ stages — codes via _sql_pq_ctes,
    reconstruction from per-subspace codebook literals, per-pair ADC
    (dot(qv, recon)/|qv|, round 6), shortlist row_number at k*shortlist,
    exact cosine re-rank — and the brute fence for queries whose probed
    cells held < k candidates (the engine's _fill_underfilled condition:
    post-rerank count < k iff pre-shortlist pool < k)."""
    n = len(_CENTROIDS)
    m, ks, dsub = _PQ_CB.shape
    dots = ", ".join(
        f"{_sql_dot('embedding', c)} AS d{i}" for i, c in enumerate(_CENTROIDS)
    )
    best = "greatest(" + ", ".join(f"d{i}" for i in range(n)) + ")"
    case = "CASE " + " ".join(
        f"WHEN d{i} = best THEN {i}" for i in range(n - 1)
    ) + f" ELSE {n - 1} END"
    dlist = "[" + ", ".join(f"d{i}" for i in range(n)) + "]"

    def cbj(j: int) -> str:
        return "list_value(" + ", ".join(
            "list_value(" + ", ".join(
                f"CAST('{float(x)!r}' AS DOUBLE)" for x in c
            ) + ")" for c in _PQ_CB[j]
        ) + ")"

    recon = "flatten(list_value(" + ", ".join(
        f"({cbj(j)})[c{j} + 1]" for j in range(m)
    ) + "))"
    dotqr = "(" + " + ".join(
        f"CAST(p.qv[{i + 1}] AS DOUBLE) * CAST(rec.recon[{i + 1}] AS DOUBLE)"
        for i in range(m * dsub)
    ) + ")"
    cos_rr = _sql_cosine_cc("a.embedding", "p2.qv")
    cos_br = _sql_cosine_cc("e.embedding", "q0.qv")
    return (
        f"WITH d AS (SELECT vec_id, embedding, {dots} FROM embeddings), "
        f"bb AS (SELECT *, {best} AS best FROM d), "
        f"a AS (SELECT vec_id, embedding, {case} AS ivf_cell FROM bb), "
        f"q0 AS (SELECT vec_id AS query_id, embedding AS qv, "
        f"{_sql_norm('embedding')} AS qn, "
        f"unnest(range({n})) AS cell, unnest({dlist}) AS qd "
        f"FROM d WHERE vec_id % {modulo} = 0), "
        "qr AS (SELECT query_id, qv, qn, cell, row_number() OVER ("
        "PARTITION BY query_id ORDER BY qd DESC, cell) AS rn FROM q0), "
        f"p AS (SELECT query_id, qv, qn, cell FROM qr WHERE rn <= {nprobe}), "
        f"{_sql_pq_ctes('a', keep='vec_id, ivf_cell')}, "
        f"rec AS (SELECT vec_id, ivf_cell, {recon} AS recon FROM pqc), "
        f"cand AS (SELECT p.query_id, rec.vec_id, "
        f"round({dotqr} / p.qn, 6) AS cosine "
        "FROM p JOIN rec ON rec.ivf_cell = p.cell), "
        f"filled AS (SELECT query_id FROM cand GROUP BY query_id "
        f"HAVING count(*) >= {k}), "
        "sl AS (SELECT query_id, vec_id, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn "
        "FROM cand WHERE query_id IN (SELECT query_id FROM filled)), "
        f"sh AS (SELECT query_id, vec_id FROM sl WHERE rn <= {k * shortlist}), "
        "q1 AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings "
        f"WHERE vec_id % {modulo} = 0), "
        f"rr AS (SELECT sh.query_id, sh.vec_id, {cos_rr} AS cosine "
        "FROM sh JOIN a ON a.vec_id = sh.vec_id "
        "JOIN q1 p2 ON p2.query_id = sh.query_id), "
        "rrr AS (SELECT query_id, vec_id, cosine, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn FROM rr), "
        f"br AS (SELECT q0.query_id, e.vec_id, {cos_br} AS cosine "
        "FROM q1 q0 CROSS JOIN embeddings e "
        "WHERE q0.query_id NOT IN (SELECT query_id FROM filled)), "
        "brr AS (SELECT query_id, vec_id, cosine, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn FROM br) "
        f"SELECT query_id, vec_id, cosine FROM rrr WHERE rn <= {k} "
        "UNION ALL "
        f"SELECT query_id, vec_id, cosine FROM brr WHERE rn <= {k}"
    )


def _sql_contamination() -> str:
    """doc_contamination twin: the shingle CTE split into the eval slice
    (doc_id % 37 = 1, distinct shingles) and the corpus; per-corpus-doc
    semi-join hit count over distinct shingles, left-joined onto sizes."""
    return (
        f"WITH {_sql_shingles_cte()}, "
        "b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 1), "
        "c AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 37 <> 1), "
        "sizes AS (SELECT doc_id, count(*) AS n_sh FROM c GROUP BY 1), "
        "hits AS (SELECT doc_id, count(*) AS n_hits FROM c "
        "WHERE shingle IN (SELECT shingle FROM b) GROUP BY 1) "
        "SELECT s.doc_id, coalesce(h.n_hits, 0) AS n_hits, s.n_sh, "
        "round(coalesce(h.n_hits, 0) / s.n_sh, 6) AS frac "
        "FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id"
    )


def _sql_ivf_cell_stats() -> str:
    """ivf_cell_stats twin: the same 16-centroid argmax assignment as
    `_sql_ann_ivf` (lowest-index tie-break via the CASE chain), grouped
    into the occupancy histogram."""
    n = len(_CENTROIDS)
    dots = ", ".join(
        f"{_sql_dot('embedding', c)} AS d{i}" for i, c in enumerate(_CENTROIDS)
    )
    best = "greatest(" + ", ".join(f"d{i}" for i in range(n)) + ")"
    case = "CASE " + " ".join(
        f"WHEN d{i} = best THEN {i}" for i in range(n - 1)
    ) + f" ELSE {n - 1} END"
    return (
        f"WITH d AS (SELECT vec_id, embedding, {dots} FROM embeddings), "
        f"b AS (SELECT *, {best} AS best FROM d), "
        f"a AS (SELECT {case} AS ivf_cell FROM b) "
        "SELECT ivf_cell, count(*) AS n_vecs FROM a GROUP BY ivf_cell"
    )


def _sql_ann_ivf_trained() -> str:
    """Brute-force twin of the trained-IVF gate: exact cosine top-10 over
    the SAME clustered transform (per-element 0.05*v + spike CASE), term
    order matching the engine's left-fold."""
    q2 = _ivf_query_vec()
    qn = float(np.linalg.norm(q2))

    def elem(i: int) -> str:
        s = f"({_IVF_EPS!r} * CAST(embedding[{i + 1}] AS DOUBLE)"
        if i % 8 == 0:
            s += (f" + (CASE WHEN vec_id % 8 = {i // 8} "
                  f"THEN {_IVF_SPIKE!r} ELSE 0.0 END)")
        return s + ")"

    dot = "(" + " + ".join(
        f"{elem(i)} * CAST({float(v)!r} AS DOUBLE)" for i, v in enumerate(q2)
    ) + ")"
    norm = "sqrt(" + " + ".join(f"{elem(i)} * {elem(i)}" for i in range(64)) + ")"
    return (
        f"SELECT vec_id, round({dot} / ({norm} * CAST({qn!r} AS DOUBLE)), 6) "
        "AS cosine FROM embeddings ORDER BY cosine DESC, vec_id LIMIT 10"
    )


def _sql_dot_cc(a: str, b: str, dim: int = 64) -> str:
    """Column-column dot product, left-folded in the same term order as the
    engine's zip_with/aggregate fold."""
    return "(" + " + ".join(
        f"CAST({a}[{i + 1}] AS DOUBLE) * CAST({b}[{i + 1}] AS DOUBLE)"
        for i in range(dim)
    ) + ")"


def _sql_cosine_cc(a: str, b: str) -> str:
    return (f"round({_sql_dot_cc(a, b)} / "
            f"({_sql_norm(a)} * {_sql_norm(b)}), 6)")


def _sql_ann_batch_brute(modulo: int = 7, k: int = 10) -> str:
    """Exact batch top-k twin: query subset x table cross join, per-query
    row_number on (rounded cosine DESC, vec_id)."""
    return (
        f"WITH q AS (SELECT vec_id AS query_id, embedding AS qv "
        f"FROM embeddings WHERE vec_id % {modulo} = 0), "
        f"c AS (SELECT q.query_id, e.vec_id, "
        f"{_sql_cosine_cc('e.embedding', 'q.qv')} AS cosine "
        "FROM q CROSS JOIN embeddings e) "
        "SELECT query_id, vec_id, cosine FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine DESC, vec_id) AS rn FROM c) "
        f"WHERE rn <= {k}"
    )


def _sql_ann_batch(modulo: int = 3, k: int = 10,
                   planes: np.ndarray | None = None) -> str:
    """Bucketed batch top-k twin: replicate the hyperplane bucketing, the
    Hamming<=1 probe join (bucket IN (qb, xor(qb, 1<<p)...)), and the brute
    fence for queries whose candidate set came up short of k."""
    planes = _PLANES if planes is None else planes
    probes = ", ".join(["q.qb"] + [f"xor(q.qb, {1 << p})"
                                   for p in range(len(planes))])
    cos = _sql_cosine_cc('b.embedding', 'q.qv')
    cos_br = _sql_cosine_cc('e.embedding', 'q.qv')
    return (
        f"WITH b AS (SELECT vec_id, embedding, "
        f"{_sql_bucket('embedding', planes)} AS bucket FROM embeddings), "
        f"q AS (SELECT vec_id AS query_id, embedding AS qv, bucket AS qb "
        f"FROM b WHERE vec_id % {modulo} = 0), "
        f"cand AS (SELECT q.query_id, b.vec_id, {cos} AS cosine "
        f"FROM q JOIN b ON b.bucket IN ({probes})), "
        f"filled AS (SELECT query_id FROM cand GROUP BY query_id "
        f"HAVING count(*) >= {k}), "
        "lsh AS (SELECT query_id, vec_id, cosine, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn "
        "FROM cand WHERE query_id IN (SELECT query_id FROM filled)), "
        f"br AS (SELECT q.query_id, e.vec_id, {cos_br} AS cosine "
        "FROM q CROSS JOIN embeddings e "
        "WHERE q.query_id NOT IN (SELECT query_id FROM filled)), "
        "brr AS (SELECT query_id, vec_id, cosine, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn FROM br) "
        f"SELECT query_id, vec_id, cosine FROM lsh WHERE rn <= {k} "
        "UNION ALL "
        f"SELECT query_id, vec_id, cosine FROM brr WHERE rn <= {k}"
    )


def _sql_ann_batch_ivf(modulo: int = 5, k: int = 10, nprobe: int = 2) -> str:
    """IVF batch twin: replicate the nearest-centroid assignment (same CASE
    chain as the single-query IVF twin), each query's top-nprobe cells
    (dots DESC, lowest cell on ties — the engine's array_sort order), the
    cell equi-join, and the brute fence."""
    n = len(_CENTROIDS)
    dots = ", ".join(
        f"{_sql_dot('embedding', c)} AS d{i}" for i, c in enumerate(_CENTROIDS)
    )
    best = "greatest(" + ", ".join(f"d{i}" for i in range(n)) + ")"
    case = "CASE " + " ".join(
        f"WHEN d{i} = best THEN {i}" for i in range(n - 1)
    ) + f" ELSE {n - 1} END"
    dlist = "[" + ", ".join(f"d{i}" for i in range(n)) + "]"
    cos = _sql_cosine_cc('a.embedding', 'p.qv')
    cos_br = _sql_cosine_cc('e.embedding', 'q0.qv')
    return (
        f"WITH d AS (SELECT vec_id, embedding, {dots} FROM embeddings), "
        f"bb AS (SELECT *, {best} AS best FROM d), "
        f"a AS (SELECT vec_id, embedding, {case} AS ivf_cell FROM bb), "
        f"q0 AS (SELECT vec_id AS query_id, embedding AS qv, "
        f"unnest(range({n})) AS cell, unnest({dlist}) AS qd "
        f"FROM d WHERE vec_id % {modulo} = 0), "
        "qr AS (SELECT query_id, qv, cell, row_number() OVER ("
        "PARTITION BY query_id ORDER BY qd DESC, cell) AS rn FROM q0), "
        f"p AS (SELECT query_id, qv, cell FROM qr WHERE rn <= {nprobe}), "
        f"cand AS (SELECT p.query_id, a.vec_id, {cos} AS cosine "
        "FROM p JOIN a ON a.ivf_cell = p.cell), "
        f"filled AS (SELECT query_id FROM cand GROUP BY query_id "
        f"HAVING count(*) >= {k}), "
        "iv AS (SELECT query_id, vec_id, cosine, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn "
        "FROM cand WHERE query_id IN (SELECT query_id FROM filled)), "
        "q1 AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings "
        f"WHERE vec_id % {modulo} = 0), "
        "br AS (SELECT q0.query_id, e.vec_id, "
        f"{cos_br} AS cosine "
        "FROM q1 q0 CROSS JOIN embeddings e "
        "WHERE q0.query_id NOT IN (SELECT query_id FROM filled)), "
        "brr AS (SELECT query_id, vec_id, cosine, row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn FROM br) "
        f"SELECT query_id, vec_id, cosine FROM iv WHERE rn <= {k} "
        "UNION ALL "
        f"SELECT query_id, vec_id, cosine FROM brr WHERE rn <= {k}"
    )


def _sql_ann_pairs(planes: np.ndarray | None = None) -> str:
    planes = _PLANES if planes is None else planes
    cos = (
        "(" + " + ".join(
            f"CAST(l.embedding[{i + 1}] AS DOUBLE) * CAST(r.embedding[{i + 1}] AS DOUBLE)"
            for i in range(64)
        ) + ")"
    )
    nl = _sql_norm("l.embedding")
    nr = _sql_norm("r.embedding")
    return (
        f"WITH b AS (SELECT vec_id, embedding, {_sql_bucket('embedding', planes)} AS bucket "
        "FROM embeddings) "
        "SELECT l.vec_id AS vec_a, r.vec_id AS vec_b, "
        f"round({cos} / ({nl} * {nr}), 6) AS cosine "
        "FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id "
        f"WHERE round({cos} / ({nl} * {nr}), 6) >= 0.35"
    )


def _sql_phash_pairs(max_bucket: int | None = None) -> str:
    """DuckDB twin of operators/images.hamming_pairs over snip_fp64: 4x16-bit
    band buckets -> candidate self-join -> exact bit_count(xor) <= 3;
    `max_bucket` applies the same HAVING-count bucket exclusion as the
    operator's skew guard."""
    if max_bucket is None:
        bok = "e"
    else:
        bok = ("(SELECT e.* FROM e JOIN (SELECT band, bh FROM e GROUP BY 1, 2 "
               f"HAVING count(*) <= {max_bucket}) ok USING (band, bh))")
    return (
        f"{_POI}, fp AS (SELECT poi_id, {D.snip_fp64('poi_id')} AS fp FROM poi), "
        "e AS (SELECT poi_id, fp, b.band, (fp >> (b.band * 16)) & 65535 AS bh "
        "FROM fp, (VALUES (0), (1), (2), (3)) b(band)), "
        f"cand AS (SELECT DISTINCT l.poi_id AS key_a, r.poi_id AS key_b, "
        f"l.fp AS fa, r.fp AS fb FROM {bok} l JOIN {bok} r "
        "ON l.band = r.band AND l.bh = r.bh AND l.poi_id < r.poi_id) "
        "SELECT key_a, key_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming "
        "FROM cand WHERE bit_count(xor(fa, fb)) <= 3"
    )
