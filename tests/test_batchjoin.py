"""Many-geometry batch spatial join (batchjoin.py) — correctness vs brute
force, plan shape (equi-join, never cartesian), and salting invariance."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from openpoiservice_spark import batchjoin as BJ
from openpoiservice_spark import cells, derive, geo


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def view(spark):
    return derive.spark_poi_view(spark, "/root/testdata/sf0.001").cache()


@pytest.fixture(scope="module")
def geom_items():
    # every geometry kind through one batch: bbox, circle, corridor,
    # polygon-with-hole
    ring = list(derive.POLY_Q) + [derive.POLY_Q[0]]
    hole = list(derive.HOLE_Q) + [derive.HOLE_Q[0]]
    return [
        (0, geo.bbox_spec(8.0, 52.2, 8.9, 52.7), 0.0),
        (1, geo.GeomSpec("point", [(10.0, 53.0)]), 12_000.0),
        (2, geo.GeomSpec("linestring", derive.LINE_Q), 8_000.0),
        (3, geo.GeomSpec("polygon", ring, holes=[hole]), 0.0),
        (4, geo.bbox_spec(13.2, 52.1, 13.9, 52.3), 1_000.0),
    ]


def _brute(points, items):
    """Row-level multiset of (geom_id, poi_id) matches — the derived view
    contains duplicate poi_ids (synthetic lineitem collisions), and the
    operator's inner-join semantics keep row multiplicity."""
    from collections import Counter

    lon = np.array([p.lon for p in points])
    lat = np.array([p.lat for p in points])
    pid = np.array([p.poi_id for p in points])
    out = Counter()
    for gid, spec, buf in items:
        ok = spec.within_m(lon, lat, buf)
        out.update((gid, int(i)) for i in pid[ok])
    return out


def test_batch_join_matches_brute_force(spark, view, geom_items):
    from collections import Counter

    gdf = BJ.geoms_to_df(spark, geom_items)
    got = Counter(
        (r.geom_id, r.poi_id)
        for r in BJ.batch_spatial_join(view, gdf, res=12).collect()
    )
    want = _brute(view.select("poi_id", "lon", "lat").collect(), geom_items)
    assert got == want
    assert len(got) > 0
    # every geometry that should match does (incl. the holes polygon)
    assert {g for g, _ in got} == {g for g, _ in want}


def test_batch_join_counts(spark, view, geom_items):
    gdf = BJ.geoms_to_df(spark, geom_items)
    counts = {r.geom_id: r.n_pois
              for r in BJ.batch_join_counts(view, gdf, res=12).collect()}
    want = _brute(view.select("poi_id", "lon", "lat").collect(), geom_items)
    brute_counts = {}
    for (g, _), n in want.items():
        brute_counts[g] = brute_counts.get(g, 0) + n
    assert counts == brute_counts


def test_batch_join_counts_include_empty(spark, view, geom_items):
    """A geometry matching nothing still gets a 0-count row when asked."""
    items = geom_items + [(99, geo.bbox_spec(0.0, 0.0, 0.1, 0.1), 0.0)]
    gdf = BJ.geoms_to_df(spark, items)
    counts = {r.geom_id: r.n_pois for r in
              BJ.batch_join_counts(view, gdf, res=12,
                                   include_empty=True).collect()}
    assert counts[99] == 0
    assert set(counts) == {g for g, _, _ in items}
    inner = {r.geom_id for r in
             BJ.batch_join_counts(view, gdf, res=12).collect()}
    assert 99 not in inner


def test_batch_join_counts_dedup_multipart_layer(spark, view, geom_items):
    """Round-5 ADVICE: a multi-part layer (geomtext fan-out: one row per
    MultiPolygon part, SHARED geom_id) double-counts points matching two
    parts unless dedup=True collapses (geom_id, point) pairs first.
    The dedup key (keep_cols[0]) must uniquely identify a point — synthetic
    points here; the fixture view's poi_id repeats across category rows."""
    rng = np.random.default_rng(41)
    n = 120
    pts = spark.createDataFrame(
        [(int(i), 8.2 + 0.4 * float(rng.random()),
          52.3 + 0.3 * float(rng.random())) for i in range(n)],
        "poi_id long, lon double, lat double")
    # two identical bbox 'parts' of geometry 0 — every matching point
    # matches both rows
    items = [
        (0, geo.bbox_spec(8.0, 52.2, 8.9, 52.7), 0.0),
        (0, geo.bbox_spec(8.0, 52.2, 8.9, 52.7), 0.0),
    ]
    gdf = BJ.geoms_to_df(spark, items)
    raw = {r.geom_id: r.n_pois
           for r in BJ.batch_join_counts(pts, gdf, res=12).collect()}
    ded = {r.geom_id: r.n_pois
           for r in BJ.batch_join_counts(pts, gdf, res=12,
                                         dedup=True).collect()}
    assert raw[0] == 2 * n   # the documented hazard, demonstrated
    assert ded[0] == n       # dedup restores per-geometry semantics


def test_batch_join_plan_is_shuffled_equi_join(spark, view, geom_items):
    """The scale contract: an EQUI-join on the cell key — never a cartesian
    product or nested loop, whatever N_geoms is.  With auto-broadcast off
    (both sides too big, the 100 TB case) the plan must be a repartition-by-
    cell shuffle join with hash partitioning on BOTH sides; at small scale
    Catalyst may broadcast the smaller side instead, which is the correct
    adaptive degeneration (covers broadcast => the big point side never
    shuffles at all)."""
    gdf = BJ.geoms_to_df(spark, geom_items)
    small_plan = _plan(BJ.batch_spatial_join(view, gdf, res=12))
    assert "CartesianProduct" not in small_plan
    assert "BroadcastNestedLoopJoin" not in small_plan

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(BJ.batch_spatial_join(view, gdf, res=12))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    # both sides hash-partitioned on the cell key
    assert plan.count("hashpartitioning(qcell") >= 2


def test_batch_join_salting_invariance(spark, view, geom_items):
    """Salting a hot cell fans its join work S ways without changing the
    result — same pairs, same counts."""
    from collections import Counter

    gdf = BJ.geoms_to_df(spark, geom_items)
    base = Counter(
        (r.geom_id, r.poi_id)
        for r in BJ.batch_spatial_join(view, gdf, res=12).collect()
    )
    # salt every pcell the data actually occupies (max salt pressure)
    pcs = [r[0] for r in view.select(
        BJ.cell_expr(F.col("lon"), F.col("lat"), cells.PARTITION_RES)
    ).distinct().collect()]
    salted = Counter(
        (r.geom_id, r.poi_id)
        for r in BJ.batch_spatial_join(
            view, gdf, res=12, salt_cells={int(pc): 8 for pc in pcs}
        ).collect()
    )
    assert salted == base


def test_batch_join_dateline_geometry(spark):
    """A wrapped bbox (min_lon > max_lon) joins points on both sides of the
    antimeridian in the same batch as ordinary geometries."""
    pts = spark.createDataFrame(
        [(1, 179.5, 0.1), (2, -179.5, -0.1), (3, 170.0, 0.0), (4, 0.0, 0.0)],
        "poi_id long, lon double, lat double",
    )
    items = [(0, geo.bbox_spec(179.0, -1.0, -179.0, 1.0), 0.0),
             (1, geo.bbox_spec(-1.0, -1.0, 1.0, 1.0), 0.0)]
    gdf = BJ.geoms_to_df(spark, items)
    got = {(r.geom_id, r.poi_id)
           for r in BJ.batch_spatial_join(pts, gdf, res=8).collect()}
    assert got == {(0, 1), (0, 2), (1, 4)}


def test_auto_salt_cells():
    m = BJ.auto_salt_cells({10: 100, 11: 5_000_000, 12: 80_000_000},
                           threshold=2_000_000)
    assert 10 not in m
    assert m[11] == 3
    assert m[12] == 32  # capped


def test_geom_pack_roundtrip():
    ring = list(derive.POLY_Q) + [derive.POLY_Q[0]]
    hole = list(derive.HOLE_Q) + [derive.HOLE_Q[0]]
    spec = geo.GeomSpec("polygon", ring, holes=[hole])
    spec2, buf = BJ._unpack_geom(BJ.pack_geom(spec, 42.0))
    assert buf == 42.0
    assert spec2.kind == "polygon"
    assert np.array_equal(spec2.coords, spec.coords)
    assert len(spec2.holes) == 1
    assert np.array_equal(spec2.holes[0], spec.holes[0])


def test_batch_join_empty_inputs(spark, view):
    """Empty geometry table and all-outside geometries both yield empty
    results without errors (the mapInPandas stages must tolerate zero
    batches / zero cover rows)."""
    empty = spark.createDataFrame([], BJ.GEOM_SCHEMA)
    assert BJ.batch_spatial_join(view, empty, res=12).count() == 0
    far = BJ.geoms_to_df(spark, [(0, geo.bbox_spec(-10.0, -10.0, -9.5, -9.6), 0.0)])
    assert BJ.batch_spatial_join(view, far, res=12).count() == 0
    assert BJ.batch_join_counts(view, far, res=12, include_empty=True).collect() \
        == [__import__("pyspark").sql.Row(geom_id=0, n_pois=0)]


def test_batch_nearest_matches_brute(spark, view, geom_items):
    """Nearest-geometry assignment vs numpy argmin with the same
    (distance, geom_id) tie-break; distances come from the with_distance
    refine output."""
    gdf = BJ.geoms_to_df(spark, geom_items)
    got = {r.poi_id: r.nearest_geom
           for r in BJ.batch_nearest(view, gdf, res=12).collect()}
    pts = view.select("poi_id", "lon", "lat").dropDuplicates(["poi_id"]).collect()
    lon = np.array([p.lon for p in pts])
    lat = np.array([p.lat for p in pts])
    pid = [p.poi_id for p in pts]
    best = {}
    for gid, spec, buf in geom_items:
        d = spec.distance_m(lon, lat)
        ok = d <= buf
        for i in np.where(ok)[0]:
            key = (float(d[i]), gid)
            if pid[i] not in best or key < best[pid[i]]:
                best[pid[i]] = key
    want = {p: g for p, (_, g) in best.items()}
    assert got == want
    assert len(got) > 0


def test_batch_join_with_distance_column(spark, view, geom_items):
    gdf = BJ.geoms_to_df(spark, geom_items)
    rows = BJ.batch_spatial_join(view, gdf, res=12,
                                 with_distance=True).limit(50).collect()
    assert rows and all(r.distance >= 0.0 for r in rows)
    bufs = {gid: buf for gid, _, buf in geom_items}
    assert all(r.distance <= bufs[r.geom_id] for r in rows)


def test_pick_batch_res_median():
    items = [
        (0, geo.bbox_spec(8.0, 52.0, 8.1, 52.1), 0.0),      # small -> fine res
        (1, geo.bbox_spec(8.0, 52.0, 8.2, 52.2), 0.0),
        (2, geo.bbox_spec(-170.0, -60.0, 170.0, 60.0), 0.0),  # continent outlier
    ]
    r = BJ.pick_batch_res(items)
    fine = cells.pick_cover_res(items[0][1], 0.0)
    coarse = cells.pick_cover_res(items[2][1], 0.0)
    assert coarse < r <= fine  # outlier does not drag the pick to coarse
    assert BJ.pick_batch_res([]) == cells.DEFAULT_RES


def test_batch_join_pcell_footprint_prunes_partitions(spark, fixture_paths):
    """pcell_col: the geometry layer's pcell footprint becomes a partition
    filter on the prepared table — same rows, and the point-side scan shows
    PartitionFilters (directory pruning; a regional layer never scans the
    rest of a planet-scale table)."""
    from collections import Counter

    from openpoiservice_spark import prepare

    pts = prepare.read_prepared(spark, fixture_paths["prepared"]).select(
        F.col("osm_id").alias("poi_id"), "lon", "lat", "pcell")
    items = [(0, geo.bbox_spec(8.80, 53.07, 8.82, 53.08), 0.0),
             (1, geo.GeomSpec("point", [(8.8075, 53.0753)]), 500.0)]
    gdf = BJ.geoms_to_df(spark, items)
    base = Counter((r.geom_id, r.poi_id) for r in
                   BJ.batch_spatial_join(pts, gdf, res=14).collect())
    pruned_df = BJ.batch_spatial_join(pts, gdf, res=14, pcell_col="pcell")
    pruned = Counter((r.geom_id, r.poi_id) for r in pruned_df.collect())
    assert pruned == base and len(base) > 0
    plan = _plan(pruned_df)
    seg = plan.split("PartitionFilters")[1][:300]
    assert "pcell" in seg and "IN" in seg.upper()


# --------------------------------------------------------------- batch kNN


def _knn_brute(pts_rows, queries, k):
    """(query_id, poi_id) multiset of the exact k nearest by
    (haversine, poi_id) — duplicate poi_ids in the derived view keep row
    multiplicity, so compare Counters."""
    from collections import Counter

    lon = np.array([p.lon for p in pts_rows])
    lat = np.array([p.lat for p in pts_rows])
    pid = np.array([p.poi_id for p in pts_rows])
    out = Counter()
    for qid, qlon, qlat in queries:
        d = geo.haversine_m(lon, lat, qlon, qlat)
        order = np.lexsort((pid, d))[:k]
        out.update((qid, int(i)) for i in pid[order])
    return out


def _qdf(spark, queries):
    return spark.createDataFrame(
        [(int(q), float(lo), float(la)) for q, lo, la in queries],
        BJ.KNN_QUERY_SCHEMA)


def test_batch_knn_matches_brute(spark, view):
    from collections import Counter

    rng = np.random.default_rng(17)
    queries = [(i, 7.8 + 5.8 * float(rng.random()),
                52.2 + 1.6 * float(rng.random())) for i in range(40)]
    stats = {}
    got = Counter(
        (r.query_id, r.poi_id)
        for r in BJ.batch_knn(view, _qdf(spark, queries), k=10, res=12,
                              r0=2, probe_stats=stats).collect())
    want = _knn_brute(view.select("poi_id", "lon", "lat").collect(),
                      queries, 10)
    assert got == want
    assert sum(got.values()) == 40 * 10  # dup poi_ids collapse Counter keys


def test_batch_knn_fence_reprobe_expands(spark):
    """A query in an empty neighbourhood must re-probe (fence/count check)
    and still return the exact answer — the bounded re-probe pass, not a
    silent short result."""
    from collections import Counter

    rng = np.random.default_rng(23)
    n = 400
    pts = spark.createDataFrame(
        [(int(i), 10.5 + 0.02 * float(rng.random()),
          53.5 + 0.02 * float(rng.random())) for i in range(n)],
        "poi_id long, lon double, lat double")
    # query ~150 km away from the only cluster; r0=1 at res 12 covers ~5 km
    queries = [(0, 9.0, 52.5)]
    stats = {}
    got = Counter((r.query_id, r.poi_id) for r in
                  BJ.batch_knn(pts, _qdf(spark, queries), k=5, res=12, r0=1,
                               probe_stats=stats).collect())
    assert stats["rounds"] > 1  # the re-probe actually fired
    want = _knn_brute(pts.collect(), queries, 5)
    assert got == want


def test_batch_knn_multi_round_plan_is_checkpoint_bounded(spark):
    """Round-5 verdict item 8: each re-probe round localCheckpoints the
    accepted rows, so the returned union's plan reads materialized blocks
    (ExistingRDD) instead of replaying every earlier round's cover-join
    chain, and plan depth stays bounded however many rounds ran."""
    from collections import Counter

    rng = np.random.default_rng(29)
    pts = spark.createDataFrame(
        [(int(i), 10.5 + 0.02 * float(rng.random()),
          53.5 + 0.02 * float(rng.random())) for i in range(300)],
        "poi_id long, lon double, lat double")
    # one easy query (answered round 1) + one far query (forces re-probes):
    # the easy round's accepted rows must come back via a checkpoint scan
    queries = [(0, 10.51, 53.51), (1, 6.0, 50.0)]
    stats = {}
    out = BJ.batch_knn(pts, _qdf(spark, queries), k=3, res=12, r0=1,
                       probe_stats=stats)
    got = Counter((r.query_id, r.poi_id) for r in out.collect())
    assert stats["rounds"] > 1
    assert got == _knn_brute(pts.collect(), queries, 3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan  # earlier rounds are materialized blocks


def test_batch_knn_dateline_and_k_gt_n(spark):
    """Longitude wrap: a query near +180 finds points just across the
    antimeridian; k > table size returns every row exactly once."""
    pts = spark.createDataFrame(
        [(1, -179.9, 0.0), (2, -179.8, 0.05), (3, 170.0, 0.0), (4, 0.0, 0.0)],
        "poi_id long, lon double, lat double")
    rows = BJ.batch_knn(pts, _qdf(spark, [(0, 179.95, 0.0)]), k=2, res=10,
                        r0=1).collect()
    assert {r.poi_id for r in rows} == {1, 2}
    all_rows = BJ.batch_knn(pts, _qdf(spark, [(0, 179.95, 0.0)]), k=50,
                            res=10, r0=1).collect()
    assert sorted(r.poi_id for r in all_rows) == [1, 2, 3, 4]


def test_batch_knn_plan_no_cartesian(spark, view):
    """Scale contract: the candidate stage is an EQUI-join on the cell key —
    never a cartesian/nested-loop — and with broadcast off both sides
    hash-partition on qcell (one shuffle each)."""
    queries = [(i, 8.0 + 0.1 * i, 52.5) for i in range(20)]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # the returned frame is checkpointed (round 7: fence check and the
        # caller's action share one materialization), so the candidate-join
        # shape is asserted through the probe_stats per-round plan hook
        stats: dict = {}
        BJ.batch_knn(view, _qdf(spark, queries), k=5, res=12,
                     r0=2, probe_stats=stats).count()
        plan = "\n".join(stats["plans"])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    assert plan.count("hashpartitioning(qcell") >= 2


def test_batch_knn_pcell_pruning(spark, fixture_paths):
    """pcell_col turns the query disks' partition footprint into directory
    pruning on the prepared point table — same result, PartitionFilters in
    the scan."""
    from collections import Counter

    from openpoiservice_spark import prepare

    pts = prepare.read_prepared(spark, fixture_paths["prepared"]).select(
        F.col("osm_id").alias("poi_id"), "lon", "lat", "pcell")
    queries = [(0, 8.8075, 53.0753), (1, 8.81, 53.08)]
    base = Counter((r.query_id, r.poi_id) for r in
                   BJ.batch_knn(pts, _qdf(spark, queries), k=5, res=14,
                                r0=2).collect())
    stats: dict = {}
    pruned_df = BJ.batch_knn(pts, _qdf(spark, queries), k=5, res=14, r0=2,
                             pcell_col="pcell", probe_stats=stats)
    pruned = Counter((r.query_id, r.poi_id) for r in pruned_df.collect())
    assert pruned == base and len(base) == 10
    # the returned frame is checkpointed; assert the scan shape through the
    # probe_stats per-round plan hook (round 7)
    plan = "\n".join(stats["plans"])
    seg = plan.split("PartitionFilters")[1][:300]
    assert "pcell" in seg and "IN" in seg.upper()


def test_batch_nearest_max_radius_and_unmatched(spark):
    """max_radius widens candidacy beyond each geometry's own buffer;
    unmatched='null' keeps an audit row for points beyond even that."""
    pts = spark.createDataFrame(
        [(1, 8.00, 53.00),   # inside g0's buffer
         (2, 8.05, 53.00),   # ~3.3 km from g0: outside buffer, inside radius
         (3, 9.50, 53.00)],  # ~100 km away: beyond max_radius
        "poi_id long, lon double, lat double")
    items = [(0, geo.GeomSpec("point", [(8.0, 53.0)]), 500.0),
             (7, geo.GeomSpec("point", [(8.2, 53.0)]), 500.0)]
    gdf = BJ.geoms_to_df(spark, items)
    base = {r.poi_id: r.nearest_geom
            for r in BJ.batch_nearest(pts, gdf, res=12).collect()}
    assert base == {1: 0}  # radius-bounded default drops 2 and 3
    wide = {r.poi_id: r.nearest_geom
            for r in BJ.batch_nearest(pts, gdf, res=12,
                                      max_radius=20_000.0).collect()}
    assert wide == {1: 0, 2: 0}
    all_rows = {r.poi_id: r.nearest_geom
                for r in BJ.batch_nearest(pts, gdf, res=12,
                                          max_radius=20_000.0,
                                          unmatched="null").collect()}
    assert all_rows == {1: 0, 2: 0, 3: None}
    with pytest.raises(ValueError):
        BJ.batch_nearest(pts, gdf, res=12, unmatched="bogus")


def test_batch_knn_pcell_pruning_coarse_reprobe(spark, fixture_paths):
    """A far-away probe whose re-probe rounds coarsen BELOW the partition
    res must still return the exact answer with pcell_col set (the footprint
    filter is skipped once cover cells have no pcell ancestors — a wrong IN
    list would silently lose rows)."""
    from collections import Counter

    from openpoiservice_spark import prepare

    pts = prepare.read_prepared(spark, fixture_paths["prepared"]).select(
        F.col("osm_id").alias("poi_id"), "lon", "lat", "pcell")
    queries = [(0, -140.0, -40.0)]  # ~17,000 km from the fixture cluster
    got = Counter((r.query_id, r.poi_id) for r in
                  BJ.batch_knn(pts, _qdf(spark, queries), k=3, res=14, r0=1,
                               pcell_col="pcell", max_rounds=8).collect())
    want = _knn_brute(pts.collect(), queries, 3)
    assert got == want and sum(got.values()) == 3


def test_batch_join_salting_composes_with_pcell_pruning(spark, fixture_paths):
    """The two scale features together — skew salting AND footprint
    partition pruning — must compose without changing one pair."""
    from collections import Counter

    from openpoiservice_spark import prepare

    pts = prepare.read_prepared(spark, fixture_paths["prepared"]).select(
        F.col("osm_id").alias("poi_id"), "lon", "lat", "pcell")
    items = [(0, geo.bbox_spec(8.80, 53.07, 8.82, 53.08), 0.0),
             (1, geo.GeomSpec("point", [(8.8075, 53.0753)]), 500.0)]
    gdf = BJ.geoms_to_df(spark, items)
    base = Counter((r.geom_id, r.poi_id) for r in
                   BJ.batch_spatial_join(pts, gdf, res=14).collect())
    pcs = [r[0] for r in pts.select("pcell").distinct().collect()]
    both = Counter((r.geom_id, r.poi_id) for r in BJ.batch_spatial_join(
        pts, gdf, res=14, pcell_col="pcell",
        salt_cells={int(pc): 4 for pc in pcs}).collect())
    assert both == base and len(base) > 0


def test_batch_knn_salting_invariance(spark, view):
    """Skew-salting the batch kNN fans hot cells' candidate work S ways
    without changing one neighbour."""
    from collections import Counter

    queries = [(i, 8.0 + 0.3 * i, 52.5 + 0.05 * i) for i in range(10)]
    base = Counter((r.query_id, r.poi_id) for r in
                   BJ.batch_knn(view, _qdf(spark, queries), k=8, res=12,
                                r0=2).collect())
    pcs = [r[0] for r in view.select(
        BJ.cell_expr(F.col("lon"), F.col("lat"), cells.PARTITION_RES)
    ).distinct().collect()]
    salted = Counter((r.query_id, r.poi_id) for r in
                     BJ.batch_knn(view, _qdf(spark, queries), k=8, res=12,
                                  r0=2,
                                  salt_cells={int(pc): 6 for pc in pcs}
                                  ).collect())
    assert salted == base and sum(base.values()) == 80
