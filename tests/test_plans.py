"""Physical-plan assertions — the scale contract (SURVEY.md §4).

These tests pin the properties that make the engine viable at 100 TB:
filters reach the Parquet scan (partition pruning + row-group pruning),
`bytes` never enters a scan that doesn't need it (column pruning), the
expression pipeline stays inside WholeStageCodegen, and small join sides
broadcast."""

import numpy as np
from pyspark.sql import functions as F

from openpoiservice_spark import cells, derive, prepare
from openpoiservice_spark.functions import cell_expr


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_pcell_filter_prunes_partitions(spark, fixture_paths):
    df = prepare.read_prepared(spark, fixture_paths["prepared"])
    pc = df.select("pcell").first().pcell
    plan = _plan(df.filter(F.col("pcell") == pc).filter(F.col("cell") > 0))
    assert "PartitionFilters" in plan and "pcell" in plan.split("PartitionFilters")[1][:200]
    # cell range predicate reaches parquet row-group stats
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:200]
    assert "cell" in pushed


def test_bytes_not_read_for_metadata_queries(spark, fixture_paths):
    """Column pruning: a query that never touches `bytes` must not have it in
    the scan's ReadSchema (SURVEY.md §7 binary payload discipline)."""
    df = prepare.read_prepared(spark, fixture_paths["prepared"])
    q = df.select("osm_id", "lon", "lat").filter(F.col("lon") > 8.0)
    plan = _plan(q)
    read_schema = plan.split("ReadSchema")[1][:400]
    assert "bytes" not in read_schema
    assert "lon" in read_schema


def test_cover_isin_is_pushed_and_codegen(spark):
    """The cover prefilter compiles to an IN predicate evaluated inside
    WholeStageCodegen, with the cell arithmetic in native expressions."""
    view = derive.spark_poi_view(spark, "/root/testdata/sf0.001")
    qcell = cell_expr(F.col("lon"), F.col("lat"), 12)
    df = view.filter(qcell.isin([1, 2, 3]))
    plan = _plan(df)
    # "*(n)" prefixes mark whole-stage-codegen stages in the plan string
    assert "*(1)" in plan or "WholeStageCodegen" in plan
    # no python UDF in the prefilter stage
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_small_cover_join_broadcasts(spark, fixture_paths):
    """When the cover exceeds the IN threshold the engine joins against a
    cover DataFrame — small covers must broadcast, not shuffle."""
    df = prepare.read_prepared(spark, fixture_paths["prepared"])
    cover_df = spark.createDataFrame([(int(c),) for c in range(100)], "qcell long")
    joined = df.withColumn("qcell", F.col("cell") % 100).join(
        F.broadcast(cover_df), "qcell"
    )
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan


_PYTHON_STAGES = ("ArrowEvalPython", "BatchEvalPython", "PythonUDF",
                  "MapInPandas", "MapInArrow")


def _has_python(plan: str) -> bool:
    return any(stage in plan for stage in _PYTHON_STAGES)


def test_request_plans_have_no_python_stage(spark, fixture_paths, engine):
    """The default pois_df and stats_df plans run the exact refine and the
    distance as native expressions: no Python stage at all, so no
    row-at-a-time Python either."""
    from openpoiservice_spark import fixtures

    geometries = [
        {"geojson": {"type": "Point", "coordinates": [8.8075, 53.0753]}, "buffer": 50},
        {"geojson": {"type": "LineString", "coordinates": fixtures.LINESTRING}, "buffer": 10},
        {"geojson": {"type": "Polygon", "coordinates": [fixtures.POLYGON]}, "buffer": 0},
        {"bbox": [[8.807054, 53.075024], [8.807533, 53.075363]], "buffer": 20},
    ]
    for geometry in geometries:
        for build in (engine.pois_df, engine.stats_df):
            plan = _plan(build({"request": "pois", "geometry": geometry}))
            assert not _has_python(plan), (geometry, plan)


def _ring(n: int, lon0: float, lat0: float, r_deg: float) -> list:
    th = np.linspace(0.0, 2.0 * np.pi, n + 1)[:-1]
    pts = [[lon0 + r_deg * np.cos(t), lat0 + 0.6 * r_deg * np.sin(t)] for t in th]
    return pts + [pts[0]]


def test_many_vertex_refine_is_one_edge_literal(spark, engine):
    """A 1,000-vertex linestring and a 1,000-vertex polygon request return
    the numpy oracle's rows, and the optimized plan carries the vertices as
    ONE constant-folded edge-array literal, not one expression per edge."""
    from openpoiservice_spark import fixtures
    from openpoiservice_spark.api import compile_geometry

    def shape(plan: str) -> tuple:
        return tuple(plan.count(node) for node in
                     ("named_struct(", "aggregate(", "lambdafunction(", "transform("))

    lon0, lat0 = fixtures.POINT_P
    df = engine._df.select("osm_id", "lon", "lat").toPandas()
    for geometry, small in (
        ({"geojson": {"type": "LineString", "coordinates": _ring(1000, lon0, lat0, 0.003)[:-1]},
          "buffer": 40},
         {"geojson": {"type": "LineString", "coordinates": _ring(5, lon0, lat0, 0.003)[:-1]},
          "buffer": 40}),
        ({"geojson": {"type": "Polygon", "coordinates": [_ring(1000, lon0, lat0, 0.004)]}},
         {"geojson": {"type": "Polygon", "coordinates": [_ring(5, lon0, lat0, 0.004)]}}),
    ):
        payload = {"request": "pois", "geometry": geometry, "limit": 1}
        cq = compile_geometry(geometry)[0]
        n_vert = len(cq.refine_spec.coords)
        assert n_vert >= 1000
        q = engine.pois_df(payload)
        got = sorted(r.osm_id for r in q.collect())
        keep = cq.refine_spec.within_m(df["lon"].to_numpy(), df["lat"].to_numpy(),
                                       cq.refine_buffer)
        assert got == sorted(df["osm_id"][keep].tolist()) and got
        plan = _optimized(q)
        # the refine and the distance column each fold over ONE edge
        # literal, and the expression is the same size as for 5 vertices
        assert plan.count("aggregate([[") == 2
        assert shape(plan) == shape(_optimized(engine.pois_df(
            {"request": "pois", "geometry": small, "limit": 1})))


def test_stats_partial_aggregation(spark, fixture_paths, engine):
    """The stats plan must map-side combine (partial_count before the
    exchange) — the shuffle carries (category, partial) not raw rows."""
    payload = {
        "request": "stats",
        "geometry": {"geojson": {"type": "Point",
                                 "coordinates": [8.8075, 53.0753]}, "buffer": 400},
    }
    plan = _plan(engine.stats_df(payload))
    assert "partial_count" in plan
    assert plan.index("partial_count") > plan.index("Exchange") or "Exchange" in plan


def test_topk_is_take_ordered(spark):
    """orderBy+limit compiles to TakeOrderedAndProject (per-partition heaps),
    not a global sort — the kNN/limit scale property."""
    view = derive.spark_poi_view(spark, "/root/testdata/sf0.001")
    q = view.orderBy("lon").limit(10)
    assert "TakeOrderedAndProject" in _plan(q)


def test_density_stats_flip_cover_strategy(spark, fixture_paths):
    """Lineage-driven planning: on a DENSE region (measured per-pcell rows
    above DENSE_REFINE_ROWS) the planner refines the cover 16x, pushing the
    cover list past the IN threshold so the plan flips from pushed
    In(cell, ...) to a BroadcastHashJoin against the cover DataFrame."""
    from openpoiservice_spark import fixtures
    from openpoiservice_spark.api import PoiEngine

    payload = {"request": "pois",
               "geometry": {"geojson": {"type": "Point",
                                        "coordinates": list(fixtures.POINT_P)},
                            "buffer": 2000}}

    sparse = PoiEngine(spark, fixture_paths["prepared"])
    assert sparse._pcell_rows, "lineage stats must load"
    plan_sparse = _plan(sparse.pois_df(payload))
    assert "BroadcastHashJoin" not in plan_sparse  # IN-pushdown path

    dense = PoiEngine(spark, fixture_paths["prepared"])
    dense._pcell_rows = {pc: 10_000_000_000 for pc in dense._pcell_rows}
    plan_dense = _plan(dense.pois_df(payload))
    assert "BroadcastHashJoin" in plan_dense  # refined cover -> join path

    # both plans return identical rows (strategy is performance-only)
    a = {r.osm_id for r in sparse.pois_df(payload).collect()}
    b = {r.osm_id for r in dense.pois_df(payload).collect()}
    assert a == b and a


def test_filter_payload_single_scan(spark, fixture_paths):
    """tiles.filter_payload: identical rows to the direct filter, in one
    scan with no Python stage anywhere in the plan — `bytes` meets only
    native filters."""
    from openpoiservice_spark import fixtures, geo, tiles
    from openpoiservice_spark.functions import make_refine_udf

    df = prepare.read_prepared(spark, fixture_paths["prepared"])
    spec = geo.GeomSpec("point", [list(fixtures.POINT_P)])
    refine = make_refine_udf(spec, 300.0, None)
    pred = lambda d: d.filter(refine(F.col("lon"), F.col("lat")))  # noqa: E731

    direct = pred(df).select("image_id", "bytes")
    one = tiles.filter_payload(df, pred)
    a = {(r.image_id, r.bytes) for r in direct.collect()}
    b = {(r.image_id, r.bytes) for r in one.collect()}
    assert a == b and a
    assert all(x[1] is not None for x in b)  # payload came through

    plan = _plan(one)
    assert not _has_python(plan)
    assert plan.split("== Initial Plan ==")[0].count("FileScan") == 1


def test_lonlat_range_reaches_parquet_scan(spark, fixture_paths):
    """The cover-implied lon/lat range conjunct must appear in PushedFilters
    (plain columns -> row-group min/max pruning), unlike the derived cell
    expression which cannot push."""
    from openpoiservice_spark import fixtures
    from openpoiservice_spark.api import PoiEngine

    eng = PoiEngine(spark, fixture_paths["prepared"])
    payload = {"request": "pois",
               "geometry": {"geojson": {"type": "Point",
                                        "coordinates": list(fixtures.POINT_P)},
                            "buffer": 300}}
    plan = _plan(eng.pois_df(payload))
    pushed = plan.split("PushedFilters")[1][:400]
    assert "lon" in pushed and "lat" in pushed


def test_hamming_pairs_plan_shape(spark):
    """The banded hamming join must be an equi-join on (band, bh) — no
    cartesian product, no row-at-a-time Python; the popcount verification
    is a JVM expression."""
    from openpoiservice_spark.operators import images as IM

    df = spark.createDataFrame(
        [(i, (i * 2654435761) % (1 << 62)) for i in range(200)],
        "image_id long, phash long")
    pairs = IM.hamming_pairs(df, key="image_id", max_dist=3)
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    pairs.count()  # executes

    # capped, over dct_phash output: the decode stage runs once and the
    # bucket cap adds no join (the cap is a window limit on the same keys)
    from openpoiservice_spark import imaging

    rng = np.random.default_rng(5)
    imgs = spark.createDataFrame(
        [(f"img{i}", imaging.encode_png(
            rng.integers(0, 255, (16, 16, 3), dtype=np.uint8)), "png")
         for i in range(6)],
        "image_id string, bytes binary, fmt string")
    capped = IM.hamming_pairs(IM.dct_phash(imgs), col="dct_phash",
                              key="image_id", max_bucket=3)
    plan = _plan(capped)
    assert plan.count("MapInPandas") == 1
    assert "Join" not in plan
    capped.count()


def test_capped_lsh_candidates_plan_one_scan_no_join(spark):
    from openpoiservice_spark.operators import text as TX

    docs = spark.createDataFrame(
        [(i, f"document number {i % 7} with some shared words") for i in range(40)],
        "doc_id long, text string")
    plan = _plan(TX.lsh_candidate_pairs(docs, max_bucket=4))
    assert plan.count("Scan") == 1
    assert "Join" not in plan


def test_dateline_prefilter_lon_disjunction_pushes(spark, fixture_paths):
    """A dateline-crossing geometry's wrapped lon range reaches the parquet
    scan as an Or() filter (row-group pruning accepts disjunctions)."""
    from openpoiservice_spark import geo
    from openpoiservice_spark.api import CompiledQuery, PoiEngine

    eng = PoiEngine(spark, fixture_paths["prepared"])
    spec = geo.bbox_spec(179.9, 52.0, -179.9, 53.0)
    cq = CompiledQuery(refine_spec=spec, refine_buffer=0.0,
                       refine_bbox=None, distance_spec=spec)
    plan = _plan(eng.pois_df({"request": "pois"}, cq))
    pushed = plan.split("PushedFilters")[1][:400]
    assert "Or(GreaterThanOrEqual(lon,179.9)" in pushed.replace(" ", "")


def test_isin_expr_empty_list_is_total(spark):
    """isin_expr([]) must be a plain false literal, not a SQL parse error —
    the helper is used from four modules and the emptiness guard was
    non-local (round-4 ADVICE)."""
    from openpoiservice_spark.functions import isin_expr

    df = spark.range(5).filter(isin_expr("id", []))
    assert df.count() == 0
    assert spark.range(5).filter(isin_expr("id", [1, 3])).count() == 2


def _count_py4j(spark, build) -> int:
    """py4j round trips (gateway client send_command calls) made by
    `build()`.  Memory-delete commands are not counted: py4j sends one
    whenever Python's garbage collector frees an earlier JVM object
    reference, whichever call happens to be running."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = 0

    def counting(command, *a, **kw):
        nonlocal n
        n += not command.startswith("m\nd\n")
        return send(command, *a, **kw)

    client.send_command = counting
    try:
        build()
    finally:
        del client.send_command
    return n


def test_request_build_is_one_statement(spark, engine, monkeypatch):
    """Building a pois_df or stats_df is one spark.sql call and a handful of
    py4j round trips, not one eager analysis per DataFrame step (the
    DataFrame-chain build made 270-330 per request)."""
    from openpoiservice_spark import fixtures

    sql_calls = []
    sql = type(spark).sql
    monkeypatch.setattr(type(spark), "sql", lambda self, *a, **kw: (
        sql_calls.append(a[0]), sql(self, *a, **kw))[1])
    geometries = [
        {"geojson": {"type": "Point", "coordinates": [8.8075, 53.0753]}, "buffer": 50},
        {"geojson": {"type": "LineString", "coordinates": fixtures.LINESTRING}, "buffer": 10},
        {"geojson": {"type": "Polygon", "coordinates": [fixtures.POLYGON]}, "buffer": 0},
        {"bbox": [[8.807054, 53.075024], [8.807533, 53.075363]], "buffer": 20},
    ]
    payloads = [{"request": "pois", "geometry": g} for g in geometries]
    payloads.append({"request": "pois", "geometry": geometries[0],
                      "filters": {"category_ids": [564, 108]}})
    for payload in payloads:
        for build in (engine.pois_df, engine.stats_df):
            build(payload)  # warm: first-use class loading is not per request
            del sql_calls[:]
            n = _count_py4j(spark, lambda: build(payload))
            assert len(sql_calls) == 1, (build.__name__, payload)
            assert n <= 25, (build.__name__, payload, n)
