"""Batch embedding top-k (operators/ann.py batch_topk*): N query vectors,
the k nearest each, ONE distributed job — the embedding analogue of
batchjoin.batch_knn (round-5 verdict item 2).  The reference answers one
ORDER BY distance + LIMIT plan per request
(reference openpoiservice/server/api/query_builder.py:84-103); these tests
pin the batched shape: exact parity with the per-query path, the fill
fence, determinism, and the no-cartesian plan contract."""

import pytest
from pyspark.sql import functions as F

from openpoiservice_spark.operators import ann as ANN


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") % 11 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec")).cache()


def _as_map(rows):
    out = {}
    for r in rows:
        out.setdefault(r.query_id, []).append((r.vec_id, r.cosine))
    return {q: sorted(v, key=lambda t: (-t[1], t[0])) for q, v in out.items()}


def test_brute_batch_matches_per_query_brute(emb, queries):
    got = _as_map(ANN.batch_topk_brute(emb, queries, k=5).collect())
    for r in queries.collect():
        want = [(x.vec_id, x.cosine)
                for x in ANN.brute_topk(emb, list(r.qvec), 5).collect()]
        assert got[r.query_id] == want


def test_lsh_batch_fill_guarantees_k_rows(emb, queries):
    # 8 planes over 500 rows leave most buckets < k deep: the brute fence
    # must top every query up to exactly k rows, and the filled answers are
    # then the EXACT top-k (brute parity on the under-filled subset)
    planes = ANN.hyperplanes(8, 64, 13)
    out = ANN.batch_topk(emb, queries, k=10, planes=planes)
    per_q = {r.query_id: r.n for r in
             out.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    nq = queries.count()
    assert len(per_q) == nq
    assert set(per_q.values()) == {10}


def test_lsh_batch_no_fill_is_bucket_bounded(emb, queries):
    # fill=False keeps only genuine Hamming<=1 candidates — per-query counts
    # never exceed k but may be short (the thing the fence exists for)
    planes = ANN.hyperplanes(8, 64, 13)
    out = ANN.batch_topk(emb, queries, k=10, planes=planes, fill=False)
    per_q = {r.query_id: r.n for r in
             out.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert max(per_q.values()) <= 10
    assert min(per_q.values()) >= 1  # own bucket always holds the query


def test_ivf_batch_full_probe_equals_brute(emb, queries):
    cents = ANN.ivf_centroids(16, 64, 21)
    full = ANN.batch_topk_ivf(emb, queries, k=5, centroids=cents,
                              nprobe=16, fill=False)
    brute = ANN.batch_topk_brute(emb, queries, k=5)
    assert full.exceptAll(brute).count() == 0
    assert brute.exceptAll(full).count() == 0


def test_ivf_batch_fill_guarantees_k_rows(emb, queries):
    cents = ANN.ivf_centroids(16, 64, 21)
    out = ANN.batch_topk_ivf(emb, queries, k=10, centroids=cents, nprobe=1)
    per_q = {r.query_id: r.n for r in
             out.groupBy("query_id").agg(F.count("*").alias("n")).collect()}
    assert set(per_q.values()) == {10}


def test_lsh_candidate_plan_is_equi_join(spark, emb, queries):
    """Scale contract: the probe join is an EQUI-join on the int bucket key
    — no cartesian, no nested loop — even with auto-broadcast disabled and
    the explicit broadcast hint off (both sides big: the 100 TB case)."""
    planes = ANN.hyperplanes(8, 64, 13)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(ANN.batch_topk(emb, queries, k=10, planes=planes,
                                    fill=False, broadcast_queries=False))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)


def test_ivf_table_batch_matches_unindexed(spark, emb, queries, tmp_path):
    """batch_topk_ivf_table over the write_ivf_table layout returns exactly
    what the unindexed batch path returns, and its probe join drives the
    partitioned scan (dynamic partition pruning on the ivf_cell directory
    key when the broadcast side is filterable — at minimum the cell column
    arrives from the partition key, not a recomputed assignment)."""
    cents = ANN.ivf_centroids(16, 64, 21)
    path = str(tmp_path / "ivf")
    ANN.write_ivf_table(emb, path, cents)
    table = ANN.batch_topk_ivf_table(spark, path, queries, k=5,
                                     centroids=cents, nprobe=2)
    plain = ANN.batch_topk_ivf(emb, queries, k=5, centroids=cents, nprobe=2)
    assert table.exceptAll(plain).count() == 0
    assert plain.exceptAll(table).count() == 0
    # plan shape on the UNFENCED path (fill=True returns a checkpoint scan):
    # the candidate scan must read the partitioned layout (ivf_cell comes
    # from the directory key, not a recomputed assignment expression), and
    # the probe join must be an equi-join
    plan = ANN.batch_topk_ivf_table(
        spark, path, queries, k=5, centroids=cents, nprobe=2,
        fill=False)._jdf.queryExecution().executedPlan().toString()
    assert "ivf_cell" in plan
    assert "CartesianProduct" not in plan


def test_unbroadcast_path_same_result(emb, queries):
    planes = ANN.hyperplanes(8, 64, 13)
    a = ANN.batch_topk(emb, queries, k=10, planes=planes)
    b = ANN.batch_topk(emb, queries, k=10, planes=planes,
                       broadcast_queries=False)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_codebook_sidecar_and_append(spark, emb, tmp_path):
    """Index maintenance: the codebook travels with the table, appends
    assign with the PERSISTED codebook under the commit lock, replays are
    idempotent, and queries over the grown table see the new vectors."""
    import numpy as np

    cents = ANN.ivf_train(
        np.asarray([r.embedding for r in
                    emb.orderBy("vec_id").limit(200).collect()]), 16)
    path = str(tmp_path / "ivf_m")
    old_rows = emb.filter(F.col("vec_id") < 400)
    new_rows = emb.filter(F.col("vec_id") >= 400)
    ANN.write_ivf_table(old_rows, path, cents)

    got = ANN.read_codebook(spark, path)
    assert got is not None and np.allclose(got, cents)

    n = ANN.append_ivf_table(spark, path, new_rows)
    assert n == new_rows.count()
    # replay (same delta) appends nothing — dedup anti-join
    assert ANN.append_ivf_table(spark, path, new_rows) == 0
    assert spark.read.parquet(path).count() == emb.count()

    # centroids=None reads the sidecar: results equal the explicit-codebook
    # query, and appended vectors are reachable through their cells
    q = ANN.query_vector()
    a = ANN.ivf_topk_table(spark, path, q, 10, nprobe=16)
    b = ANN.ivf_topk_table(spark, path, q, 10, centroids=cents, nprobe=16)
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]
    # nprobe=C makes the table path exact: must equal brute force over ALL
    # rows (old + appended)
    brute = ANN.brute_topk(emb, q, 10)
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in brute.collect()]


def test_append_requires_codebook(spark, emb, tmp_path):
    path = str(tmp_path / "ivf_legacy")
    # legacy layout: partitioned parquet without the sidecar
    emb.limit(10).withColumn(
        "ivf_cell", F.lit(0)).write.partitionBy("ivf_cell").parquet(path)
    with pytest.raises(ValueError, match="codebook"):
        ANN.append_ivf_table(spark, path, emb.limit(5))


def test_mmr_lambda1_is_relevance_order(spark, emb, queries):
    pool = ANN.batch_topk_brute(emb, queries, k=10)
    got = ANN.mmr_rerank(emb, pool, k=5, lam=1.0)
    plain = _as_map(pool.collect())
    for q, rows in _as_map(got.collect()).items():
        assert rows == plain[q][:5]


def test_mmr_prefers_diverse_runner_up(spark):
    # q aligned with e1; e2 is a near-copy of e1; e3 distinct but relevant.
    # Pure relevance ranks (e1, e2); MMR at lam=0.5 must pick e3 second.
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),
        (3, [0.6, 0.0, 0.8, 0.0]),
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "query_id long, qvec array<float>")
    pool = ANN.batch_topk_brute(emb, q, k=3)
    got = sorted(ANN.mmr_rerank(emb, pool, k=2, lam=0.5).collect(),
                 key=lambda r: r.mmr_rank)
    assert [r.vec_id for r in got] == [1, 3]


def test_mmr_deterministic_under_repartition(spark, emb, queries):
    pool = ANN.batch_topk_brute(emb, queries, k=10)
    a = sorted(map(tuple, ANN.mmr_rerank(emb, pool, k=5).collect()))
    b = sorted(map(tuple, ANN.mmr_rerank(
        emb.repartition(7), pool.repartition(5), k=5).collect()))
    assert a == b


def test_ivf_cell_stats_table_matches_column_variant(spark, emb, tmp_path):
    """ivf_table_stats (directory-key counts over the written layout) ==
    ivf_cell_stats (codebook assignment over the raw table), including
    after an append — and the table scan reads NO vector bytes (the plan's
    ReadSchema prunes to the partition key)."""
    import numpy as np

    cents = ANN.ivf_train(
        np.asarray([r.embedding for r in
                    emb.orderBy("vec_id").limit(200).collect()]), 16)
    path = str(tmp_path / "ivf_stats")
    ANN.write_ivf_table(emb.filter(F.col("vec_id") < 400), path, cents)
    ANN.append_ivf_table(spark, path, emb.filter(F.col("vec_id") >= 400))

    table = {(r.ivf_cell, r.n_vecs)
             for r in ANN.ivf_table_stats(spark, path).collect()}
    column = {(r.ivf_cell, r.n_vecs)
              for r in ANN.ivf_cell_stats(emb, cents).collect()}
    assert table == column
    assert sum(n for _, n in table) == emb.count()

    plan = _plan(ANN.ivf_table_stats(spark, path))
    assert "ReadSchema: struct<>" in plan  # vector/id columns pruned
    assert "HashAggregate" in plan  # partial agg, not a global sort


def test_batch_recall_bounds_and_misses(emb, queries):
    """batch_recall: identical frames give recall 1.0 for every query,
    a query the approximate tier missed entirely still appears with
    recall 0, and partial overlap counts exactly."""
    exact = ANN.batch_topk_brute(emb, queries, k=5).cache()
    perfect = ANN.batch_recall(exact, exact, 5).collect()
    assert perfect and all(r.recall == 1.0 and r.n_hit == 5 for r in perfect)
    n_q = len(perfect)

    # drop one query's rows and halve-ish another's: recall reflects both
    qids = sorted({r.query_id for r in perfect})
    gone, cut = qids[0], qids[1]
    approx = exact.filter(F.col("query_id") != gone).filter(
        ~((F.col("query_id") == cut) & (F.col("vec_id") % 2 == 0)))
    got = {r.query_id: r for r in ANN.batch_recall(approx, exact, 5).collect()}
    assert len(got) == n_q                      # missed query still reported
    assert got[gone].n_hit == 0 and got[gone].recall == 0.0
    assert 0 < got[cut].n_hit < 5
    assert got[cut].recall == round(got[cut].n_hit / 5, 6)


def test_append_ivfpq_table_parity_and_idempotence(spark, emb, tmp_path):
    """Compressed-layout maintenance: appends encode with the table's
    PERSISTED sidecars (cells AND codes), replays append nothing, the
    grown table is row-for-row identical to a from-scratch write of the
    union (same cells, same codes), and searches see appended vectors."""
    path = str(tmp_path / "ivfpq_m")
    old_rows = emb.filter(F.col("vec_id") < 400)
    new_rows = emb.filter(F.col("vec_id") >= 400)
    ANN.write_ivfpq_table(old_rows, path)

    n = ANN.append_ivfpq_table(spark, path, new_rows)
    assert n == new_rows.count()
    assert ANN.append_ivfpq_table(spark, path, new_rows) == 0  # replay

    rebuilt = str(tmp_path / "ivfpq_full")
    ANN.write_ivfpq_table(emb, rebuilt)
    key = lambda r: (r.vec_id, r.ivf_cell, tuple(r.codes))  # noqa: E731
    got = sorted(key(r) for r in spark.read.parquet(path)
                 .select("vec_id", "ivf_cell", "codes").collect())
    ref = sorted(key(r) for r in spark.read.parquet(rebuilt)
                 .select("vec_id", "ivf_cell", "codes").collect())
    assert got == ref

    q = ANN.query_vector()
    a = ANN.ivfpq_topk_table(spark, path, q, 10,
                             nprobe=len(ANN.ivf_centroids()), shortlist=100)
    brute = ANN.brute_topk(emb, q, 10)
    assert [tuple(r) for r in a.collect()] == \
        [tuple(r) for r in brute.collect()]

    missing = str(tmp_path / "ivfpq_nosidecar")
    emb.limit(10).withColumn("ivf_cell", F.lit(0)) \
        .write.partitionBy("ivf_cell").parquet(missing)
    with pytest.raises(ValueError, match="sidecar"):
        ANN.append_ivfpq_table(spark, missing, emb.limit(5))


def test_partial_topk_keeps_valid_rows_beside_nan():
    """NaN cosines (zero-norm vectors) never decide the k-th value: with
    2 valid and 3 NaN rows and k=4, both valid rows survive, and the NaN
    rows pass through to the JVM ranking."""
    import numpy as np
    import pandas as pd

    part = pd.DataFrame({"query_id": [7] * 5, "vec_id": [1, 2, 3, 4, 5],
                         "cosine_raw": [np.nan, 0.5, np.nan, 0.9, np.nan]})
    out = ANN._emit_partial_topk([part], k=4)
    assert sorted(out["vec_id"].tolist()) == [1, 2, 3, 4, 5]
    fin = out[np.isfinite(out["cosine_raw"])]
    assert fin["vec_id"].tolist() == [4, 2]

    # per query: the k-th finite value still prunes
    two = pd.DataFrame({"query_id": [1, 1, 1, 2, 2], "vec_id": [1, 2, 3, 4, 5],
                        "cosine_raw": [0.1, 0.8, 0.5, np.nan, 0.3]})
    kept = ANN._emit_partial_topk([two], k=1)
    assert sorted(kept["vec_id"].tolist()) == [2, 4, 5]


def test_np_dot_lr_bit_identical_to_per_dimension_loop():
    """The scratch-buffer dot keeps the same left-to-right adds as one
    fresh product array per dimension."""
    import numpy as np

    rng = np.random.default_rng(5)
    E = rng.standard_normal((257, 64))
    Q = rng.standard_normal((31, 64))
    ref = np.zeros((257, 31))
    for d in range(64):
        ref += E[:, d, None] * Q[None, :, d]
    assert np.array_equal(ANN._np_dot_lr(E, Q), ref)
