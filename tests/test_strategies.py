"""Join-strategy switching, quirk Q5, and salting invariance."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from openpoiservice_spark import config, fixtures, prepare

P = list(fixtures.POINT_P)
BBOX1 = [[8.807054, 53.075024], [8.807533, 53.075363]]


def _ids(engine, geometry):
    fc = engine.request({"request": "pois", "geometry": geometry})
    return {f["properties"]["osm_id"] for f in fc["features"]}


def test_q5_distance_is_measured_to_last_geometry(engine):
    """Quirk Q5: bbox-only queries measure distance to the bbox envelope
    (0 inside it); geojson queries measure to the geojson geometry."""
    fc_bbox = engine.request({"request": "pois", "geometry": {"bbox": BBOX1}})
    assert fc_bbox["features"]
    assert all(f["properties"]["distance"] == 0.0 for f in fc_bbox["features"])

    fc_pt = engine.request({
        "request": "pois",
        "geometry": {"geojson": {"type": "Point", "coordinates": P},
                     "bbox": BBOX1, "buffer": 50},
    })
    assert fc_pt["features"]
    assert all(f["properties"]["distance"] > 0.0 for f in fc_pt["features"])


def test_cover_join_strategies_agree(engine, monkeypatch):
    """J7 strategy matrix: IN-literal, broadcast-hash, and shuffle cover
    joins must return identical row sets (reference misc.sql:113-143 shows
    what a 33x join-strategy mistake looks like — here all paths are
    correct-by-construction and tested equal)."""
    geometry = {"geojson": {"type": "Point", "coordinates": P}, "buffer": 400}
    baseline = _ids(engine, geometry)
    assert len(baseline) == fixtures.GOLDEN_COUNTS["point_buffer400"]

    monkeypatch.setattr(config, "ISIN_COVER_THRESHOLD", 0)  # force join path
    broadcast_ids = _ids(engine, geometry)
    assert broadcast_ids == baseline

    monkeypatch.setattr(config, "SHUFFLE_COVER_THRESHOLD", 0)  # force shuffle
    shuffle_ids = _ids(engine, geometry)
    assert shuffle_ids == baseline


def test_salting_invariance(spark, tmp_path, monkeypatch):
    """Adaptive salting must not change results — only task spread.  A tiny
    rows-per-task target forces hot pcells onto many salt buckets; counts
    and golden membership stay identical."""
    monkeypatch.setattr(prepare, "SALT_TARGET_ROWS", 50)
    monkeypatch.setattr(prepare, "SALT_MAX", 16)
    raw = str(tmp_path / "raw.parquet")
    prepared = str(tmp_path / "prepared")
    fixtures.build_sf_test(raw, n_filler=500)
    stats = prepare.prepare(spark, raw, prepared)
    # all raw rows survive except the 10 category-less NOCAT rejects
    assert stats["rows"] == spark.read.parquet(raw).count() - 10
    df = prepare.read_prepared(spark, prepared)
    assert df.count() == stats["rows"]
    # goldens still hold on the salted table
    from openpoiservice_spark.api import PoiEngine

    eng = PoiEngine(spark, prepared)
    fc = eng.request({"request": "pois",
                      "geometry": {"geojson": {"type": "Point", "coordinates": P},
                                   "buffer": 50}})
    assert len(fc["features"]) == fixtures.GOLDEN_COUNTS["point_buffer50"]


def test_lsh_bucket_cap_defuses_degenerate_bucket(spark):
    """Skew guard: 2000 identical docs form one degenerate LSH bucket whose
    self-join would be quadratic (~2M pairs).  With max_bucket set, the
    bucket is excluded from pairing while pairs among normal docs are
    unchanged; bucket stats expose what was routed away."""
    from openpoiservice_spark.operators import text as TX

    rows = [(i, "all work and no play makes jack a dull boy " * 3)
            for i in range(2000)]
    rows += [(10_000 + i, f"unique document number {i} with words {i * 7} and {i * 13}")
             for i in range(30)]
    # two exact near-dups among the normal docs
    rows += [(20_001, rows[-1][1]), (20_002, rows[-2][1])]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = TX.lsh_candidate_pairs(docs, max_bucket=100).collect()
    assert 0 < len(capped) < 1000  # no quadratic blowup in the result
    ids = {d for p in capped for d in (p.doc_a, p.doc_b)}
    assert not any(i < 2000 for i in ids)  # degenerate bucket excluded
    assert (20_000, 20_001) not in capped  # sanity: pair orientation below
    assert any({p.doc_a, p.doc_b} == {10_029, 20_001} for p in capped)

    stats = TX.lsh_bucket_stats(docs).filter("n_docs > 100").collect()
    assert stats and max(s.n_docs for s in stats) == 2000

    # the same cap in the increment dedup: a new doc whose only candidates
    # sit in the degenerate resident bucket is admitted once it is capped
    boiler = rows[0][1]
    resident = docs.filter("doc_id < 20000")
    new = spark.createDataFrame(
        [(30_000, "a fresh document about sailing boats and harbour tides"),
         (30_001, "a fresh document about sailing boats and harbour tides"),
         (30_002, boiler + "!"),
         (30_003, rows[2029][1] + "!")], "doc_id long, text string")

    def admitted(cap):
        out = TX.dedup_increment(new, resident, max_bucket=cap).collect()
        return {r.doc_id for r in out}

    assert admitted(None) == {30_000}
    assert admitted(100) == {30_000, 30_002}

    # and in the image-side banded hamming pairs
    from openpoiservice_spark.operators import images as IM

    rng = np.random.default_rng(7)
    fps = [(i, 0x5A5A_5A5A_5A5A_5A5A) for i in range(2000)]
    fps += [(10_000 + i, int(v)) for i, v in
            enumerate(rng.integers(-(1 << 62), 1 << 62, size=30))]
    fps += [(20_001, fps[-1][1] ^ 0b101)]  # hamming 2 from 10_029
    img = spark.createDataFrame(fps, "image_id long, phash long")
    capped = IM.hamming_pairs(img, max_bucket=100).collect()
    assert {(p.key_a, p.key_b, p.hamming) for p in capped} == {(10_029, 20_001, 2)}


def test_ann_bucket_cap(spark):
    """Same guard on the embedding side: a degenerate bucket (identical
    vectors) is excluded from cosine_pairs when capped."""
    from openpoiservice_spark.operators import ann as ANN

    base = np.ones(8)
    rng = np.random.default_rng(3)
    rows = [(i, (base + 0.0).tolist()) for i in range(500)]
    rows += [(1000 + i, rng.normal(size=8).tolist()) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = ANN.hyperplanes(6, 8, seed=2)

    capped = ANN.cosine_pairs(emb, 0.0, planes, max_bucket=50).collect()
    ids = {v for p in capped for v in (p.vec_a, p.vec_b)}
    assert not any(i < 500 for i in ids)
    uncapped_small = ANN.cosine_pairs(
        emb.filter("vec_id >= 1000"), 0.0, planes).collect()
    small_pairs = {(p.vec_a, p.vec_b) for p in uncapped_small}
    assert {(p.vec_a, p.vec_b) for p in capped} <= small_pairs

    stats = ANN.bucket_stats(emb, planes).collect()
    assert max(s.n_vecs for s in stats) >= 500


def test_auto_planes_sizing_rule():
    """Size-aware hyperplane count: expected bucket size n/2^P must land at
    or under the target, including at hypothetical production scales
    (round-3 verdict item 2 — a fixed 8-plane default is quadratic at 10^12
    rows)."""
    from openpoiservice_spark.operators import ann as ANN

    for n, target in [(500, 8), (10**6, 1024), (10**9, 1000), (10**12, 4096)]:
        p = ANN.auto_planes(n, target)
        if p < 30:  # uncapped: the rule's guarantee holds
            assert n / (1 << p) <= target, (n, target, p)
            assert n / (1 << (p - 1)) > target or p == 1  # smallest such P
    # at 10^12 rows the pick is the cap (2^30 buckets), not 8
    assert ANN.auto_planes(10**12, 1024) == 30
    assert ANN.auto_planes(10**9, 1000) == 20
    # tiny tables degrade to a single plane, never zero
    assert ANN.auto_planes(5, 1024) == 1


def test_auto_hyperplanes_uses_count(spark):
    from openpoiservice_spark.operators import ann as ANN

    rng = np.random.default_rng(5)
    rows = [(i, rng.normal(size=8).tolist()) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = ANN.auto_hyperplanes(emb, dim=8, target_bucket=8)
    assert planes.shape == (ANN.auto_planes(200, 8), 8)
    # n_rows short-circuits the count job and pins the result
    planes2 = ANN.auto_hyperplanes(emb, dim=8, target_bucket=8, n_rows=200)
    assert np.array_equal(planes, planes2)


def test_ivf_trained_codebook_recall(spark):
    """IVF with a k-means-trained codebook: on clustered data, probing 2 of
    8 cells recovers the exact brute-force top-10 (the query lands in a
    trained cluster), and the assignment expression partitions the table."""
    from openpoiservice_spark.operators import ann as ANN

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(8, 16)) * 3
    vecs, rows = [], []
    for i in range(800):
        c = centers[i % 8]
        v = c + rng.normal(size=16) * 0.3
        vecs.append(v)
        rows.append((i, v.tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    trained = ANN.ivf_train(np.array(vecs[:400]), n_centroids=8, seed=9)
    q = vecs[123]  # a member of cluster 123%8 — its cell must be probed
    got = ANN.ivf_topk(emb, q, 10, trained, nprobe=2).collect()
    brute = ANN.brute_topk(emb, q, 10).collect()
    got_ids = [r.vec_id for r in got]
    brute_ids = [r.vec_id for r in brute]
    assert len(set(got_ids) & set(brute_ids)) >= 9  # >= 90% recall

    stats = (
        emb.withColumn("cell", ANN.ivf_assign_col(F.col("embedding"), trained))
        .groupBy("cell").count().collect()
    )
    assert len(stats) >= 6  # codebook actually spreads the data


def test_ivf_recall_curve_c256(spark):
    """Recall@10 at production parameters (round-3 verdict item 6): trained
    C=256 codebook on clustered vectors — the workload IVF exists for —
    must reach recall@10 >= 0.9 at the shipped DEFAULT_NPROBE (numpy
    measurement over 50 queries, plus one Spark ivf_topk run confirming the
    distributed path agrees with the numpy pipeline).  The full curve,
    including the isotropic worst case where recall ~ scanned fraction,
    is recorded in BENCH/EXPLAIN.md."""
    from openpoiservice_spark.operators import ann as ANN

    rng = np.random.default_rng(42)
    centers = rng.normal(size=(50, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    lab = rng.integers(0, 50, 2000)
    X = centers[lab] + 0.15 * rng.normal(size=(2000, 64))
    C = ANN.ivf_train(X, n_centroids=256, iters=8, seed=21)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    assign = np.argmax(Xn @ C.T, axis=1)

    qi = rng.integers(0, 2000, 50)
    qs = X[qi] + 0.05 * rng.normal(size=(50, 64))
    qs /= np.linalg.norm(qs, axis=1, keepdims=True)

    def recall(nprobe):
        recs = []
        for q in qs:
            cos = (X @ q) / np.linalg.norm(X, axis=1)
            truth = set(np.argsort(-cos, kind="stable")[:10].tolist())
            probe = np.argsort(-(C @ q), kind="stable")[:nprobe]
            cand = np.where(np.isin(assign, probe))[0]
            cc = cand[np.argsort(-cos[cand], kind="stable")[:10]]
            recs.append(len(truth & set(cc.tolist())) / 10)
        return float(np.mean(recs))

    r_default = recall(ANN.DEFAULT_NPROBE)
    assert r_default >= 0.9, r_default
    # the curve is monotone in nprobe (more cells probed, never worse)
    assert recall(8) >= r_default
    assert recall(16) >= recall(8)

    # the distributed path returns the same candidates as the numpy twin
    # for one query at the default nprobe
    emb = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(2000)],
        "vec_id long, embedding array<double>")
    q = qs[0]
    got = {r.vec_id for r in ANN.ivf_topk(emb, q, 10, C).collect()}
    probe = np.argsort(-(C @ q), kind="stable")[:ANN.DEFAULT_NPROBE]
    cand = np.where(np.isin(assign, probe))[0]
    cos = (X @ q) / np.linalg.norm(X, axis=1)
    want_order = cand[np.lexsort((cand, -np.round(cos[cand], 6)))][:10]
    assert got == set(int(i) for i in want_order)


def test_ivf_production_codebook_c256(spark):
    """Production-size codebook: C=256 must compile in O(1) plan depth
    (transform + array_max + array_position over ONE array literal — the
    round-2 CASE-chain blew up Catalyst here) and assign every row to the
    SAME cell numpy argmax picks; ivf_topk at nprobe=8 keeps useful recall."""
    import time

    from openpoiservice_spark.operators import ann as ANN

    rng = np.random.default_rng(11)
    # clustered data (IVF's operating regime — on unstructured gaussians
    # nprobe/C bounds recall by construction): 256 centers, 8 members each
    centers = rng.normal(size=(256, 64)) * 3
    vecs = np.vstack([c + rng.normal(size=(8, 64)) * 0.3 for c in centers])
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    trained = ANN.ivf_train(vecs[::2], n_centroids=256, iters=4, seed=3)

    t0 = time.time()
    assigned = (
        emb.withColumn("cell", ANN.ivf_assign_col(F.col("embedding"), trained))
        .select("vec_id", "cell").collect()
    )
    compile_and_run = time.time() - t0
    assert compile_and_run < 60, f"C=256 plan took {compile_and_run:.1f}s"
    exp = np.argmax(vecs @ trained.T, axis=1)
    got = {r.vec_id: r.cell for r in assigned}
    assert all(got[i] == exp[i] for i in range(len(vecs)))

    q = vecs[40]  # a cluster member: its cell must be among the 8 probed
    topk = ANN.ivf_topk(emb, q, 10, trained, nprobe=8).collect()
    brute = ANN.brute_topk(emb, q, 10).collect()
    assert len(topk) == 10
    recall = len({r.vec_id for r in topk} & {r.vec_id for r in brute}) / 10
    assert recall >= 0.7, recall


def test_ivf_partitioned_table_prunes(spark, tmp_path):
    """write_ivf_table + ivf_topk_table: probes are parquet PARTITION
    PRUNING (directory skip), results identical to the unindexed ivf_topk."""
    from openpoiservice_spark.operators import ann as ANN

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    ANN.write_ivf_table(emb, path)
    q = ANN.query_vector()
    df = ANN.ivf_topk_table(spark, path, q, 10, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "ivf_cell" in scan_line.split("PartitionFilters")[1][:120]
    got = [(r.vec_id, r.cosine) for r in df.collect()]
    exp = [(r.vec_id, r.cosine) for r in ANN.ivf_topk(emb, q, 10, nprobe=2).collect()]
    assert got == exp


def test_minhash_xxhash64_production_path(spark):
    """hash_fn='xxhash64' (the production hash the md5 note promises) keeps
    the MinHash invariants: identical texts get identical signatures under
    ANY hash, so every exact-duplicate pair still surfaces as an LSH
    candidate; the plan stays hash-only (no md5 string work)."""
    from openpoiservice_spark.operators import text as TX

    rows = [(i, f"unique document number {i} with words {i * 7} and {i * 13}")
            for i in range(40)]
    # planted exact duplicates: identical text => identical signature under
    # ANY hash function => guaranteed candidate pair
    rows += [(1001, rows[3][1]), (1002, rows[3][1]), (2001, rows[17][1])]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want_pairs = {(3, 1001), (3, 1002), (1001, 1002), (17, 2001)}
    got = {
        (r.doc_a, r.doc_b)
        for r in TX.lsh_candidate_pairs(docs, hash_fn="xxhash64").collect()
    }
    assert want_pairs <= got
    plan = TX.minhash_signatures(docs, hash_fn="xxhash64") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan and "md5" not in plan


def test_deterministic_split_and_leakage_guard(spark):
    """Split assignment is a pure function of the key (stable across runs
    and engines), fractions land near the target, and by_content puts exact
    duplicates on the SAME side whatever their ids are."""
    from openpoiservice_spark.operators import text as TX

    rows = [(i, f"document body {i % 40}") for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r.doc_id: r.split
         for r in TX.deterministic_split(docs, 20).collect()}
    b = {r.doc_id: r.split
         for r in TX.deterministic_split(docs, 20).collect()}
    assert a == b  # deterministic
    frac = sum(1 for v in a.values() if v == "test") / len(a)
    assert 0.1 < frac < 0.3  # near the 20% target (hash variance)
    by_text = TX.deterministic_split(docs, 20, by_content=True).collect()
    side = {}
    text_of = dict(rows)
    for r in by_text:
        t = text_of[r.doc_id]
        assert side.setdefault(t, r.split) == r.split  # copies co-travel
    with pytest.raises(ValueError):
        TX.deterministic_split(docs, 101)


def test_split_null_text_and_content_col(spark):
    """Round-5 ADVICE: null content must not fall through to an unguarded
    'train' bucket — all null-text docs hash as '' and co-travel; the
    content column is configurable (content_col mirrors key_col)."""
    from openpoiservice_spark.operators import text as TX

    rows = [(1, None), (2, None), (3, ""), (4, "x")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.split
           for r in TX.deterministic_split(docs, 50, by_content=True).collect()}
    assert got[1] == got[2] == got[3]  # null == null == '' co-travel
    # configurable content column
    docs2 = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")],
                                  "doc_id long, body string")
    got2 = {r.doc_id: r.split for r in TX.deterministic_split(
        docs2, 50, by_content=True, content_col="body").collect()}
    assert got2[1] == got2[2]


def test_split_by_component_leakage_guard(spark):
    """split_by_component keys the split hash on the near-dup COMPONENT
    label: every doc in a connected component co-travels (the near-dup
    leakage guard by_content can't give), and singletons — whose component
    is their own doc_id — get exactly the id-keyed deterministic_split
    assignment, so the marginal rate is unchanged."""
    from collections import Counter

    from openpoiservice_spark.operators import text as TX

    rows = []
    for c in range(8):  # 8 near-dup clusters with disjoint vocabularies
        base = " ".join(f"tok{c}x{t}word" for t in range(20))
        for j in range(3):
            rows.append((c * 10 + j, base + " tail" * j))
    for i in range(200, 240):  # singletons, unique vocab each
        rows.append((i, " ".join(f"solo{i}y{t}" for t in range(12))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    comp = {r.doc_id: r.component
            for r in TX.near_dup_components(docs, threshold=0.2, n=5).collect()}
    split = {r.doc_id: r.split
             for r in TX.split_by_component(docs, 30, threshold=0.2,
                                            n=5).collect()}
    assert set(split) == set(comp)  # one row per doc
    sizes = Counter(comp.values())
    assert max(sizes.values()) >= 3  # fixture really formed clusters
    side = {}
    for d, c in comp.items():
        assert side.setdefault(c, split[d]) == split[d]  # clusters co-travel
    # singleton assignment == id-keyed deterministic split (same salt)
    id_split = {r.doc_id: r.split
                for r in TX.deterministic_split(docs, 30).collect()}
    singles = [d for d, c in comp.items() if c == d and sizes[c] == 1]
    assert singles and all(split[d] == id_split[d] for d in singles)
    with pytest.raises(ValueError):
        TX.split_by_component(docs, 101)


def test_jaccard_pipeline_single_shingle_explode(spark):
    """Round-5 verdict item 5: ngram_jaccard_pairs derives signatures,
    sizes, and intersections from ONE shared shingle frame — the plan shows
    an InMemoryRelation (the persisted explode) and at most one raw
    text-scan explode; results match the uncached path exactly."""
    from openpoiservice_spark.operators import text as TX

    rows = [(i, f"the quick brown fox {i % 7} jumps over it")
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cached = TX.ngram_jaccard_pairs(docs, 0.2)
    plan = cached._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    uncached = TX.ngram_jaccard_pairs(docs, 0.2, cache=False)
    a = {(r.doc_a, r.doc_b, round(r.jaccard, 9)) for r in cached.collect()}
    b = {(r.doc_a, r.doc_b, round(r.jaccard, 9)) for r in uncached.collect()}
    assert a == b and a


def test_near_dup_components_transitivity(spark):
    """A ~ B and B ~ C must land A, B, C in ONE component even when A !~ C
    directly — the case pairwise near-dup handling gets wrong; unrelated
    docs stay singletons labelled by themselves."""
    from openpoiservice_spark.operators import text as TX

    # sliding word windows: 1-2 and 2-3 overlap by half, 1-3 share nothing
    # (fixed texts => minhash signatures, band collisions, and jaccards are
    # all deterministic; verified: J(1,2)=0.252, J(2,3)=0.301, no (1,3))
    a = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
         "kilo lima t1") * 2
    b = ("golf hotel india juliet kilo lima mike november oscar papa "
         "quebec romeo t1") * 2
    c = ("mike november oscar papa quebec romeo sierra tango x0t1 x1t1 "
         "x2t1 x3t1 t1") * 2
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c),
         (9, "completely unrelated text about spark batch engines ok")],
        "doc_id long, text string")
    pairs = {(r.doc_a, r.doc_b)
             for r in TX.ngram_jaccard_pairs(docs, 0.15, bands=4).collect()}
    assert (1, 2) in pairs and (2, 3) in pairs  # the chain premise holds
    assert (1, 3) not in pairs  # ends are NOT direct near-dups
    comp = {r.doc_id: r.component
            for r in TX.near_dup_components(docs, threshold=0.15,
                                            bands=4).collect()}
    assert comp[1] == comp[2] == comp[3] == 1  # transitivity linked them
    assert comp[9] == 9


def test_contamination_and_decontaminate(spark):
    """contamination counts distinct shared shingles per corpus doc (exact
    copy of a benchmark doc => frac 1.0; disjoint vocab => 0.0; partial
    overlap strictly between), decontaminate drops only docs above
    max_frac, and docs too short to shingle are kept."""
    from openpoiservice_spark.operators import text as TX

    bench = spark.createDataFrame(
        [(1000, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),   # exact copy
         (2, "zzz qqq vvv kkk www yyy xxx uuu"),               # disjoint
         (3, "the quick brown fox went somewhere else today"), # partial
         (4, "hi")],                                           # too short
        "doc_id long, text string")

    got = {r.doc_id: r for r in TX.contamination(corpus, bench).collect()}
    assert set(got) == {1, 2, 3}  # doc 4 has no 5-gram shingles
    assert got[1].frac == 1.0 and got[1].n_hits == got[1].n_sh
    assert got[2].frac == 0.0 and got[2].n_hits == 0
    assert 0.0 < got[3].frac < 1.0

    kept = {r.doc_id
            for r in TX.decontaminate(corpus, bench, max_frac=0.5).collect()}
    assert kept == {2, 3, 4} or kept == {2, 4}  # doc 3 depends on threshold
    assert kept == ({2, 3, 4} if got[3].frac <= 0.5 else {2, 4})
    # threshold 0 drops everything with ANY overlap; short doc still kept
    kept0 = {r.doc_id
             for r in TX.decontaminate(corpus, bench, max_frac=0.0).collect()}
    assert kept0 == {2, 4}
    # shared-explode reuse path gives identical results
    sh = TX.shingles(corpus)
    a = sorted(map(tuple, TX.contamination(corpus, bench).collect()))
    b = sorted(map(tuple,
                   TX.contamination(corpus, bench, shingles_df=sh).collect()))
    assert a == b


def test_dedup_increment_admission_rules(spark):
    """Incremental dedup: exact resident copies drop before shingling,
    near-dups of resident drop in the verify stage (resident wins
    regardless of id), new-new near-dups keep the smaller id, short docs
    skip the near-dup stage but not the exact one, and resident-internal
    duplicates are untouched (the increment never re-pairs the corpus)."""
    from openpoiservice_spark.operators import text as TX

    base = "the quick brown fox jumps over the lazy dog again and again %d"
    resident = spark.createDataFrame(
        [(1, base % 1), (2, base % 1),   # resident-internal dup: not ours
         (3, "completely different resident material about spark engines"),
         (4, "tiny")],                   # short resident doc
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(101, base % 1),                # exact copy of resident -> exact stage
         (102, (base % 1) + " x"),       # near-dup of resident -> verify stage
         (103, "fresh unseen document with plenty of novel words inside"),
         (104, "fresh unseen document with plenty of novel words inside!"),
         (105, "tiny"),                  # short + exact resident copy -> drop
         (106, "abc")],                  # short + novel -> admitted unshingled
        "doc_id long, text string")
    got = {r.doc_id for r in
           TX.dedup_increment(new, resident, threshold=0.2).collect()}
    assert got == {103, 106}


def test_band_index_maintained_loop(spark, tmp_path):
    """The deployment loop around dedup_increment(resident_banded=): a
    written band index (params sidecar + partitioned keys) admits exactly
    what the direct corpus scan admits; append_band_index adds ONLY the
    admitted docs' keys with the index's persisted params (unshingleable
    admits contribute nothing), replays are idempotent under the dedup
    anti-join, and the appended index equals a from-scratch rebuild of
    resident + admitted."""
    from openpoiservice_spark.operators import text as TX

    base = "the quick brown fox jumps over the lazy dog again and again %d"
    resident = spark.createDataFrame(
        [(1, base % 1), (2, base % 1),
         (3, "completely different resident material about spark engines"),
         (4, "tiny")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(101, base % 1), (102, (base % 1) + " x"),
         (103, "fresh unseen document with plenty of novel words inside"),
         (104, "fresh unseen document with plenty of novel words inside!"),
         (105, "tiny"), (106, "abc")],
        "doc_id long, text string")

    path = str(tmp_path / "bands")
    TX.write_band_index(resident, path)
    assert TX.read_band_params(spark, path) == \
        {"k": 8, "bands": 2, "n": 5, "hash_fn": "md5"}

    banded = TX.read_band_index(spark, path)
    direct = {r.doc_id for r in
              TX.dedup_increment(new, resident, threshold=0.2).collect()}
    via_index = {r.doc_id for r in
                 TX.dedup_increment(new, resident, threshold=0.2,
                                    resident_banded=banded).collect()}
    assert via_index == direct == {103, 106}

    admitted = new.join(
        spark.createDataFrame([(i,) for i in sorted(via_index)],
                              "doc_id long"), "doc_id")
    # 103 bands into 2 keys; 106 ("abc") is shorter than n=5 -> no bands
    assert TX.append_band_index(spark, path, admitted) == 2
    assert TX.append_band_index(spark, path, admitted) == 0  # replay no-op

    rebuilt_path = str(tmp_path / "bands_rebuilt")
    TX.write_band_index(resident.unionByName(admitted), rebuilt_path)
    got = {(r.doc_id, r.band, r.bhash)
           for r in TX.read_band_index(spark, path).collect()}
    ref = {(r.doc_id, r.band, r.bhash)
           for r in TX.read_band_index(spark, rebuilt_path).collect()}
    assert got == ref

    # replaying the WHOLE increment against the maintained index admits
    # nothing: each already-admitted doc now collides with its own resident
    # band keys and self-verifies at Jaccard 1.0 — the daily job is
    # idempotent at the corpus level, not just the index level.  (106 is
    # unshingleable so the exact stage must catch its replay instead —
    # which needs the admitted text merged into the resident frame.)
    replay = {r.doc_id for r in
              TX.dedup_increment(new, resident.unionByName(admitted),
                                 threshold=0.2,
                                 resident_banded=TX.read_band_index(
                                     spark, path)).collect()}
    assert replay == set()
