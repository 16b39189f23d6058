"""Similarity search over an embedding column (`embeddings(vec_id,
embedding: array<float>, label)`).

Two tiers (build-brief requirement):
  * `brute_topk`   — exact cosine top-k.  All math in native Spark
    higher-order functions (zip_with + aggregate) over doubles: JVM-side,
    no UDF, no collect.  The top-k is orderBy+limit which Spark executes as
    TakeOrderedAndProject (per-partition heaps, no global sort).
  * `lsh_topk`     — the scale path: random-hyperplane LSH.  P hyperplanes
    (driver-generated, seeded numpy, inlined as literals) bucket every
    vector by its sign pattern; the query probes its own bucket plus all
    Hamming<=1 neighbours, then re-ranks the candidates exactly.  At 10^12
    rows the bucket column is a cheap int key the table can be clustered on.
  * `cosine_pairs` — near-duplicate detection: exact cosine for vector pairs
    sharing an LSH bucket (embedding-cosine near-dup for training data).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..topk import partial_topk, rank_topk


def _dot(a: Column, b: Column) -> Column:
    """Higher-order-function dot (dimension-agnostic).  Measured FASTER
    than a 64-term unrolled GetArrayItem chain (0.7 s vs 2.8 s / 400 k
    rows — the unrolled tree falls out of whole-stage codegen); the hot
    pair paths keep this form and instead (a) precompute each side's norm
    once per ROW (not per pair) and (b) `_spread` a single-partition table
    side so evaluation parallelizes."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ))


def _spread(df: DataFrame) -> DataFrame:
    """Parallelism guard for the table side of pair/batch pipelines: a
    small table read as ONE parquet partition serializes the whole
    candidate join + cosine pipeline on a single core (measured 21 s ->
    ~2 s on the sandbox embeddings file).  A table with adequate
    partitioning — the 100 TB case — passes through untouched."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def _qvec_lit(qvec) -> Column:
    """Vector literal as ONE parsed SQL expression: building it from 64
    F.lit() calls pays a py4j round-trip per element (~1-2 s of driver plan
    construction per plane set — the same latency class the geo side's
    isin_expr fix addressed); CAST('<repr>' AS DOUBLE) round-trips the
    float exactly, so values are bit-identical to the lit() form."""
    return F.expr(
        "array(" + ",".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in qvec)
        + ")")


def query_vector(dim: int = 64, seed: int = 7) -> np.ndarray:
    """Deterministic unit query vector (tests + driver-gate parity: the same
    literals are inlined into the DuckDB oracle SQL)."""
    rng = np.random.default_rng(seed)
    v = rng.normal(size=dim)
    return v / np.linalg.norm(v)


def cosine_col(vec_col: Column, qvec) -> Column:
    q = _qvec_lit(qvec)
    qn = float(np.linalg.norm(np.asarray(qvec, dtype=np.float64)))
    return F.try_divide(_dot(vec_col, q), _norm(vec_col) * F.lit(qn))


def brute_topk(emb: DataFrame, qvec, k: int = 10) -> DataFrame:
    """Exact cosine top-k against a single query vector."""
    return (
        emb.select(
            "vec_id",
            F.round(cosine_col(F.col("embedding"), qvec), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


def hyperplanes(n_planes: int = 8, dim: int = 64, seed: int = 13) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n_planes, dim))


def auto_planes(n_rows: int, target_bucket: int = 1024, max_planes: int = 30) -> int:
    """Size-aware hyperplane count: the smallest P with expected bucket size
    n_rows / 2^P <= target_bucket (a FIXED P is quadratic by construction
    at 10^12 rows: 8 planes = 256 buckets = ~4x10^9 rows/bucket).  Mirrors
    the auto band pick the hamming pipeline already does
    (operators/images.pick_bands).  Capped at `max_planes`
    (2^30 buckets ~ 10^9; beyond that bucket-count growth stops paying for
    the extra dot products per row — split the table instead)."""
    import math

    if n_rows <= target_bucket:
        return 1
    return min(max_planes, int(math.ceil(math.log2(n_rows / target_bucket))))


def auto_hyperplanes(emb: DataFrame, dim: int = 64, target_bucket: int = 1024,
                     seed: int = 13, n_rows: int | None = None) -> np.ndarray:
    """Hyperplanes sized from the table's actual row count.  `n_rows` skips
    the count job when the caller already has table statistics (the engine's
    lineage rows / a catalog row count — the same place the spatial planner
    gets its density stats)."""
    if n_rows is None:
        n_rows = emb.count()
    return hyperplanes(auto_planes(n_rows, target_bucket), dim, seed)


def bucket_col(vec_col: Column, planes: np.ndarray) -> Column:
    """Sign-pattern bucket id: bit p set iff dot(plane_p, v) > 0."""
    out = F.lit(0)
    for p, plane in enumerate(planes):
        bit = F.when(_dot(vec_col, _qvec_lit(plane)) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        out = out + bit
    return out.cast("int")


def lsh_topk(emb: DataFrame, qvec, k: int = 10, planes: np.ndarray | None = None) -> DataFrame:
    """Approximate top-k: probe the query's bucket and all Hamming<=1
    neighbour buckets, re-rank exactly.  Recall is tunable via n_planes /
    probe radius; candidates shrink ~2^-P of the table."""
    planes = hyperplanes() if planes is None else planes
    q = np.asarray(qvec, dtype=np.float64)
    qbits = 0
    for p, plane in enumerate(planes):
        if float(plane @ q) > 0:
            qbits |= 1 << p
    probe = [qbits] + [qbits ^ (1 << p) for p in range(len(planes))]
    cand = emb.withColumn("bucket", bucket_col(F.col("embedding"), planes)) \
              .filter(F.col("bucket").isin(probe))
    return (
        cand.select(
            "vec_id",
            F.round(cosine_col(F.col("embedding"), qvec), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


# --------------------------------------------------------------- IVF tier

#: default probe count, set from the measured recall curve (BENCH/EXPLAIN.md
#: 'IVF recall at production parameters'): on clustered data — the workload
#: IVF exists for — a trained C=256 codebook reaches recall@10 >= 0.9 at
#: nprobe=4 (0.93 measured; 0.99 at 8); asserted in
#: tests/test_strategies.py::test_ivf_recall_curve_c256.  On structureless
#: (isotropic) vectors recall ~ the scanned fraction whatever nprobe is —
#: use brute_topk there, IVF cannot help by construction.
DEFAULT_NPROBE = 4


def ivf_centroids(n_centroids: int = 16, dim: int = 64, seed: int = 21) -> np.ndarray:
    """Deterministic unit-vector codebook.  The correctness gate needs a
    data-independent codebook (the oracle SQL is static); production
    deployments should train with ivf_train on a bounded sample instead."""
    rng = np.random.default_rng(seed)
    c = rng.normal(size=(n_centroids, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def ivf_train(sample: np.ndarray, n_centroids: int = 16, iters: int = 8,
              seed: int = 21) -> np.ndarray:
    """k-means-lite on a driver-side sample (numpy Lloyd iterations on
    normalized vectors — spherical k-means).  At 100 TB: collect a bounded
    sample with df.sample(fraction).limit(n).toPandas(), train here, ship the
    codebook as literals; assignment stays a full-scan JVM expression."""
    x = np.asarray(sample, dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    c = x[rng.choice(len(x), size=n_centroids, replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ c.T, axis=1)
        for i in range(n_centroids):
            m = x[assign == i]
            if len(m):
                c[i] = m.mean(axis=0)
        c = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    return c


def ivf_assign_col(vec_col: Column, centroids: np.ndarray) -> Column:
    """Nearest-centroid id (argmax of dot, unit centroids = max cosine);
    ties break to the LOWEST index (array_position returns the FIRST match
    — the same ordering the oracle SQL's CASE chain uses, so assignment is
    bit-identical across engines).

    The codebook ships as ONE array<array<double>> literal and the argmax
    is transform + array_max + array_position: expression depth stays O(1)
    in the codebook size, so a production codebook (C=256..4096) compiles
    in constant plan depth instead of the C-deep nested-WHEN chain that
    blows up Catalyst at C>=256."""
    cb = F.array(*[_qvec_lit(c) for c in centroids])
    dots = F.transform(cb, lambda c: _dot(vec_col, c))
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def ivf_topk(emb: DataFrame, qvec, k: int = 10,
             centroids: np.ndarray | None = None,
             nprobe: int = DEFAULT_NPROBE) -> DataFrame:
    """IVF-flat approximate top-k: assign every vector to its nearest
    centroid (one JVM full-scan expression — the table can be written
    partitioned by this id, turning probes into partition pruning), probe
    the query's top-nprobe centroid cells, re-rank candidates exactly."""
    centroids = ivf_centroids() if centroids is None else centroids
    q = np.asarray(qvec, dtype=np.float64)
    probe = np.argsort(-(centroids @ q), kind="stable")[:nprobe]
    cand = emb.withColumn("ivf_cell", ivf_assign_col(F.col("embedding"), centroids)) \
              .filter(F.col("ivf_cell").isin([int(i) for i in probe]))
    return (
        cand.select(
            "vec_id",
            F.round(cosine_col(F.col("embedding"), qvec), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


#: codebook sidecar at the IVF table root — the index metadata travels WITH
#: the table (FAISS-style), so readers never need the training-time array
CODEBOOK_FILE = "_ivf_codebook.json"


def write_codebook(spark, path: str, centroids: np.ndarray) -> None:
    """Persist the codebook next to the data (overwrite; tiny JSON written
    through the Hadoop FS API so it lands wherever the table lives)."""
    import json

    from ..prepare import _hadoop_fs

    fs, p = _hadoop_fs(spark, f"{path}/{CODEBOOK_FILE}")
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(
            np.asarray(centroids, dtype=np.float64).tolist()).encode("ascii")))
    finally:
        out.close()


def read_codebook(spark, path: str) -> np.ndarray | None:
    """The table's persisted codebook, or None for a pre-sidecar layout
    (callers fall back to the static seed codebook those tables used)."""
    import json

    from ..prepare import _hadoop_fs

    fs, p = _hadoop_fs(spark, f"{path}/{CODEBOOK_FILE}")
    if not fs.exists(p):
        return None
    jvm = spark.sparkContext._jvm
    br = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(fs.open(p)))
    try:
        lines = []
        while True:
            ln = br.readLine()
            if ln is None:
                break
            lines.append(ln)
    finally:
        br.close()
    return np.asarray(json.loads("".join(lines)), dtype=np.float64)


def _table_centroids(spark, path: str,
                     centroids: np.ndarray | None) -> np.ndarray:
    if centroids is not None:
        return centroids
    cb = read_codebook(spark, path)
    return ivf_centroids() if cb is None else cb


def write_ivf_table(emb: DataFrame, path: str,
                    centroids: np.ndarray | None = None) -> None:
    """Materialize the embedding table partitioned by nearest-centroid cell.

    This is the IVF index's 100 TB shape: assignment is the one-pass JVM
    expression (`ivf_assign_col`), the write clusters each cell into its own
    directory, and `ivf_topk_table` probes become parquet PARTITION PRUNING
    — nprobe/C of the bytes are even opened, vs the full-scan filter of
    `ivf_topk` on an unindexed table.  The codebook is persisted as a
    sidecar so later readers and appends share the training-time cells."""
    centroids = ivf_centroids() if centroids is None else centroids
    (
        emb.withColumn("ivf_cell", ivf_assign_col(F.col("embedding"), centroids))
        .write.mode("overwrite").partitionBy("ivf_cell").parquet(path)
    )
    write_codebook(emb.sparkSession, path, centroids)


def append_ivf_table(spark, path: str, new_emb: DataFrame,
                     dedup: bool = True, timeout_s: float = 120.0) -> int:
    """Index maintenance: append new vectors into an existing IVF layout —
    assignment uses the table's PERSISTED codebook (cells must match the
    resident rows or probes would miss them), the whole read-check-append
    runs under the table commit lock (prepare.commit_lock: owner-fenced,
    dead-writer swept), and `dedup` anti-joins resident vec_ids so replays
    are idempotent.  The anti-join reads ONE pruned column of the table;
    the append itself is a partitionBy write that only touches the cells
    the new vectors land in.  Returns the number of rows appended."""
    from ..prepare import commit_lock

    cb = read_codebook(spark, path)
    if cb is None:
        raise ValueError(f"{path} has no {CODEBOOK_FILE}; "
                         "write_ivf_table it first")
    with commit_lock(spark, path, timeout_s=timeout_s):
        add = new_emb
        if dedup:
            resident = spark.read.parquet(path).select("vec_id")
            add = add.join(resident, "vec_id", "left_anti")
        assigned = add.withColumn(
            "ivf_cell", ivf_assign_col(F.col("embedding"), cb)).persist()
        try:
            n = assigned.count()  # materialize ONCE: count + write share it
            if n:
                assigned.write.mode("append") \
                    .partitionBy("ivf_cell").parquet(path)
        finally:
            assigned.unpersist()
        return n


def ivf_topk_table(spark, path: str, qvec, k: int = 10,
                   centroids: np.ndarray | None = None,
                   nprobe: int = DEFAULT_NPROBE) -> DataFrame:
    """Approximate top-k over a `write_ivf_table` layout: read only the
    query's top-nprobe centroid partitions (directory pruning, verified in
    tests/test_strategies.py by PartitionFilters), re-rank exactly.  With
    centroids=None the table's persisted codebook is used."""
    centroids = _table_centroids(spark, path, centroids)
    q = np.asarray(qvec, dtype=np.float64)
    probe = np.argsort(-(centroids @ q), kind="stable")[:nprobe]
    cand = spark.read.parquet(path).filter(
        F.col("ivf_cell").isin([int(i) for i in probe]))
    return (
        cand.select(
            "vec_id",
            F.round(cosine_col(F.col("embedding"), qvec), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


# --------------------------------------------------------- batch top-k

#: slack on the per-task partial top-k, whose scores are RAW cosines while
#: the final rank runs on the JVM-rounded cosine: a row can only displace a
#: kept one if its raw cosine is within 1e-6 of the k-th best (F.round(x, 6)
#: moves a value < 5e-7), so keeping everything within 2e-6 of the k-th raw
#: guarantees the global rounded-rank top-k is a subset of the partials —
#: F.round in `_rank` stays the single rounding authority.
_TOPK_EPS = 2e-6

_PARTIAL_SCHEMA = "query_id long, vec_id long, neg_cos double"


def _rank(partials: DataFrame, k: int) -> DataFrame:
    """(query_id, vec_id, neg_cos) partials -> exact top-k per query:
    rounded cosine descending (NULL last), vec_id tie-break — the oracle's
    order."""
    return rank_topk(
        partials.select("query_id", "vec_id",
                        F.round(-F.col("neg_cos"), 6).alias("cosine")),
        k, [F.desc("cosine"), "vec_id"])


def _topk(cand: DataFrame, k: int) -> DataFrame:
    """(query_id, vec_id, neg_cos) JVM candidates -> exact top-k per query."""
    partials = cand.mapInPandas(
        lambda frames: partial_topk(frames, k, "neg_cos", "vec_id",
                                    _TOPK_EPS),
        schema=_PARTIAL_SCHEMA)
    return _rank(partials, k)


def _cand_cols() -> list[Column]:
    """Per-candidate negated raw cosine from the pair dot and the
    PRE-COMPUTED per-side norms (`_en`/`_qn` — each vector's norm evaluated
    once per row instead of once per pair).  Bit-identical to
    dot/(norm_e*norm_q) computed inline, which is what the oracle SQL
    evaluates; a zero norm gives NULL."""
    return [
        F.col("q.query_id"),
        F.col("e.vec_id"),
        (-F.try_divide(_dot(F.col("e.embedding"), F.col("q.qvec")),
                       F.col("e._en") * F.col("q._qn"))).alias("neg_cos"),
    ]


def _norm_queries(queries: DataFrame, query_id: str, qvec_col: str) -> DataFrame:
    return queries.select(F.col(query_id).cast("long").alias("query_id"),
                          F.col(qvec_col).alias("qvec"),
                          _norm(F.col(qvec_col)).alias("_qn"))


def _normed_emb(emb: DataFrame) -> DataFrame:
    return _spread(emb).select("vec_id", "embedding",
                               _norm(F.col("embedding")).alias("_en"))


def _np_dot_lr(E: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(ne, d) x (nq, d) -> (ne, nq) pairwise dots with STRICT left-to-right
    accumulation over the dimension axis — each pair's sum performs the
    identical IEEE-754 double adds, in the identical order, as the JVM
    `_dot` (aggregate over zip_with), so the raw values are bit-identical
    to what the former join-side expression produced.  np.dot/np.matmul
    would be faster but use pairwise/SIMD summation whose last bits differ;
    here correctness (hash-stable cosines) beats the constant factor.
    Each dimension's products land in one reused scratch buffer, so the
    loop allocates two (ne, nq) arrays in total, not one per dimension."""
    acc = np.zeros((E.shape[0], Q.shape[0]), dtype=np.float64)
    prod = np.empty_like(acc)
    for d in range(E.shape[1]):
        np.multiply(E[:, d, None], Q[None, :, d], out=prod)
        acc += prod
    return acc


def _np_norm_lr(E: np.ndarray) -> np.ndarray:
    """Row norms with left-to-right accumulation (bit-identical to `_norm`)."""
    acc = np.zeros(E.shape[0], dtype=np.float64)
    for d in range(E.shape[1]):
        acc += E[:, d] * E[:, d]
    return np.sqrt(acc)


def _np_buckets(E: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """LSH sign-pattern buckets, bit-identical to `bucket_col` (left-to-right
    plane dots, strict `> 0` sign test)."""
    out = np.zeros(E.shape[0], dtype=np.int64)
    for p in range(len(planes)):
        dp = np.zeros(E.shape[0], dtype=np.float64)
        for d in range(E.shape[1]):
            dp += E[:, d] * planes[p, d]
        out |= (dp > 0).astype(np.int64) << p
    return out


def _np_candidates_fn(q_ids: np.ndarray, Qm: np.ndarray, Qn: np.ndarray,
                      probe_of: dict | None, planes: np.ndarray | None,
                      k: int):
    """mapInPandas body for the broadcast batch top-k paths: the bucket
    'join' runs in Python against the (small, broadcast-by-closure) probe
    set, so per-pair arithmetic is one vectorized numpy pass instead of
    per-row JVM higher-order functions, and NOTHING but the slim embedding
    rows ever crosses Arrow (guide §4.2/§8: decide with small rows — the
    candidate pairing needs only bucket ids — and let the heavy per-pair
    math ride a vectorized kernel).  probe_of=None means brute: every query
    is a candidate for every row.  Each (batch, bucket) candidate block goes
    straight into the shared partial top-k, so a task never holds more than
    `partial_topk`'s bound."""
    import pandas as pd

    def frames(batches):
        for b in batches:
            if not len(b):
                continue
            E = np.array(b["embedding"].tolist(), dtype=np.float64)
            vid = b["vec_id"].to_numpy()
            en = _np_norm_lr(E)
            if probe_of is None:
                groups = [(np.arange(len(E)), np.arange(len(q_ids)))]
            else:
                buck = _np_buckets(E, planes)
                groups = []
                for bu in np.unique(buck):
                    qidx = probe_of.get(int(bu))
                    if qidx is not None:
                        groups.append((np.nonzero(buck == bu)[0], qidx))
            for eidx, qidx in groups:
                if not len(eidx) or not len(qidx):
                    continue
                neg = _np_dot_lr(E[eidx], Qm[qidx])
                # 0/0 for a zero-norm vector: NaN, which Arrow returns as NULL
                with np.errstate(invalid="ignore"):
                    np.divide(neg, en[eidx, None] * Qn[None, qidx], out=neg)
                np.negative(neg, out=neg)
                ne, nq = neg.shape
                yield pd.DataFrame({
                    "query_id": np.tile(q_ids[qidx], ne),
                    "vec_id": np.repeat(vid[eidx], nq),
                    "neg_cos": neg.ravel(),
                })

    def run(batches):
        return partial_topk(frames(batches), k, "neg_cos", "vec_id",
                            _TOPK_EPS)

    return run


def _collect_queries(queries: DataFrame, query_id: str, qvec_col: str):
    """Driver-side materialization of the probe batch — the same memory
    class as the BroadcastExchange the former plan built from this side
    (bounded by the probe batch, never the corpus)."""
    pdf = queries.select(F.col(query_id).cast("long").alias("query_id"),
                         F.col(qvec_col).alias("qvec")).toPandas()
    if not len(pdf):
        return np.empty(0, np.int64), np.empty((0, 0)), np.empty(0)
    q_ids = pdf["query_id"].to_numpy(np.int64)
    Qm = np.array(pdf["qvec"].tolist(), dtype=np.float64)
    return q_ids, Qm, _np_norm_lr(Qm)


def _batch_topk_arrow(emb: DataFrame, queries: DataFrame, k: int,
                      planes: np.ndarray | None, query_id: str,
                      qvec_col: str) -> DataFrame:
    """Shared Arrow-pass engine of batch_topk (planes given) and
    batch_topk_brute (planes=None)."""
    q_ids, Qm, Qn = _collect_queries(queries, query_id, qvec_col)
    probe_of = None
    if planes is not None:
        qb = _np_buckets(Qm, planes) if len(Qm) else np.empty(0, np.int64)
        probe_of = {}
        for i, b in enumerate(qb):
            for bucket in [int(b)] + [int(b) ^ (1 << p)
                                      for p in range(len(planes))]:
                probe_of.setdefault(bucket, []).append(i)
        probe_of = {b: np.asarray(ix, dtype=np.int64)
                    for b, ix in probe_of.items()}
        planes = np.asarray(planes, dtype=np.float64)
    partials = _spread(emb).select("vec_id", "embedding").mapInPandas(
        _np_candidates_fn(q_ids, Qm, Qn, probe_of, planes, k),
        schema=_PARTIAL_SCHEMA)
    return _rank(partials, k)


def _fill_underfilled(emb: DataFrame, q: DataFrame, topk: DataFrame,
                      k: int) -> DataFrame:
    """Correctness fence shared by the bucketed batch paths: any query whose
    candidate set came up short of k is re-answered EXACTLY via the brute
    broadcast path — one extra pass over only the under-filled queries (the
    embedding analogue of batch_knn's re-probe round).  Driver-side work is
    one bounded take(1) on the under-filled set."""
    # materialize the bucketed top-k ONCE (<= k rows per query): the fence
    # check and the caller's terminal action both read the blocks instead of
    # re-executing the candidate join + window
    topk = topk.localCheckpoint()
    counts = topk.groupBy("query_id").agg(F.count("*").alias("_n"))
    under = (
        q.join(counts, "query_id", "left")
        .filter(F.coalesce(F.col("_n"), F.lit(0)) < k)
        .select("query_id", "qvec")
    )
    if not under.take(1):
        return topk
    exact = batch_topk_brute(emb, under, k)
    return (
        topk.join(F.broadcast(under.select("query_id")), "query_id",
                  "left_anti")
        .unionByName(exact)
    )


def batch_topk_brute(emb: DataFrame, queries: DataFrame, k: int = 10,
                     query_id: str = "query_id",
                     qvec_col: str = "qvec") -> DataFrame:
    """EXACT top-k for each of N query vectors in ONE job — the batch
    baseline and the embedding analogue of batchjoin.batch_knn (the
    reference runs one ORDER BY distance + LIMIT plan per request,
    reference openpoiservice/server/api/query_builder.py:84-103).

    Shape: the query set is materialized on the driver (a probe batch, not
    the corpus) and shipped with the task closure; ONE Arrow pass over the
    slim embedding side computes every (row, query) cosine with a
    vectorized numpy kernel whose left-to-right accumulation is
    bit-identical to the JVM `_dot`, feeding the shared per-task partial
    top-k; F.round and the ranking window run in the JVM over <= ~k rows
    per (task, query).  For query sets too large to hold on the driver,
    use `batch_topk_ivf`, whose probe join is a JVM equi-join."""
    return _batch_topk_arrow(emb, queries, k, None, query_id, qvec_col)


def batch_recall(approx: DataFrame, exact: DataFrame, k: int,
                 query_id: str = "query_id") -> DataFrame:
    """Index-quality observability: per-query recall@k of an approximate
    batch result against the exact one — (query_id, n_hit, recall).

    Both inputs come from the batch_topk* family, so measuring recall over
    N probes costs TWO jobs total (one approximate, one brute), never 2N
    per-query plans.  This is the measurement that set DEFAULT_NPROBE (the
    recall curve in tests/test_strategies.py) turned into a reusable
    operator: run it on a sampled probe set after every index append /
    retrain (ivf_table_stats tells you occupancy drifted; batch_recall
    tells you whether search quality actually moved).  Queries the
    approximate tier missed entirely still appear, with recall 0."""
    hit = (
        approx.select(query_id, "vec_id")
        .join(exact.select(query_id, "vec_id"), [query_id, "vec_id"])
        .groupBy(query_id).agg(F.count("*").alias("n_hit"))
    )
    qs = exact.select(query_id).distinct()
    return (
        qs.join(hit, query_id, "left")
        .select(query_id,
                F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
                F.round(F.coalesce("n_hit", F.lit(0)) / F.lit(k), 6)
                .alias("recall"))
    )


def batch_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
               planes: np.ndarray | None = None,
               query_id: str = "query_id", qvec_col: str = "qvec",
               fill: bool = True) -> DataFrame:
    """Approximate batch top-k: N query vectors, the k nearest each, ONE
    distributed job (no per-query plan, no driver loop over queries).

    Shape:
      1. LSH-bucket BOTH sides with the same hyperplanes (bucket math is
         bit-identical to `bucket_col`); each query probes its own bucket
         and its Hamming<=1 neighbours;
      2. the probe set is materialized on the driver (bounded by the probe
         batch) and the bucket 'join' + exact cosine run in ONE Arrow pass
         over the slim embedding side, feeding the shared per-task partial
         top-k;
      3. F.round and one row_number window in the JVM — <= ~k rows per
         (task, query) ever shuffle;
      4. fill=True (the correctness fence): any query whose candidate set
         came up short of k is re-answered EXACTLY via the brute path — one
         extra pass over only the under-filled queries (the same re-probe
         policy batchjoin.batch_knn applies to geo kNN).  The driver-side
         work is one take(1) on the under-filled set.
    Returns (query_id, vec_id, cosine), deterministic (rounded-cosine rank,
    NULL last, vec_id tie-break)."""
    planes = hyperplanes() if planes is None else planes
    topk = _batch_topk_arrow(emb, queries, k, planes, query_id, qvec_col)
    if not fill:
        return topk
    q = _norm_queries(queries, query_id, qvec_col)
    return _fill_underfilled(emb, q, topk, k)


def batch_topk_ivf(emb: DataFrame, queries: DataFrame, k: int = 10,
                   centroids: np.ndarray | None = None,
                   nprobe: int = DEFAULT_NPROBE,
                   query_id: str = "query_id", qvec_col: str = "qvec",
                   fill: bool = True,
                   broadcast_queries: bool = True) -> DataFrame:
    """IVF-cell batch top-k: both sides assigned to the trained codebook's
    cells, each query exploded into its top-nprobe cells, ONE equi-join on
    the cell id.  Over a `write_ivf_table` layout the emb side's assignment
    is free and the join keys align with the table's partitioning.  The
    per-query probe pick (argsort of the codebook dots) is a pure JVM
    expression — array_sort of (negated dot, index) structs, so ties break
    to the LOWEST index exactly like ivf_topk's driver-side argsort.
    broadcast_queries=False drops the broadcast hint on the probe side (the
    join may then shuffle both sides on the cell id); the candidates feed
    the same partial top-k and rank either way."""
    centroids = ivf_centroids() if centroids is None else centroids
    q = _norm_queries(queries, query_id, qvec_col)
    a = _normed_emb(emb).withColumn(
        "ivf_cell", ivf_assign_col(F.col("embedding"), centroids))
    cb = F.array(*[_qvec_lit(c) for c in centroids])
    ranked = F.array_sort(F.transform(
        cb, lambda c, i: F.struct((-_dot(F.col("qvec"), c)).alias("nd"),
                                  i.alias("i"))))
    probe_arr = F.transform(F.slice(ranked, 1, nprobe), lambda s: s["i"])
    probes = q.select("query_id", "qvec", "_qn",
                      F.explode(probe_arr).alias("ivf_cell"))
    if broadcast_queries:
        probes = F.broadcast(probes)
    cand = a.alias("e").join(probes.alias("q"), "ivf_cell") \
            .select(*_cand_cols())
    topk = _topk(cand, k)
    return _fill_underfilled(emb, q, topk, k) if fill else topk


def batch_topk_ivf_table(spark, path: str, queries: DataFrame, k: int = 10,
                         centroids: np.ndarray | None = None,
                         nprobe: int = DEFAULT_NPROBE,
                         query_id: str = "query_id", qvec_col: str = "qvec",
                         fill: bool = True) -> DataFrame:
    """Batch top-k over a `write_ivf_table` layout — the 100 TB shape of
    `batch_topk_ivf`: the table side's cell assignment is already the
    parquet PARTITION column, so the probe equi-join prunes at the
    directory level.  With the probe side broadcast, Spark's dynamic
    partition pruning turns the scan into 'only the partitions some query
    probes' — the batch analogue of `ivf_topk_table`'s static pruning; a
    probe set concentrated on few cells opens few files however large the
    table.  The brute fence re-reads the full table only for under-filled
    queries.  With centroids=None the table's persisted codebook is used."""
    centroids = _table_centroids(spark, path, centroids)
    q = _norm_queries(queries, query_id, qvec_col)
    a = spark.read.parquet(path).select(
        "vec_id", "embedding", "ivf_cell",
        _norm(F.col("embedding")).alias("_en"))
    cb = F.array(*[_qvec_lit(c) for c in centroids])
    ranked = F.array_sort(F.transform(
        cb, lambda c, i: F.struct((-_dot(F.col("qvec"), c)).alias("nd"),
                                  i.alias("i"))))
    probe_arr = F.transform(F.slice(ranked, 1, nprobe), lambda s: s["i"])
    probes = q.select("query_id", "qvec", "_qn",
                      F.explode(probe_arr).alias("ivf_cell"))
    cand = a.alias("e").join(F.broadcast(probes).alias("q"), "ivf_cell") \
            .select(*_cand_cols())
    topk = _topk(cand, k)
    if not fill:
        return topk
    emb = spark.read.parquet(path).select("vec_id", "embedding")
    return _fill_underfilled(emb, q, topk, k)


_MMR_SCHEMA = "query_id long, vec_id long, cosine double, mmr_rank int"


def mmr_rerank(emb: DataFrame, topk: DataFrame, k: int,
               lam: float = 0.5) -> DataFrame:
    """Maximal-Marginal-Relevance re-rank of a batch top-k result: from each
    query's candidate pool (a `batch_topk*` output with pool size > k) pick
    k results greedily by `lam * relevance - (1-lam) * max-sim-to-selected`
    — the diversity step a retrieval-augmented training pipeline runs so k
    near-identical neighbours don't crowd out coverage.  lam=1 degenerates
    to the plain relevance order.

    Shape for scale: ONE equi-join fetches candidate vectors (the pool is
    N*K' rows — never the corpus), then applyInPandas per query_id; the
    greedy loop is inherently sequential but each group is <= K' rows, so
    the cost is O(N * K'^2 * dim) spread over the cluster.  Deterministic:
    ties break on lowest vec_id.
    """
    import pandas as pd

    cand = topk.join(emb.select("vec_id", "embedding"), "vec_id")

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        vecs = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0] = 1.0
        unit = vecs / norms[:, None]
        rel = pdf["cosine"].to_numpy()
        ids = pdf["vec_id"].to_numpy()
        n = len(pdf)
        chosen: list[int] = []
        max_sim = np.zeros(n)
        remaining = np.ones(n, dtype=bool)
        for _ in range(min(k, n)):
            score = lam * rel - (1.0 - lam) * max_sim
            # lowest vec_id wins ties: scan candidates in vec_id order
            order = np.lexsort((ids, -score))
            pick = next(i for i in order if remaining[i])
            chosen.append(pick)
            remaining[pick] = False
            max_sim = np.maximum(max_sim, unit @ unit[pick])
        out = pdf.iloc[chosen][["query_id", "vec_id", "cosine"]].copy()
        out["mmr_rank"] = range(1, len(chosen) + 1)
        return out

    return cand.groupBy("query_id").applyInPandas(_mmr, schema=_MMR_SCHEMA)


def cosine_components(emb: DataFrame, threshold: float = 0.9,
                      planes: np.ndarray | None = None,
                      max_bucket: int | None = None,
                      max_iter: int = 25,
                      checkpoint_dir: str | None = None,
                      algorithm: str = "label") -> DataFrame:
    """Connected components of the EMBEDDING near-dup graph — (vec_id,
    component), component = smallest vec_id transitively reachable through
    cosine >= threshold pairs (`cosine_pairs` edges).  The cluster-correct
    grouping for embedding dedup: A~B and B~C belong together even when
    A!~C directly — keep min(vec) per component, or key a train/test split
    on the component so no near-dup cluster straddles the boundary (same
    policy the text side implements with near_dup_components)."""
    from . import graph

    edges = cosine_pairs(emb, threshold, planes, max_bucket) \
        .select("vec_a", "vec_b")
    return graph.connected_components(
        emb.select("vec_id"), edges, node_col="vec_id",
        src="vec_a", dst="vec_b", max_iter=max_iter,
        checkpoint_dir=checkpoint_dir, algorithm=algorithm)


def bucket_stats(emb: DataFrame, planes: np.ndarray | None = None) -> DataFrame:
    """(bucket, n_vecs) histogram — pair with `max_bucket` to route
    degenerate buckets (e.g. all-zero embeddings) off the quadratic path."""
    planes = hyperplanes() if planes is None else planes
    return emb.groupBy(bucket_col(F.col("embedding"), planes).alias("bucket")) \
              .agg(F.count("*").alias("n_vecs"))


def ivf_cell_stats(emb: DataFrame,
                   centroids: np.ndarray | None = None) -> DataFrame:
    """(ivf_cell, n_vecs) occupancy histogram for a codebook over an
    UNindexed embedding table — the IVF observability companion of
    `bucket_stats`: one JVM assignment expression + one partial-agg
    groupBy.  Feed it the table's sidecar codebook to preview how a
    retrain would redistribute cells."""
    centroids = ivf_centroids() if centroids is None else centroids
    return (emb
            .groupBy(ivf_assign_col(F.col("embedding"), centroids)
                     .alias("ivf_cell"))
            .agg(F.count("*").alias("n_vecs")))


def ivf_table_stats(spark, path: str) -> DataFrame:
    """Occupancy histogram of a WRITTEN IVF table, counting by the
    partition directory key: the scan prunes every data column (vector
    bytes are never read — counts come from parquet row-group metadata +
    the directory-derived `ivf_cell`), so this is cheap enough to run
    after every `append_ivf_table` as the retrain trigger.  A max/mean
    ratio drifting ≫1 means appended vectors are crowding a few cells and
    probe cost is degrading toward a scan — time to `ivf_train` a fresh
    codebook and rewrite."""
    return (spark.read.parquet(path)
            .groupBy(F.col("ivf_cell").cast("int").alias("ivf_cell"))
            .agg(F.count("*").alias("n_vecs")))


def cosine_pairs(emb: DataFrame, threshold: float = 0.9,
                 planes: np.ndarray | None = None,
                 max_bucket: int | None = None) -> DataFrame:
    """Embedding near-dup pairs: bucket self-join + exact cosine filter.

    max_bucket: skew guard (same contract as text.lsh_candidate_pairs) — a
    degenerate bucket makes the self-join quadratic in that bucket at scale;
    buckets above the cap are excluded from pairing (detect them with
    bucket_stats and handle via exact grouping).  None = no cap."""
    planes = hyperplanes() if planes is None else planes
    b = _spread(emb).withColumn("bucket", bucket_col(F.col("embedding"), planes)) \
           .select("vec_id", "bucket", "embedding",
                   _norm(F.col("embedding")).alias("_nrm"))
    if max_bucket is not None:
        ok = (
            b.groupBy("bucket").agg(F.count("*").alias("_n"))
            .filter(F.col("_n") <= max_bucket)
            .select("bucket")
        )
        b = b.join(ok, "bucket")
    l, r = b.alias("l"), b.alias("r")
    pairs = l.join(
        r, (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.vec_id") < F.col("r.vec_id"))
    )
    # a zero-norm vector's cosine is NULL, so it never passes the threshold
    cos = F.round(
        F.try_divide(_dot(F.col("l.embedding"), F.col("r.embedding")),
                     F.col("l._nrm") * F.col("r._nrm")),
        6,
    )
    return (
        pairs.select(
            F.col("l.vec_id").alias("vec_a"),
            F.col("r.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# --------------------------------------------------------------- PQ tier
#
# Product quantization: the canonical billion-to-trillion-scale ANN
# compression (Jegou et al., "Product Quantization for Nearest Neighbor
# Search", TPAMI 2011).  The 64-dim float vector is split into M subspaces
# and each sub-vector is replaced by the id of its nearest sub-codebook
# centroid: 64 x 4 bytes -> M small ints (M=8, K=16 -> 8 nibbles = 4
# bytes/vector, a 64x memory cut).  Search scores candidates WITHOUT
# touching the original vectors via an asymmetric-distance LUT: per query,
# lut[j][k] = <q_subj, C[j][k]> is M*K driver-side doubles shipped as
# literals, and a row's approximate inner product is sum_j lut[j][code_j]
# — M array lookups + adds per row, all JVM expression work.  At 100 TB
# the codes table replaces the vector table for the first-pass ranking
# (the reference's per-request ORDER BY distance plan reads full vectors
# every time; here the scan is ~1/64th the bytes), and composes with the
# IVF directory layout (ivfpq_topk) so a probe reads only its cells'
# codes.  Encoding is a one-time full scan, exactly like ivf_assign_col.

def pq_codebooks(m: int = 8, ks: int = 16, dim: int = 64,
                 seed: int = 29) -> np.ndarray:
    """Deterministic (m, ks, dim/m) sub-codebooks — the correctness gate
    needs data-independent codebooks (the oracle SQL is static);
    production trains with pq_train on a bounded sample instead."""
    rng = np.random.default_rng(seed)
    return rng.normal(size=(m, ks, dim // m))


def pq_train(sample: np.ndarray, m: int = 8, ks: int = 16, iters: int = 8,
             seed: int = 29) -> np.ndarray:
    """Per-subspace Lloyd k-means on a driver-side sample (same scale
    contract as ivf_train: sample is bounded, the codebook ships as
    literals, encoding stays a full-scan JVM expression).  Trains on UNIT
    vectors — the space pq_code_col encodes."""
    x = np.asarray(sample, dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    n, dim = x.shape
    dsub = dim // m
    rng = np.random.default_rng(seed)
    out = np.empty((m, ks, dsub))
    for j in range(m):
        xs = x[:, j * dsub:(j + 1) * dsub]
        c = xs[rng.choice(n, size=ks, replace=False)]
        for _ in range(iters):
            d2 = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for i in range(ks):
                sel = xs[assign == i]
                if len(sel):
                    c[i] = sel.mean(axis=0)
        out[j] = c
    return out


def _unit_col(vec_col: Column) -> Column:
    """Row-wise L2 normalization.  The PQ tier encodes the UNIT vector so
    the ADC inner product approximates COSINE — the metric every other
    tier ranks by; raw-dot ADC would silently prefer long vectors over
    near ones (measured recall 0.3 vs 0.9 on clustered data).  A zero
    vector has no direction: its elements come out NULL, so are its PQ
    codes and ADC score, which every PQ path ranks last."""
    n = _norm(vec_col)
    return F.transform(vec_col, lambda x: F.try_divide(x.cast("double"), n))


def pq_code_col(vec_col: Column, codebooks: np.ndarray) -> Column:
    """codes: array<int> of length M — per subspace, the argmin-L2
    sub-centroid id of the UNIT vector's sub-slice.  dist^2 ranking uses
    ||c||^2 - 2<u_sub, c> (the ||u_sub||^2 term is constant per row and
    dropped); the per-centroid bias rides a zip_with against the codebook
    array so plan depth stays O(1) in K, mirroring ivf_assign_col's
    literal-array form.  Ties break to the LOWEST centroid id
    (array_position = first match), the same order the oracle's
    list_position uses."""
    m, ks, dsub = codebooks.shape
    unit = _unit_col(vec_col)
    codes = []
    for j in range(m):
        sub = F.slice(unit, j * dsub + 1, dsub)
        cb = F.array(*[_qvec_lit(c) for c in codebooks[j]])
        bias = _qvec_lit([float(np.dot(c, c)) for c in codebooks[j]])
        dists = F.zip_with(cb, bias,
                           lambda c, b: b - F.lit(2.0) * _dot(sub, c))
        codes.append((F.array_position(dists, F.array_min(dists)) - 1)
                     .cast("int"))
    return F.array(*codes)


def pq_encode(emb: DataFrame, codebooks: np.ndarray | None = None,
              vec_col: str = "embedding") -> DataFrame:
    """(vec_id, codes) — the compressed table.  Write this partitioned by
    ivf_cell (write_ivf_table layout) and the ranking scan reads M ints
    per row instead of the vector bytes."""
    codebooks = pq_codebooks() if codebooks is None else codebooks
    return emb.select("vec_id",
                      pq_code_col(F.col(vec_col), codebooks).alias("codes"))


def pq_adc_col(codes_col: Column, qvec, codebooks: np.ndarray) -> Column:
    """Asymmetric-distance score: sum_j lut[j][code_j] with the per-query
    LUT computed driver-side (M*K doubles) and shipped as array literals.
    The LUT is built from the UNIT query vector, so against unit-encoded
    codes the score approximates cosine.  F.get is 0-based so codes index
    the LUT directly; the sum is an M-term left-assoc chain, matching the
    oracle's '+' parse."""
    m, ks, dsub = codebooks.shape
    q = np.asarray(qvec, dtype=np.float64)
    q = q / np.linalg.norm(q)
    out = None
    for j in range(m):
        lut = _qvec_lit([
            float(np.dot(q[j * dsub:(j + 1) * dsub], codebooks[j][kk]))
            for kk in range(ks)
        ])
        term = F.get(lut, F.get(codes_col, F.lit(j)))
        out = term if out is None else out + term
    return out


def pq_topk(emb: DataFrame, qvec, k: int = 10,
            codebooks: np.ndarray | None = None,
            vec_col: str = "embedding") -> DataFrame:
    """PQ top-k in one pass over the raw table: encode + ADC-rank fused
    into a single scan (TakeOrderedAndProject, no global sort).  For a
    PRE-ENCODED table use pq_topk_codes — that is the production shape."""
    codebooks = pq_codebooks() if codebooks is None else codebooks
    codes = pq_code_col(F.col(vec_col), codebooks)
    return (
        emb.select(
            "vec_id",
            F.round(pq_adc_col(codes, qvec, codebooks), 6).alias("adc"),
        )
        .orderBy(F.desc("adc"), "vec_id")
        .limit(k)
    )


def pq_topk_codes(codes_df: DataFrame, qvec, k: int = 10,
                  codebooks: np.ndarray | None = None) -> DataFrame:
    """PQ top-k over the compressed (vec_id, codes) table: the scan never
    touches vector bytes — M lookups + adds per row."""
    codebooks = pq_codebooks() if codebooks is None else codebooks
    return (
        codes_df.select(
            "vec_id",
            F.round(pq_adc_col(F.col("codes"), qvec, codebooks), 6)
            .alias("adc"),
        )
        .orderBy(F.desc("adc"), "vec_id")
        .limit(k)
    )


def ivfpq_topk(emb: DataFrame, qvec, k: int = 10,
               centroids: np.ndarray | None = None,
               codebooks: np.ndarray | None = None,
               nprobe: int = DEFAULT_NPROBE, shortlist: int = 4,
               vec_col: str = "embedding") -> DataFrame:
    """IVF+PQ, the standard large-scale composition: IVF cell pruning
    bounds the candidate set (directory pruning on a written table), ADC
    ranks the survivors to a shortlist of k*shortlist WITHOUT reading
    vector bytes, and only the shortlist is re-ranked with exact cosine.
    At 10^12 rows the exact re-rank touches k*shortlist vectors instead
    of nprobe/C of the table."""
    centroids = ivf_centroids() if centroids is None else centroids
    codebooks = pq_codebooks() if codebooks is None else codebooks
    q = np.asarray(qvec, dtype=np.float64)
    probe = np.argsort(-(centroids @ q), kind="stable")[:nprobe]
    cand = emb.withColumn(
        "ivf_cell", ivf_assign_col(F.col(vec_col), centroids)
    ).filter(F.col("ivf_cell").isin([int(i) for i in probe]))
    codes = pq_code_col(F.col(vec_col), codebooks)
    short = (
        cand.select("vec_id", vec_col,
                    pq_adc_col(codes, qvec, codebooks).alias("_adc"))
        .orderBy(F.desc("_adc"), "vec_id")
        .limit(k * shortlist)
    )
    return (
        short.select(
            "vec_id",
            F.round(cosine_col(F.col(vec_col), qvec), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


# ------------------------------------------------- PQ over written tables

#: PQ codebook sidecar at the table root (sibling of the IVF sidecar) —
#: index metadata travels WITH the table, readers never re-derive it
PQ_CODEBOOK_FILE = "_pq_codebooks.json"


def write_pq_codebooks(spark, path: str, codebooks: np.ndarray) -> None:
    import json

    from ..prepare import _hadoop_fs

    fs, p = _hadoop_fs(spark, f"{path}/{PQ_CODEBOOK_FILE}")
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(
            np.asarray(codebooks, dtype=np.float64).tolist()).encode("ascii")))
    finally:
        out.close()


def read_pq_codebooks(spark, path: str) -> np.ndarray | None:
    import json

    from ..prepare import read_sidecar_text

    txt = read_sidecar_text(spark, f"{path}/{PQ_CODEBOOK_FILE}")
    if txt is None:
        return None
    return np.asarray(json.loads(txt))


def pq_recon_col(codes_col: Column, codebooks: np.ndarray) -> Column:
    """Unit-space reconstruction from codes: concat of the selected
    sub-centroids.  The whole (m, ks, dsub) codebook ships as ONE 3-level
    array literal (single parsed expression — no per-element py4j), and
    the reconstruction is flatten(transform(codes, ...)): O(1) plan depth
    however large the codebook.  <q_unit, recon(codes)> equals the ADC
    LUT sum exactly, so batch scoring over pairs — where a per-query LUT
    literal is impossible — reuses the HOF dot the other batch paths run."""
    m, ks, dsub = codebooks.shape
    cb3 = F.expr(
        "array(" + ",".join(
            "array(" + ",".join(
                "array(" + ",".join(
                    f"CAST('{float(x)!r}' AS DOUBLE)" for x in c
                ) + ")" for c in codebooks[j]
            ) + ")" for j in range(m)
        ) + ")")
    return F.flatten(F.transform(
        codes_col, lambda c, j: F.get(F.get(cb3, j), c)))


def write_ivfpq_table(emb: DataFrame, path: str,
                      centroids: np.ndarray | None = None,
                      codebooks: np.ndarray | None = None) -> None:
    """Materialize the full search layout: (vec_id, embedding, codes)
    partitioned by ivf_cell, both codebooks as sidecars.  Probes prune at
    the directory level (IVF), first-pass ranking projects ONLY the codes
    column (parquet is columnar — vector bytes stay unread), and the exact
    re-rank reads embeddings for just the shortlist.  One write, three
    access paths."""
    centroids = ivf_centroids() if centroids is None else centroids
    codebooks = pq_codebooks() if codebooks is None else codebooks
    (
        emb.withColumn("ivf_cell",
                       ivf_assign_col(F.col("embedding"), centroids))
        .withColumn("codes", pq_code_col(F.col("embedding"), codebooks))
        .write.mode("overwrite").partitionBy("ivf_cell").parquet(path)
    )
    write_codebook(emb.sparkSession, path, centroids)
    write_pq_codebooks(emb.sparkSession, path, codebooks)


def append_ivfpq_table(spark, path: str, new_emb: DataFrame,
                       dedup: bool = True, timeout_s: float = 120.0) -> int:
    """Maintenance append for the compressed layout — the daily embedding
    increment, mirroring `append_ivf_table`: cell assignment AND PQ codes
    come from the table's PERSISTED sidecars (new rows encoded with fresh
    codebooks would ADC-rank on a different scale than resident rows and
    probes would miss their cells), the read-check-append runs under the
    table commit lock, and `dedup` anti-joins resident vec_ids (one
    pruned column) so replays are idempotent.  The append touches only
    the cell directories the new vectors land in.  Returns rows appended.

    After a large append, `ivf_table_stats` shows occupancy drift and
    `batch_recall` (gate ann_recall_ivfpq's composition) answers whether
    the stale codebooks still search well — retrain + `write_ivfpq_table`
    when they don't."""
    from ..prepare import commit_lock

    cb = read_codebook(spark, path)
    pq = read_pq_codebooks(spark, path)
    if cb is None or pq is None:
        raise ValueError(f"{path} is missing a codebook sidecar; "
                         "write_ivfpq_table it first")
    with commit_lock(spark, path, timeout_s=timeout_s):
        add = new_emb
        if dedup:
            resident = spark.read.parquet(path).select("vec_id")
            add = add.join(resident, "vec_id", "left_anti")
        assigned = (
            add.withColumn("ivf_cell",
                           ivf_assign_col(F.col("embedding"), cb))
            .withColumn("codes", pq_code_col(F.col("embedding"), pq))
        ).persist()
        try:
            n = assigned.count()  # materialize ONCE: count + write share it
            if n:
                assigned.write.mode("append") \
                    .partitionBy("ivf_cell").parquet(path)
        finally:
            assigned.unpersist()
        return n


def ivfpq_topk_table(spark, path: str, qvec, k: int = 10,
                     centroids: np.ndarray | None = None,
                     codebooks: np.ndarray | None = None,
                     nprobe: int = DEFAULT_NPROBE,
                     shortlist: int = 4) -> DataFrame:
    """Two-phase IVF+PQ search over a `write_ivfpq_table` layout — the
    FAISS-style production read path.  Phase 1 scans ONLY (vec_id, codes)
    of the probed partitions and ADC-ranks to k*shortlist ids (a bounded
    driver collect, <= k*shortlist longs).  Phase 2 re-reads the probed
    partitions with vec_id IN (shortlist) — an id predicate parquet can
    evaluate against row-group stats — and re-ranks exactly.  Vector
    bytes are read for the shortlist's row groups only."""
    centroids = _table_centroids(spark, path, centroids)
    if codebooks is None:
        codebooks = read_pq_codebooks(spark, path)
        if codebooks is None:
            raise ValueError(f"{path} has no {PQ_CODEBOOK_FILE}; "
                             "write_ivfpq_table it first")
    q = np.asarray(qvec, dtype=np.float64)
    probe = [int(i) for i in
             np.argsort(-(centroids @ q), kind="stable")[:nprobe]]
    tbl = spark.read.parquet(path)
    short = (
        tbl.filter(F.col("ivf_cell").isin(probe))
        .select("vec_id",
                pq_adc_col(F.col("codes"), qvec, codebooks).alias("_adc"))
        .orderBy(F.desc("_adc"), "vec_id")
        .limit(k * shortlist)
    )
    ids = [r.vec_id for r in short.collect()]  # bounded by k*shortlist
    return (
        tbl.filter(F.col("ivf_cell").isin(probe))
        .filter(F.col("vec_id").isin(ids))
        .select("vec_id",
                F.round(cosine_col(F.col("embedding"), qvec), 6)
                .alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


def batch_topk_ivfpq_table(spark, path: str, queries: DataFrame,
                           k: int = 10,
                           centroids: np.ndarray | None = None,
                           codebooks: np.ndarray | None = None,
                           nprobe: int = DEFAULT_NPROBE,
                           shortlist: int = 4,
                           query_id: str = "query_id",
                           qvec_col: str = "qvec",
                           fill: bool = True) -> DataFrame:
    """Batch IVF+PQ: N query vectors, the k nearest each, ONE job over the
    compressed layout.  The probe equi-join's table side projects ONLY
    (vec_id, codes, ivf_cell) — first-pass candidate scoring never reads
    vector bytes — and scores each pair via <qvec, recon(codes)>/|qvec|
    (identical to the per-query ADC LUT, but expressible per PAIR, which a
    literal LUT is not).  Per-partition partial top-(k*shortlist) bounds
    the shuffle exactly like the other batch paths; the exact re-rank then
    joins the shortlist back against the probed partitions' embedding
    column (cells bounded driver-side by the codebook size, so the re-read
    is static partition pruning).  Under-filled queries fall through the
    shared brute fence."""
    centroids = _table_centroids(spark, path, centroids)
    if codebooks is None:
        codebooks = read_pq_codebooks(spark, path)
        if codebooks is None:
            raise ValueError(f"{path} has no {PQ_CODEBOOK_FILE}; "
                             "write_ivfpq_table it first")
    q = _norm_queries(queries, query_id, qvec_col)
    cb = F.array(*[_qvec_lit(c) for c in centroids])
    ranked = F.array_sort(F.transform(
        cb, lambda c, i: F.struct((-_dot(F.col("qvec"), c)).alias("nd"),
                                  i.alias("i"))))
    probe_arr = F.transform(F.slice(ranked, 1, nprobe), lambda s: s["i"])
    probes = q.select("query_id", "qvec", "_qn",
                      F.explode(probe_arr).alias("ivf_cell"))
    codes_side = (
        spark.read.parquet(path)
        .select("vec_id", "ivf_cell",
                pq_recon_col(F.col("codes"), codebooks).alias("_recon"))
    )
    cand = codes_side.alias("e").join(
        F.broadcast(probes).alias("q"), "ivf_cell"
    ).select(
        F.col("q.query_id"),
        F.col("e.vec_id"),
        (-F.try_divide(_dot(F.col("q.qvec"), F.col("e._recon")),
                       F.col("q._qn"))).alias("neg_cos"),
    )
    short = _topk(cand, k * shortlist)

    # probed-cell union is bounded by the codebook size C — the same
    # bounded-footprint collect contract batchjoin's pcell pruning uses
    cells = [r.ivf_cell for r in
             probes.select("ivf_cell").distinct().collect()]
    embside = (
        spark.read.parquet(path)
        .filter(F.col("ivf_cell").isin(cells))
        .select("vec_id", "embedding", _norm(F.col("embedding")).alias("_en"))
    )
    exact = (
        F.broadcast(short.select("query_id", "vec_id"))
        .join(embside, "vec_id")
        .join(F.broadcast(q.select("query_id", "qvec", "_qn")), "query_id")
        .select(
            "query_id", "vec_id",
            (-F.try_divide(_dot(F.col("embedding"), F.col("qvec")),
                           F.col("_en") * F.col("_qn"))).alias("neg_cos"),
        )
    )
    topk = _topk(exact, k)
    if not fill:
        return topk
    emb = spark.read.parquet(path).select("vec_id", "embedding")
    return _fill_underfilled(emb, q, topk, k)
