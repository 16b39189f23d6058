"""Text / deduplication operators over a `documents(doc_id, text, ...)` table.

Scale notes (the 100 TB design point):
  * every operator is a pure DataFrame pipeline — shingle/token explosion is
    the only row-multiplying step and it map-side-combines into per-doc
    aggregates before any shuffle;
  * MinHash-LSH turns O(n^2) near-dup search into pairing within
    (band, band_hash) buckets — the classic shingle -> minhash -> band ->
    bucket pipeline, expanded by `pairs.bucket_pairs`; banding keeps
    buckets small except on true near-dup clusters, which `max_bucket`
    caps;
  * hashes are md5-based (bit-identical in DuckDB) rather than xxhash: the
    goal here is portability of the correctness oracle; swap HASH_EXPR for
    `xxhash64` on a production cluster for ~3x hash throughput;
  * MinHash hashes each shingle ONCE and derives the k permutations
    arithmetically — (a_i*h + b_i) mod p over int64, pure column math inside
    whole-stage codegen.  One md5 per shingle instead of one per
    permutation (md5(shingle || '#i')) is 1/k of the hash CPU, and the
    textbook universal-hash family keeps the Jaccard-estimation quality.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .pairs import bucket_pairs

# 32-bit integer hash from a string, identical in Spark and DuckDB:
#   Spark : conv(substring(md5(x), 1, 8), 16, 10)::long
#   DuckDB: CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT)


def _h32(col: Column, hash_fn: str = "md5") -> Column:
    """32-bit non-negative hash.  'md5' is the gate default (bit-identical
    SQL exists in DuckDB); 'xxhash64' is the production option the md5 note
    below promises — one JVM codegen'd hash instead of md5+conv string work
    (~3x hash throughput), same [0, 2^32) range so the permutation-overflow
    bound holds.  Not oracle-portable (DuckDB has no xxhash64), so gates pin
    md5; the xxhash path is pytest-verified instead."""
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(col), F.lit(1 << 32)).cast("long")
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


#: Mersenne prime modulus of the permutation family.  a_i < 2^30 and
#: h < 2^32 keep a_i*h + b_i < 2^62 — no int64 overflow in either engine.
MINHASH_PRIME = (1 << 31) - 1


def minhash_params(k: int, seed: int = 5) -> tuple[list[int], list[int]]:
    """Deterministic (a_i, b_i) permutation constants, inlined as literals
    into BOTH the Spark plan and the DuckDB oracle SQL."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 30, size=k, dtype=np.int64).tolist()
    b = rng.integers(0, MINHASH_PRIME, size=k, dtype=np.int64).tolist()
    return [int(x) for x in a], [int(x) for x in b]


# ----------------------------------------------------------------- dedup

def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups: md5(text) -> (n_docs, keep_id).  keep_id is
    the smallest doc_id (deterministic survivor)."""
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


def shingles(docs: DataFrame, n: int = 5) -> DataFrame:
    """Explode each doc into its character n-gram shingles (distinct).

    The input is `_spread` first (ann.py's parallelism guard): a corpus
    read as one/few parquet partitions runs the explode + every
    downstream per-shingle hash on one core — and the candidate pipeline
    computes each subtree exactly once (`bucket_pairs`), so no
    overlapping stage hides that (bench cpu_env:
    89-94% idle on the text lanes at 32 cores).  The repartition shuffles
    raw docs (cheap) so the 10-100x larger shingle stream parallelizes; a
    table with adequate partitioning — the 100 TB case — passes through
    untouched.  The repartition is KEYED on doc_id (not round-robin) so the
    signature stage's groupBy("doc_id") reuses the partitioning instead of
    adding a second exchange (guide §2.4: two operations keyed the same way
    share one exchange)."""
    spark = docs.sparkSession
    target = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < max(2, target // 2):
        docs = docs.repartition(target, "doc_id")

    sh = F.expr(f"transform(sequence(1, length(text) - {n - 1}), i -> substring(text, i, {n}))")
    # guard: Spark's sequence(1, x) runs DOWNWARD for x < 1 — short docs must
    # be excluded, not fed to sequence (DuckDB's range(1, x) is empty there)
    return (
        docs.filter(F.length("text") >= n)
        .select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def minhash_signatures(docs: DataFrame, k: int = 8, n: int = 5,
                       hash_fn: str = "md5",
                       shingles_df: DataFrame | None = None,
                       with_sizes: bool = False) -> DataFrame:
    """k-permutation MinHash signature per doc: one hash per shingle, then
    perm i = min over shingles of (a_i*h + b_i) mod p.  One explode, k
    map-side mins, one shuffle.

    shingles_df: precomputed `shingles(docs, n)` output to reuse (the dedup
    pipeline shares ONE shingle explode between the signature and
    intersection stages instead of re-scanning the text).
    with_sizes=True adds the per-doc distinct-shingle count (`n_sh`) to the
    SAME aggregation — zero extra shuffle for the Jaccard denominator."""
    a, b = minhash_params(k)
    base = shingles(docs, n) if shingles_df is None else shingles_df
    sh = base.select("doc_id", _h32(F.col("shingle"), hash_fn).alias("h"))
    aggs = [
        F.min((F.col("h") * F.lit(a[i]) + F.lit(b[i])) % F.lit(MINHASH_PRIME)).alias(f"mh{i}")
        for i in range(k)
    ]
    if with_sizes:
        aggs.append(F.count("*").alias("n_sh"))
    return sh.groupBy("doc_id").agg(*aggs)


def _banded_from_sig(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """(doc_id, band, bhash) — a signature frame exploded into LSH band keys."""
    rows_per_band = k // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
        band_cols.append(F.struct(F.lit(b).alias("band"),
                                  F.md5(F.concat_ws("_", *parts)).alias("bhash")))
    return sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bb")) \
              .select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bhash").alias("bhash"))


def _banded(docs: DataFrame, k: int, bands: int, n: int,
            hash_fn: str = "md5",
            shingles_df: DataFrame | None = None) -> DataFrame:
    """(doc_id, band, bhash) — each doc exploded into its LSH band keys."""
    return _banded_from_sig(
        minhash_signatures(docs, k, n, hash_fn, shingles_df), k, bands)


def lsh_bucket_stats(docs: DataFrame, k: int = 8, bands: int = 2, n: int = 5,
                     hash_fn: str = "md5") -> DataFrame:
    """(band, bhash, n_docs) histogram — the observability companion of
    `max_bucket`: route oversized buckets to exact_dedup / sampling instead
    of silently paying their quadratic pair expansion."""
    return _banded(docs, k, bands, n, hash_fn).groupBy("band", "bhash") \
                                              .agg(F.count("*").alias("n_docs"))


def lsh_candidate_pairs(docs: DataFrame, k: int = 8, bands: int = 2, n: int = 5,
                        max_bucket: int | None = None,
                        hash_fn: str = "md5") -> DataFrame:
    """Band the signatures and pair within (band, band_hash) buckets: docs
    agreeing on any band become a candidate pair (doc_a < doc_b).

    max_bucket: skew guard for the 100 TB design point.  A degenerate bucket
    (boilerplate cluster: every doc identical) has quadratically many pairs;
    buckets larger than max_bucket are excluded from pairing (their
    membership is boilerplate near-dup by construction — handle them via
    exact_dedup / lsh_bucket_stats, which is O(n), not O(n^2)); a cap
    below 1000 also cuts each bucket to max_bucket + 1 rows before the
    bucket shuffle (`bucket_pairs`).
    None = no cap (the correctness-gate configuration on bounded
    fixtures)."""
    return _pairs_from_banded(_banded(docs, k, bands, n, hash_fn), max_bucket)


def _pairs_from_banded(banded: DataFrame,
                       max_bucket: int | None) -> DataFrame:
    """Candidate pairs (doc_a < doc_b) from the (doc_id, band, bhash) frame:
    docs sharing any band bucket, each pair once.  Strict `<` also drops
    pairs of equal ids from a frame that repeats a doc in one bucket."""
    p = bucket_pairs(banded, ["band", "bhash"], F.col("doc_id"), max_bucket)
    return (p.filter(F.col("a") < F.col("b"))
            .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
            .distinct())


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.2, n: int = 5,
                        k: int = 8, bands: int = 2,
                        max_bucket: int | None = None,
                        hash_fn: str = "md5",
                        shingles_df: DataFrame | None = None,
                        cache: bool = True) -> DataFrame:
    """Near-duplicate pairs with exact n-gram Jaccard >= threshold, computed
    only for LSH candidate pairs (verification join, not O(n^2)).

    ONE shingle explode feeds the whole pipeline, not one per stage (3
    full text scans + explodes at 100 TB): the per-doc shingle counts
    ride the signature aggregation (`with_sizes`),
    and the raw shingle frame is shared between the banding and
    intersection stages.  The exact-intersection join reads shingles of
    CANDIDATE docs only (semi-join on the pair frame's doc ids before the
    (doc, shingle) shuffle — at corpus scale the candidates are a sliver,
    and shuffling the whole explode to verify a sliver was the plan's one
    remaining full-width shuffle).  cache=True (default) persists the
    shared shingle frame and the twice-read candidate pairs
    (memory-then-disk); pass shingles_df= to reuse an existing frame and
    own its lifecycle, or cache=False to trade recomputes for zero cache
    footprint."""
    from pyspark import StorageLevel

    own_cache = shingles_df is None and cache
    sh = shingles(docs, n) if shingles_df is None else shingles_df
    if own_cache:
        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sig = minhash_signatures(docs, k, n, hash_fn, shingles_df=sh,
                             with_sizes=True)
    if cache:
        # one row per doc; consumed by BOTH the banding subtree and the
        # Jaccard-denominator join — without this the signature aggregation
        # re-scans the (much larger) shingle frame twice
        sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    cand = _pairs_from_banded(
        _banded_from_sig(sig.drop("n_sh"), k, bands), max_bucket)
    if cache:
        # consumed twice (touched-doc restriction + the pair join); small
        cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = sig.select("doc_id", "n_sh")
    # the intersection join only ever reads shingles of docs that appear
    # in some candidate pair — semi-join FIRST, so the (doc, shingle)
    # shuffle carries candidate docs only, never the whole corpus (the
    # candidate set is tiny relative to 100 TB of documents; the pair
    # frame itself is broadcast-sized, so the restriction is a broadcast
    # hash join over the cached shingle scan, not another big shuffle)
    touched = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
    # left_semi tolerates duplicate probe keys, so `touched` needs no
    # distinct (and no exchange for one)
    sh_c = sh.join(F.broadcast(touched), "doc_id", "left_semi")
    inter = (
        cand.join(sh_c.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(
            sh_c.select(F.col("doc_id").alias("doc_b"), F.col("shingle")),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .withColumn("jaccard", F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def contamination(docs: DataFrame, benchmark: DataFrame, n: int = 5,
                  shingles_df: DataFrame | None = None) -> DataFrame:
    """Benchmark-contamination signal: for every corpus doc, how much of it
    appears verbatim in a held-out evaluation set.  Returns
    (doc_id, n_hits, n_sh, frac) where n_hits = distinct n-gram shingles
    the doc shares with ANY benchmark doc, n_sh = the doc's distinct
    shingle count, frac = n_hits / n_sh (rounded to 6).

    The decontamination step every training pipeline needs before eval
    numbers mean anything (the reference has no analogue — this is the
    LLM-data extension surface).  Scale shape: the benchmark side is
    projected to DISTINCT shingles before the join — for a real eval suite
    that side is tiny and Spark broadcasts it, so the corpus-side shingle
    explode (shareable via shingles_df with the dedup pipeline's single
    explode) never shuffles; corpus docs shorter than n have no shingles
    and are absent from the result (decontaminate keeps them).
    """
    corpus_sh = shingles(docs, n) if shingles_df is None else shingles_df
    bench_sh = shingles(benchmark, n).select("shingle").distinct()
    per_doc = corpus_sh.join(bench_sh, "shingle", "left_semi") \
        .groupBy("doc_id").agg(F.count("*").alias("n_hits"))
    sizes = corpus_sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    return (
        sizes.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            "n_sh",
            F.round(F.coalesce("n_hits", F.lit(0)) / F.col("n_sh"), 6)
            .alias("frac"),
        )
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 5,
                  max_frac: float = 0.5,
                  shingles_df: DataFrame | None = None) -> DataFrame:
    """Drop corpus docs whose benchmark n-gram overlap fraction exceeds
    max_frac (strictly greater).  Docs too short to shingle carry no
    overlap evidence and are KEPT.  Anti-join on the flagged ids — the
    corpus never reshuffles."""
    bad = contamination(docs, benchmark, n, shingles_df) \
        .filter(F.col("frac") > max_frac).select("doc_id")
    return docs.join(bad, "doc_id", "left_anti")


def _increment_candidates(allb: DataFrame,
                          max_bucket: int | None) -> DataFrame:
    """(loser, other, other_new) candidates from the banded union of new
    (`is_new`) and resident docs: each new doc (the loser) pairs with every
    resident sharing a bucket and with the new docs of smaller id, so
    resident x resident pairs are never built (the `b.is_new` filter runs
    below the kernel's expansion).  Members sort residents first; a
    replayed doc_id on both sides pairs with itself.  The bucket cap counts
    both sides: a boilerplate bucket is degenerate whichever frame its
    members came from."""
    p = bucket_pairs(allb, ["band", "bhash"], F.struct("is_new", "doc_id"),
                     max_bucket)
    return (
        p.filter(F.col("b.is_new")
                 & (~F.col("a.is_new") | (F.col("a.doc_id") < F.col("b.doc_id"))))
        .select(F.col("b.doc_id").alias("loser"),
                F.col("a.doc_id").alias("other"),
                F.col("a.is_new").alias("other_new"))
        .distinct()
    )


def dedup_increment(new_docs: DataFrame, resident: DataFrame,
                    threshold: float = 0.2, n: int = 5, k: int = 8,
                    bands: int = 2, max_bucket: int | None = None,
                    hash_fn: str = "md5",
                    resident_banded: DataFrame | None = None) -> DataFrame:
    """Admit new documents against an already-curated resident corpus —
    the INCREMENT shape a daily crawl actually runs: dedup N new docs
    against a 100 TB resident corpus WITHOUT ever re-pairing the corpus
    against itself (its internal duplicates were resolved at admission).

    Stages:
      1. exact — drop new docs whose md5(text) already exists in resident;
         among the new docs themselves, the smallest doc_id per text hash
         survives (same survivor rule as exact_dedup).
      2. near-dup candidates — band BOTH sides (MinHash/LSH, the batch
         pipeline's parameters); candidate pairs are ONLY new x resident
         (resident always wins) and new x new (smaller doc_id wins, the
         pairwise convention of curate(clusters=False)).  The resident
         side NEVER self-joins, so the quadratic term is bounded by the
         increment size, not the corpus.
      3. verify — exact n-gram Jaccard on candidates only.  Resident
         shingles are derived for ONLY the docs touched by a candidate
         pair (semi-join before the explode); the corpus text is scanned
         once, for banding — and at deployment scale even that scan is
         amortized away by passing `resident_banded=` (a maintained
         (doc_id, band, bhash) index table, the write/append pattern of
         ann.write_ivf_table / ivf-append).

    Docs shorter than n chars cannot shingle and pass the near-dup stage
    untouched — the exact stage still guards them (contamination()'s
    policy).  The two frames' doc_id spaces should be disjoint; the one
    sanctioned overlap is a REPLAY (the same increment re-run after its
    docs were already appended to the corpus), which admits nothing —
    the daily job is idempotent at the corpus level.  Returns the
    admitted new (doc_id) rows.
    """
    from pyspark import StorageLevel

    # 1. exact: resident hash anti-join + smallest-id survivor among new
    res_hash = resident.select(F.md5("text").alias("text_hash")).distinct()
    keep_exact = exact_dedup(new_docs).select(F.col("keep_id").alias("doc_id"))
    live = (
        new_docs.select("doc_id", F.md5("text").alias("text_hash"))
        .join(keep_exact, "doc_id")
        .join(res_hash, "text_hash", "left_anti")
        .select("doc_id")
    )

    # 2. banding: the new side's shingle explode is shared with stage 3
    sh_new = shingles(new_docs, n).persist(StorageLevel.MEMORY_AND_DISK)
    nb = _banded(new_docs, k, bands, n, hash_fn, shingles_df=sh_new) \
        .withColumn("is_new", F.lit(True))
    rb = (_banded(resident, k, bands, n, hash_fn)
          if resident_banded is None else resident_banded) \
        .withColumn("is_new", F.lit(False))
    cand = _increment_candidates(nb.unionByName(rb), max_bucket)

    # 3. verify: shingle only the touched resident docs
    touched_res = cand.filter(~F.col("other_new")) \
        .select(F.col("other").alias("doc_id")).distinct()
    sh_res = shingles(resident.join(touched_res, "doc_id"), n)
    # distinct() collapses cross-frame duplicates: a REPLAYED increment
    # whose docs were already appended to the corpus sees its own ids on
    # both sides, and double-counted shingles would drive the self-pair's
    # union size to zero (divide-by-zero) instead of Jaccard 1.0.  Bounded
    # by increment + touched docs, never the corpus.
    sh_all = sh_new.unionByName(sh_res).distinct()
    sizes = sh_all.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        cand.join(sh_all.select(F.col("doc_id").alias("loser"), "shingle"),
                  "loser")
        .join(sh_all.select(F.col("doc_id").alias("other"), "shingle"),
              ["other", "shingle"])
        .groupBy("loser", "other").agg(F.count("*").alias("n_inter"))
    )
    losers = (
        inter.join(sizes.select(F.col("doc_id").alias("loser"),
                                F.col("n_sh").alias("na")), "loser")
        .join(sizes.select(F.col("doc_id").alias("other"),
                           F.col("n_sh").alias("nb")), "other")
        .filter(F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
                >= threshold)
        .select(F.col("loser").alias("doc_id")).distinct()
    )
    return live.join(losers, "doc_id", "left_anti")


BAND_PARAMS_FILE = "_band_params.json"


def write_band_index(docs: DataFrame, path: str, k: int = 8, bands: int = 2,
                     n: int = 5, hash_fn: str = "md5") -> None:
    """Materialize the resident corpus's LSH band index — the maintained
    (doc_id, band, bhash) table `dedup_increment(resident_banded=)` reads
    so the daily increment never re-scans the corpus text.  The banding
    parameters are persisted as a sidecar (the `write_ivf_table` codebook
    pattern): an append MUST band with the same (k, bands, n, hash_fn) or
    its bucket keys would never collide with the resident ones."""
    import json

    from ..prepare import _hadoop_fs

    _banded(docs, k, bands, n, hash_fn) \
        .write.mode("overwrite").partitionBy("band").parquet(path)
    spark = docs.sparkSession
    fs, p = _hadoop_fs(spark, f"{path}/{BAND_PARAMS_FILE}")
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(
            {"k": k, "bands": bands, "n": n, "hash_fn": hash_fn}
        ).encode("ascii")))
    finally:
        out.close()


def read_band_params(spark, path: str) -> dict | None:
    """The index's persisted banding parameters, or None (pre-sidecar)."""
    import json

    from ..prepare import read_sidecar_text

    txt = read_sidecar_text(spark, f"{path}/{BAND_PARAMS_FILE}")
    return None if txt is None else json.loads(txt)


def read_band_index(spark, path: str) -> DataFrame:
    """The (doc_id, band, bhash) frame `dedup_increment` accepts as
    `resident_banded=` — column-pruned read of the maintained index."""
    return spark.read.parquet(path).select("doc_id", "band", "bhash")


def append_band_index(spark, path: str, admitted_docs: DataFrame,
                      dedup: bool = True, timeout_s: float = 120.0) -> int:
    """Index maintenance after an admission: band ONLY the newly-admitted
    docs with the index's persisted parameters and append their keys —
    the text.py twin of `ann.append_ivf_table`.  Runs under the table
    commit lock (owner-fenced, dead-writer swept) and anti-joins resident
    doc_ids so replays are idempotent.  Returns the rows appended (docs
    shorter than n chars have no bands; admitting them appends nothing,
    matching `dedup_increment`'s unshingleable-docs policy)."""
    from ..prepare import commit_lock

    params = read_band_params(spark, path)
    if params is None:
        raise ValueError(f"{path} has no {BAND_PARAMS_FILE}; "
                         "write_band_index it first")
    with commit_lock(spark, path, timeout_s=timeout_s):
        add = admitted_docs
        if dedup:
            resident = spark.read.parquet(path).select("doc_id").distinct()
            add = add.join(resident, "doc_id", "left_anti")
        banded = _banded(add, params["k"], params["bands"], params["n"],
                         params["hash_fn"]).persist()
        try:
            rows = banded.count()  # materialize ONCE: count + write share it
            if rows:
                banded.write.mode("append").partitionBy("band").parquet(path)
        finally:
            banded.unpersist()
        return rows


def deterministic_split(docs: DataFrame, test_pct: int = 20,
                        key_col: str = "doc_id", by_content: bool = False,
                        salt: str = "split:v1",
                        content_col: str = "text") -> DataFrame:
    """Deterministic train/test assignment — (key, split) with split =
    'test' iff h32(salt || key) % 100 < test_pct.  Pure hash arithmetic:
    reproducible across runs/engines (the DuckDB twin computes the same
    md5-derived value), no sampling state, no shuffle beyond the scan.

    by_content=True keys the hash on the DOCUMENT TEXT instead of the id —
    the leakage guard for training pipelines: exact duplicates then land on
    the SAME side of the split by construction (one document's copies in
    train AND test is evaluation leakage), whatever their ids are.
    Near-duplicate leakage needs the component structure —
    `near_dup_components` labels give a split key that keeps whole near-dup
    clusters together: split on the component id.

    NULL content hashes as the empty string: F.concat propagates NULL, so
    without the coalesce null-text docs would skip the hash and all land in
    'train' unguarded; coalesced, every null-text doc keys to the same
    bucket, keeping the same-side guarantee.  content_col names the column
    by_content hashes (mirrors key_col)."""
    if not 0 <= test_pct <= 100:
        raise ValueError("test_pct must be in [0, 100]")
    key = (F.coalesce(F.col(content_col).cast("string"), F.lit(""))
           if by_content else F.col(key_col).cast("string"))
    bucket = F.pmod(_h32(F.concat(F.lit(salt), key)), F.lit(100))
    return docs.select(
        key_col,
        F.when(bucket < test_pct, F.lit("test")).otherwise(F.lit("train"))
        .alias("split"))


def split_by_component(docs: DataFrame, test_pct: int = 20,
                       threshold: float = 0.2, n: int = 5,
                       max_bucket: int | None = None,
                       salt: str = "split:v1") -> DataFrame:
    """Component-keyed train/test split — the NEAR-duplicate leakage guard:
    the split hash keys on each document's `near_dup_components` label, so
    a whole near-dup cluster lands on ONE side of the boundary (by_content
    only guarantees that for EXACT duplicates).  Singletons key on their own
    doc_id (their component label), so the marginal split rate is unchanged.
    Same h32(salt || key) % 100 arithmetic as `deterministic_split` — the
    DuckDB twin composes the closure CTE with the split expression."""
    if not 0 <= test_pct <= 100:
        raise ValueError("test_pct must be in [0, 100]")
    comp = near_dup_components(docs, threshold, n, max_bucket=max_bucket)
    bucket = F.pmod(
        _h32(F.concat(F.lit(salt), F.col("component").cast("string"))),
        F.lit(100))
    return comp.select(
        "doc_id",
        F.when(bucket < test_pct, F.lit("test")).otherwise(F.lit("train"))
        .alias("split"))


def near_dup_components(docs: DataFrame, threshold: float = 0.2, n: int = 5,
                        k: int = 8, bands: int = 2,
                        max_bucket: int | None = None,
                        max_iter: int = 25,
                        checkpoint_dir: str | None = None,
                        algorithm: str = "label") -> DataFrame:
    """Connected components of the near-duplicate graph: every document
    labelled with the SMALLEST doc_id reachable through jaccard >=
    threshold edges — (doc_id, component).  Pairwise near-dup lists
    under- and over-drop (A~B, B~C but A!~C still form one cluster);
    cluster-correct curation keeps exactly one doc per component, and a
    leakage-safe train/test split keys on the component id so no cluster
    straddles the boundary.

    Algorithm: `operators.graph.connected_components` — iterative min-label
    propagation (one equi-join + one groupBy min per round, convergence
    checked, localCheckpoint per round against lineage blowup; large-star/
    small-star documented there for extreme diameters)."""
    from . import graph

    edges = ngram_jaccard_pairs(docs, threshold, n, k, bands, max_bucket) \
        .select("doc_a", "doc_b")
    return graph.connected_components(
        docs.select("doc_id"), edges, node_col="doc_id",
        src="doc_a", dst="doc_b", max_iter=max_iter,
        checkpoint_dir=checkpoint_dir, algorithm=algorithm)


def curate(docs: DataFrame, min_quality: float = 0.5, langs: tuple = ("en",),
           jaccard_threshold: float = 0.2,
           max_bucket: int | None = None, clusters: bool = False,
           max_dup_word_frac: float | None = None,
           max_top_bigram_frac: float | None = None) -> DataFrame:
    """Training-data curation pipeline — the composition a 100 TB ingest
    actually runs: keep docs that are (a) the exact-dedup survivor of their
    text hash, (b) not a near-duplicate loser, (c) above the quality floor,
    (d) in an accepted language, and optionally (e) below the repetition
    ceilings (`max_dup_word_frac` / `max_top_bigram_frac` against
    curation.repetition_signals — the Gopher-style boilerplate gate).

    Near-dup semantics (b) has two modes:
      * clusters=False (default): the larger doc_id of each Jaccard PAIR is
        dropped — deterministic and one join, but pairwise: in a chain
        A~B~C it drops B and C (keeping 1 of 3, correct) yet in a star
        A~B, A~C with B~C unverified it may keep extra members whose only
        links were to dropped docs.
      * clusters=True: keep exactly the SMALLEST doc_id of each connected
        COMPONENT of the near-dup graph (`near_dup_components`) — the
        cluster-correct policy (one survivor per transitive cluster, never
        more, never fewer).  Costs the iterative label propagation.

    All gates are column joins/filters over the operators above — one
    pipeline, no collect, every stage bucketed or broadcastable.  Returns
    (doc_id, pred_lang, quality) for the surviving docs.
    """
    keep_exact = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    if clusters:
        comp = near_dup_components(docs, jaccard_threshold,
                                   max_bucket=max_bucket)
        near_losers = comp.filter(
            F.col("component") != F.col("doc_id")).select("doc_id")
    else:
        near_losers = (
            ngram_jaccard_pairs(docs, jaccard_threshold, max_bucket=max_bucket)
            .select(F.col("doc_b").alias("doc_id")).distinct()
        )
    q = quality_score(docs).select("doc_id", "quality")
    lang = lang_id(docs).select("doc_id", "pred_lang")
    out = (
        docs.select("doc_id")
        .join(keep_exact, "doc_id")                     # exact-dup survivor
        .join(near_losers, "doc_id", "left_anti")       # near-dup loser drop
        .join(q, "doc_id")
        .join(lang, "doc_id")
        .filter((F.col("quality") >= min_quality) & F.col("pred_lang").isin(list(langs)))
        .select("doc_id", "pred_lang", "quality")
    )
    if max_dup_word_frac is not None or max_top_bigram_frac is not None:
        from .curation import repetition_signals

        rep = repetition_signals(docs)
        cond = F.lit(True)
        if max_dup_word_frac is not None:
            cond &= F.col("dup_word_frac") <= max_dup_word_frac
        if max_top_bigram_frac is not None:
            cond &= F.col("top_bigram_frac") <= max_top_bigram_frac
        out = out.join(rep.filter(cond).select("doc_id"), "doc_id")
    return out


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash fingerprint over word tokens: bit b of the fingerprint is the
    sign of sum over tokens of (2*bit_b(h32(token)) - 1)."""
    toks = docs.select(
        "doc_id",
        F.explode(F.expr(r"regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).alias("tok"),
    )
    h = _h32(F.col("tok"))
    aggs = [
        F.sum(F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"s{b}")
        for b in range(bits)
    ]
    per_doc = toks.groupBy("doc_id").agg(*aggs)
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return per_doc.select("doc_id", fp.cast("long").alias("simhash"))


# ----------------------------------------------------------------- analysis

_STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "for", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "du", "pour"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "de", "por"],
}


def _word_count(col: Column) -> Column:
    return F.size(F.expr(r"regexp_extract_all(text, '\\S+', 0)"))


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-ratio language ID (n-gram heuristic family).  Emits per-lang
    scores + argmax prediction; 'und' (undetermined) when no stopword hits."""
    out = docs.select("doc_id", "text")
    score_cols = []
    for lang, words in _STOPWORDS.items():
        pat = r"\\b(" + "|".join(words) + r")\\b"
        c = F.size(F.expr(f"regexp_extract_all(lower(text), '{pat}', 0)"))
        out = out.withColumn(f"score_{lang}", c)
        score_cols.append(f"score_{lang}")
    best = F.greatest(*[F.col(c) for c in score_cols])
    pred = F.lit("und")
    for lang in reversed(list(_STOPWORDS)):  # earlier langs win ties
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    return out.select("doc_id", *score_cols, pred.alias("pred_lang"))


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality features + score: length, word stats, punctuation &
    stopword ratios (the usual pretraining-filter features)."""
    n_chars = F.length("text")
    n_words = _word_count(F.col("text"))
    n_punct = F.size(F.expr(r"regexp_extract_all(text, '[.,;:!?]', 0)"))
    n_stop = F.size(F.expr(
        r"regexp_extract_all(lower(text), '\\b(the|a|and|of|to|in|is|that|for|it)\\b', 0)"
    ))
    df = docs.select(
        "doc_id",
        n_chars.alias("n_chars2"),
        n_words.alias("n_words"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stop"),
    )
    mean_wlen = (F.col("n_chars2") - (F.col("n_words") - 1)) / F.col("n_words")
    stop_ratio = F.col("n_stop") / F.col("n_words")
    punct_ratio = F.col("n_punct") / F.col("n_chars2")
    score = (
        F.when(F.col("n_words") >= 20, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((mean_wlen >= 3.0) & (mean_wlen <= 10.0), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(stop_ratio >= 0.05, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.1, F.lit(0.1)).otherwise(F.lit(0.0))
    )
    return df.select(
        "doc_id", "n_words", "n_punct", "n_stop",
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("quality"),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + a BPE-ish subword proxy (runs of <=4 letters,
    digit runs, single non-alnum marks)."""
    n_ws = F.size(F.expr(r"regexp_extract_all(text, '\\S+', 0)"))
    n_sub = F.size(F.expr(
        r"regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]+|[^a-z0-9\\s]', 0)"
    ))
    return docs.select("doc_id", n_ws.alias("n_tokens_ws"), n_sub.alias("n_tokens_sub"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """Canonical document fingerprint: md5 of the normalized text (lowercase,
    punctuation stripped, whitespace collapsed)."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return docs.select("doc_id", F.md5(norm).alias("fp"))
