"""In-bucket pair expansion, the candidate step of every banded near-dup
search (`text.lsh_candidate_pairs`, `text.ngram_jaccard_pairs`,
`text.dedup_increment`, `images.hamming_pairs`): rows that share a bucket
key become candidate pairs, computed with one keyed shuffle of the input
instead of a self-join that would plan the input subtree once per side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def bucket_pairs(frame: DataFrame, keys: list[str], member: Column,
                 max_bucket: int | None = None) -> DataFrame:
    """Every pair `(a, b)` of `member` values sharing a bucket (one value of
    `keys`), with `a` before `b` in the bucket's ascending member order.

    A bucket of more than `max_bucket` rows (duplicates count) pairs
    nothing; None pairs every bucket.  Equal members pair with each other,
    and a pair shared by several buckets is emitted once per bucket;
    callers filter and `distinct` the pairs they keep.  A caller's filter
    on `b` alone is pushed below the expansion by the optimizer, so the
    pairs of members it rejects as `b` are never built.

    Memory bounds: an output row's expansion holds at most bucket size - 1
    pairs (one row per member, each paired with the members sorted before
    it).  A cap below Spark's `windowGroupLimitThreshold` (1000 by
    default) also adds a `row_number() <= max_bucket + 1` filter per key,
    which Spark runs as a partial window group limit before the shuffle:
    a bucket then ships and collects at most `max_bucket + 1` members.  At
    larger caps Spark plans no group limit, and the window would shuffle,
    sort and number every row (7-21 % slower on the capped callers at
    local[2] on a 4-vCPU host), so there a bucket is collected in full and
    dropped by size.
    """
    rows = frame.select(*keys, member.alias("m"))
    limit = int(frame.sparkSession.conf.get(
        "spark.sql.optimizer.windowGroupLimitThreshold"))
    if max_bucket is not None and max_bucket < limit:
        w = Window.partitionBy(*keys).orderBy("m")
        rows = (rows.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= max_bucket + 1).drop("_rn"))
    buckets = rows.groupBy(*keys).agg(
        F.array_sort(F.collect_list("m")).alias("ms"))
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ms") <= max_bucket)
    return (buckets.select("ms", F.posexplode("ms").alias("i", "b"))
            .select(F.explode(F.slice("ms", F.lit(1), F.col("i"))).alias("a"),
                    "b"))
