"""`operators.pairs.bucket_pairs` against a plain-Python oracle, and its
memory bound on one degenerate bucket."""

import os
import subprocess
import sys
import textwrap
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from openpoiservice_spark.operators import text as TX
from openpoiservice_spark.operators.pairs import bucket_pairs

REPO = Path(__file__).resolve().parents[1]


def _oracle(rows, max_bucket=None):
    """Multiset of (a, b) member pairs: per bucket, each member paired with
    every member sorted before it."""
    buckets = {}
    for key, member in rows:
        buckets.setdefault(key, []).append(member)
    out = Counter()
    for ms in buckets.values():
        if max_bucket is not None and len(ms) > max_bucket:
            continue
        ms = sorted(ms)
        for i, b in enumerate(ms):
            out.update((a, b) for a in ms[:i])
    return out


def _pairs(df, as_tuple=lambda v: v):
    return Counter((as_tuple(r.a), as_tuple(r.b)) for r in df.collect())


# bucket 1: 5 members, one repeated; bucket 2: 4 members; bucket 3: 1 member;
# bucket 4: 2 equal members
SCALAR = ([(1, m) for m in (7, 3, 9, 3, 1)] + [(2, m) for m in (4, 8, 2, 6)]
          + [(3, 5)] + [(4, 11), (4, 11)])


@pytest.mark.parametrize("max_bucket", [None, 4, 5, 1])
def test_scalar_members_match_oracle(spark, max_bucket):
    # max_bucket 4 keeps bucket 2 (exactly 4) and drops bucket 1 (5 = 4 + 1);
    # 5 keeps both at exactly the cap
    df = spark.createDataFrame(SCALAR, "k long, v long")
    got = _pairs(bucket_pairs(df, ["k"], F.col("v"), max_bucket))
    assert got == _oracle(SCALAR, max_bucket)
    assert ((11, 11) in got) == (max_bucket is None or max_bucket >= 2)


def test_composite_keys_and_struct_members(spark):
    rows = [((band, h), (img, fp))
            for band in (0, 1) for h, img, fp in
            [(5, 3, 30), (5, 1, 10), (5, 3, 31), (6, 2, 20), (5, 2, 20)]]
    df = spark.createDataFrame(
        [(band, h, img, fp) for (band, h), (img, fp) in rows],
        "band int, bh long, k long, fp long")
    for cap in (None, 4, 3):
        got = _pairs(bucket_pairs(df, ["band", "bh"], F.struct("k", "fp"), cap),
                     tuple)
        assert got == _oracle(rows, cap), cap


def test_increment_candidates_never_pair_two_residents(spark):
    # (is_new, doc_id) per bucket; a replayed doc 9 sits on both sides
    rows = [(b, m) for b, ms in {
        "x": [(False, 9), (True, 4), (True, 2), (False, 1), (True, 9)],
        "y": [(False, 3), (False, 5)],
        "z": [(True, 7), (True, 6), (True, 6)],
    }.items() for m in ms]
    df = spark.createDataFrame([(0, b, n, d) for b, (n, d) in rows],
                               "band int, bhash string, is_new boolean, doc_id long")
    for cap in (None, 3):
        got = {tuple(r) for r in TX._increment_candidates(df, cap).collect()}
        want = {(b[1], a[1], a[0]) for a, b in _oracle(rows, cap)
                if b[0] and (not a[0] or a[1] < b[1])}
        assert got == want, cap
        # losers are new docs only: residents 1, 3 and 5 never lose
        assert all(loser in (2, 4, 6, 7, 9) for loser, _, _ in got)
        assert ((9, 9, False) in got) == (cap is None)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_capped_plan_limits_before_the_shuffle(spark):
    df = spark.createDataFrame(SCALAR, "k long, v long")
    plan = _plan(bucket_pairs(df, ["k"], F.col("v"), 4))
    # the partial limit sits below the one exchange of the bucket key
    lines = plan.splitlines()
    exchange = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    partial = [i for i, ln in enumerate(lines)
               if "WindowGroupLimit" in ln and "Partial" in ln]
    assert len(exchange) == 1 and len(partial) == 1
    assert exchange[0] < partial[0]


def test_cap_above_the_group_limit_threshold_collects_then_drops(spark):
    """At a deployed cap (jobs.py's 100,000, above Spark's default
    windowGroupLimitThreshold of 1,000) Spark would plan no group limit, so
    the kernel adds no window: one exchange, no sort of every row, and the
    size filter alone drops over-cap buckets."""
    df = spark.createDataFrame(SCALAR, "k long, v long")
    for cap in (999, 1000, 100_000):
        plan = _plan(bucket_pairs(df, ["k"], F.col("v"), cap))
        assert plan.count("Exchange") == 1, cap
        assert ("WindowGroupLimit" in plan) == (cap < 1000), cap
        assert ("row_number" in plan) == (cap < 1000), cap
    assert _pairs(bucket_pairs(df, ["k"], F.col("v"), 100_000)) == _oracle(SCALAR)


def test_degenerate_bucket_expands_under_a_small_heap(tmp_path):
    """5,000 identical docs make one LSH bucket of 12,497,500 pairs; uncapped,
    they pair at local[2] under a 512 MB driver heap (a whole-bucket
    expansion in one row ran out of heap there)."""
    n = 5_000
    script = textwrap.dedent(f"""
        from openpoiservice_spark.session import get_spark
        from openpoiservice_spark.operators import text as TX
        spark = get_spark(master="local[2]", shuffle_partitions=2)
        docs = spark.range({n}).selectExpr(
            "id AS doc_id", "'all work and no play makes jack a dull boy' AS text")
        print("PAIRS", TX.lsh_candidate_pairs(docs).count())
        spark.stop()
    """)
    env = dict(os.environ, PYTHONPATH=str(REPO), SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_DRIVER_MEM="512m",
               SPARK_LOCAL_DIRS=str(tmp_path))
    out = subprocess.run([sys.executable, "-c", script], env=env, cwd=tmp_path,
                         capture_output=True, text=True, timeout=600)
    assert f"PAIRS {n * (n - 1) // 2}" in out.stdout, out.stderr[-2000:]
