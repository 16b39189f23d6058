"""Per-query top-k, the batch form of the reference's `ORDER BY distance
LIMIT k` (reference openpoiservice/server/api/query_builder.py:84-103).

Every batch nearest-neighbour job (geo `batchjoin.batch_knn`, the
embedding `ann.batch_topk*` family) answers N queries in two steps:

  1. `partial_topk`, inside the candidate stage's mapInPandas: per task,
     only each query's best rows survive, so the query_id shuffle carries
     <= ~k rows per (task, query) instead of every candidate pair;
  2. `rank_topk`, one row_number window over those partials.

Memory bound: a task buffers at most `prune_at` candidate rows (or, if
more, the last prune's survivors: k rows per query plus the margin rows)
plus one incoming candidate frame.

NULL policy: a NaN score (a zero-norm vector's cosine; Spark NULLs arrive
in pandas as NaN) ranks after every finite score, ties broken by `tie`, so
at most k NaN rows per (task, query) survive — the same order as Spark's
`ORDER BY score NULLS LAST, tie` and as the DuckDB oracle, where 0.0/0.0 is
NULL and NULLs sort last.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _prune(df: pd.DataFrame, k: int, score: str, tie: str,
           margin: float) -> pd.DataFrame:
    q = df["query_id"].to_numpy()
    s = df[score].to_numpy(dtype=np.float64)
    # lexsort: last key is primary; NaN sorts after every finite value
    order = np.lexsort((df[tie].to_numpy(), s, q))
    q, s = q[order], s[order]
    n = len(q)
    start = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
    size = np.diff(np.r_[start, n])
    keep = np.arange(n) - np.repeat(start, size) < k
    kth = s[start + np.minimum(size, k) - 1]
    keep |= s < np.repeat(kth, size) + margin
    return df.iloc[order[keep]]


def partial_topk(frames: Iterable[pd.DataFrame], k: int, score: str,
                 tie: str, margin: float = 0.0,
                 prune_at: int = 65_536) -> Iterator[pd.DataFrame]:
    """Per-task partial top-k over candidate frames holding `query_id`,
    `score` (lower is better) and `tie` columns; yields one frame with the
    input's columns.

    Per query_id it keeps the rows ranked below k by (score ascending, NaN
    last; tie ascending), plus every finite row scoring below the k-th
    ranked score + `margin` — the slack a caller needs when the final rank
    runs on a rounded score (margin 0 adds nothing).  Pruning is
    incremental (whenever more than `prune_at` rows are buffered) and
    gives the same rows as one prune over the whole task: the k-th score
    only falls as rows arrive."""
    buf: list[pd.DataFrame] = []
    n_buf = 0
    for f in frames:
        if not len(f):
            continue
        buf.append(f)
        n_buf += len(f)
        if n_buf > prune_at:
            buf = [_prune(pd.concat(buf, ignore_index=True), k, score, tie,
                          margin)]
            n_buf = len(buf[0])
    if buf:
        yield _prune(pd.concat(buf, ignore_index=True), k, score, tie, margin)


def rank_topk(df: DataFrame, k: int, order: list[Column | str]) -> DataFrame:
    """The final top-k per query_id: one row_number window, ordered by
    `order`, over the partials."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k).drop("_rn"))
