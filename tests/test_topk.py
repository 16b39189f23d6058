"""The shared per-task partial top-k (openpoiservice_spark/topk.py) that
both batch nearest-neighbour families run: geo kNN (batchjoin.batch_knn,
haversine distance) and embedding top-k (ann.batch_topk*, negated cosine).

One parametrized test pins the kernel against a naive per-query oracle:
incremental pruning (prune_at 16 fires on almost every frame, 10**9
never) must keep the same rows as one prune over the whole task, the
rounding margin keeps every finite row scoring below the k-th + margin,
NaN scores rank last, and exact score ties break on the tie column."""

import numpy as np
import pandas as pd
import pytest

from openpoiservice_spark.batchjoin import _knn_frames
from openpoiservice_spark.topk import partial_topk


def _oracle(df: pd.DataFrame, k: int, score: str, tie: str,
            margin: float) -> set:
    """Per query: the first k rows by (score, NaN last; tie), plus the
    finite rows scoring below the k-th ranked score + margin."""
    keep = set()
    for q, g in df.groupby("query_id"):
        fin = g[np.isfinite(g[score])].sort_values([score, tie])
        ranked = pd.concat([fin, g[np.isnan(g[score])].sort_values(tie)])
        head = ranked.head(k)
        keep |= {(q, t) for t in head[tie]}
        kth = head[score].iloc[-1]
        keep |= {(q, t) for t in fin.loc[fin[score] < kth + margin, tie]}
    return keep


def _random_frames(rng, score_of) -> list[pd.DataFrame]:
    return [pd.DataFrame({"query_id": rng.integers(0, 7, 500),
                          "vec_id": 100 + 500 * i + rng.permutation(500),
                          "score": score_of(500)})
            for i in range(6)]


def _case(name: str):
    """-> (frames, k, tie column, score column, {query_id: expected ids}
    for the hand-checked queries)."""
    rng = np.random.default_rng(71)
    if name == "knn":
        frames, ids = [], rng.permutation(100_000)
        for i in range(6):
            n = 500
            frames.append(pd.DataFrame({
                "query_id": rng.integers(0, 7, n),
                "poi_id": ids[i * n:(i + 1) * n],
                "lon": 8.0 + rng.random(n), "lat": 52.0 + rng.random(n),
                "qlon": 8.5 + 0.01 * rng.integers(0, 7, n),
                "qlat": 52.5 + np.zeros(n),
            }))
        frames = list(_knn_frames(iter(frames), ["poi_id"], "lon", "lat"))
        return frames, 5, "poi_id", "distance", {}
    if name == "nan":
        # 2 valid + 3 NaN scores with k=4: both valid rows and the two NaN
        # rows with the smallest ids; at most k NaN rows ever survive
        def score_of(n):
            s = -rng.random(n)
            s[rng.random(n) < 0.2] = np.nan
            return s
        frames = _random_frames(rng, score_of)
        frames[0] = pd.concat([frames[0], pd.DataFrame({
            "query_id": [9] * 5, "vec_id": [1, 2, 3, 4, 5],
            "score": [np.nan, -0.5, np.nan, -0.9, np.nan]})])
        frames.append(pd.DataFrame({"query_id": [10] * 6,
                                    "vec_id": [8, 6, 11, 7, 9, 10],
                                    "score": [np.nan] * 6}))
        return frames, 4, "vec_id", "score", {9: {1, 2, 3, 4},
                                              10: {6, 7, 8, 9}}
    assert name == "ties"
    # scores on a 0.1 grid tie exactly; 1e-6 apart sits inside the margin
    frames = _random_frames(rng, lambda n: rng.integers(0, 10, n) / 10)
    frames.append(pd.DataFrame({"query_id": [9] * 5,
                                "vec_id": [5, 3, 9, 1, 2],
                                "score": [1.0, 1.0, 1.0, 2.0, 1.0 + 1e-6]}))
    return frames, 2, "vec_id", "score", {9: {3, 5}}


@pytest.mark.parametrize("margin", [0.0, 2e-6])
@pytest.mark.parametrize("prune_at", [16, 10**9])
@pytest.mark.parametrize("case", ["knn", "nan", "ties"])
def test_partial_topk(case, prune_at, margin):
    frames, k, tie, score, hand = _case(case)
    out = pd.concat(list(partial_topk(iter([f.copy() for f in frames]), k,
                                      score, tie, margin, prune_at)))
    got = set(map(tuple, out[["query_id", tie]].to_numpy().tolist()))
    assert len(got) == len(out)
    assert got == _oracle(pd.concat(frames), k, score, tie, margin)
    assert list(out.columns) == list(frames[0].columns)
    assert out.groupby("query_id")[score].apply(
        lambda s: s.isna().sum()).max() <= k
    if case == "knn":
        assert set(out.groupby("query_id").size()) == {5}
    for q, ids in hand.items():
        want = set(ids)
        if case == "ties" and margin:
            want |= {9, 2}  # score 1.0 and 1.0 + 1e-6 sit within 2e-6
        assert set(out.loc[out["query_id"] == q, tie]) == want
