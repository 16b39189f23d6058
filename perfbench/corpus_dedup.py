"""The corpus part of batch_jobs: the training-data operators — MinHash LSH candidates and
verified n-gram Jaccard pairs over documents with planted duplicates, batch
embedding top-k with perturbed-copy queries, and DCT perceptual hashes plus
banded hamming pairs over a sample of the table's images with planted
byte-identical copies.  Checks are invariants: planted pairs are found,
every reported pair's score is recomputed on the driver."""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

from .core import Op, Workload, expect

SHINGLE = 5
JACCARD = 0.2
TOPK = 10
HAMMING = 3
#: share of queries whose planted source must rank first
TOP1_RECALL = 0.9


def _shingles(text: str) -> set[str]:
    return {text[i:i + SHINGLE] for i in range(len(text) - SHINGLE + 1)}


class CorpusDedup(Workload):
    name = "corpus_dedup"

    def prepare_inputs(self, spark) -> None:
        from .inputs import ensure_corpus

        self.meta = ensure_corpus(self.ctx.cache, self.ctx.size, self.ctx.seed)
        self.dir = os.path.join(self.ctx.cache.seed_dir(self.ctx.seed), "corpus")
        docs = pq.read_table(os.path.join(self.dir, "docs")).to_pandas()
        self.texts = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
        emb = pq.read_table(os.path.join(self.dir, "emb")).to_pandas()
        e = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        self.emb = e / np.linalg.norm(e, axis=1, keepdims=True)
        q = pq.read_table(os.path.join(self.dir, "queries")).to_pandas()
        qv = np.stack(q["qvec"].to_numpy()).astype(np.float64)
        self.qvec = qv / np.linalg.norm(qv, axis=1, keepdims=True)
        self.exact_pairs = {tuple(p) for p in self.meta["exact_pairs"]}
        self.dup_pairs = {tuple(p) for p in self.meta["dup_pairs"]}

    def open(self, spark) -> None:
        from openpoiservice_spark.operators import ann

        self.docs = spark.read.parquet(os.path.join(self.dir, "docs"))
        self.vecs = spark.read.parquet(os.path.join(self.dir, "emb"))
        self.queries = spark.read.parquet(os.path.join(self.dir, "queries"))
        self.images = spark.read.parquet(os.path.join(self.dir, "images"))
        self.planes = ann.hyperplanes(ann.auto_planes(len(self.emb), 64), 64, 13)
        self.last: dict = {}

    def warm_up(self) -> None:
        from openpoiservice_spark.operators import ann

        ann.batch_topk(self.vecs.limit(200), self.queries.limit(5), k=TOPK,
                       planes=self.planes).collect()

    # ------------------------------------------------------------- ops

    def lsh(self):
        from openpoiservice_spark.operators import text

        out = {(int(r.doc_a), int(r.doc_b)) for r in text.lsh_candidate_pairs(self.docs).collect()}
        self.last["candidates"] = len(out)
        return out

    def jaccard(self):
        from openpoiservice_spark.operators import text

        out = [(int(r.doc_a), int(r.doc_b), float(r.jaccard))
               for r in text.ngram_jaccard_pairs(self.docs, threshold=JACCARD).collect()]
        self.last["verified"] = len(out)
        return out

    def topk(self):
        from openpoiservice_spark.operators import ann

        return ann.batch_topk(self.vecs, self.queries, k=TOPK, planes=self.planes).collect()

    def phash(self):
        from openpoiservice_spark.operators import images

        return {r.image_id: int(r.dct_phash) for r in images.dct_phash(self.images).collect()}

    def hamming(self):
        from openpoiservice_spark.operators import images

        hashed = images.dct_phash(self.images)
        return images.hamming_pairs(hashed, col="dct_phash", key="image_id",
                                    max_dist=HAMMING).collect()

    # ----------------------------------------------------------- checks

    def _check_lsh(self, pairs) -> None:
        expect(self.exact_pairs <= pairs, "an exact duplicate pair is not a candidate")
        expect(all(0 <= a < b < len(self.texts) for a, b in pairs), "malformed candidate pair")

    def _check_jaccard(self, out) -> None:
        found = {(a, b) for a, b, _ in out}
        expect(self.exact_pairs <= found, "an exact duplicate pair was not verified")
        for a, b, j in out:
            sa, sb = _shingles(self.texts[a]), _shingles(self.texts[b])
            true = len(sa & sb) / len(sa | sb)
            expect(abs(true - j) < 1e-9 and j >= JACCARD, f"pair {a},{b}: jaccard {j} != {true}")

    def _check_topk(self, out) -> None:
        by_q: dict[int, list[tuple[int, float]]] = {}
        for r in out:
            by_q.setdefault(int(r.query_id), []).append((int(r.vec_id), float(r.cosine)))
        expect(len(by_q) == len(self.qvec), "a query has no answer")
        top1 = 0
        for q, hits in by_q.items():
            expect(len(hits) == TOPK, f"query {q} has {len(hits)} answers")
            ids = np.array([v for v, _ in hits])
            cos = self.emb[ids] @ self.qvec[q]
            expect(np.allclose(cos, [c for _, c in hits], atol=1e-5), f"query {q}: cosine differs")
            top1 += max(hits, key=lambda h: h[1])[0] == self.meta["query_src"][q]
        expect(top1 >= TOP1_RECALL * len(self.qvec),
               f"planted source ranked first for {top1} of {len(self.qvec)} queries")

    def _check_phash(self, out) -> None:
        expect(len(out) == self.meta["n_images"], f"{len(out)} hashes for {self.meta['n_images']}")
        for a, b in self.dup_pairs:
            expect(out[a] == out[b], f"identical images {a}, {b} hash differently")

    def _check_hamming(self, out) -> None:
        found = {tuple(sorted((r.key_a, r.key_b))) for r in out}
        expect(self.dup_pairs <= found, "a planted image duplicate was not paired")
        expect(all(0 <= r.hamming <= HAMMING for r in out), "pair beyond the hamming bound")

    def pass_ops(self) -> list[Op]:
        n_docs, n_vec, n_img = len(self.texts), len(self.emb), self.meta["n_images"]
        return [
            Op("text.lsh_candidates", "operators.text", self.lsh, self._check_lsh, rows=n_docs),
            Op("text.jaccard_pairs", "operators.text", self.jaccard, self._check_jaccard,
               rows=n_docs),
            Op("ann.batch_topk", "operators.ann", self.topk, self._check_topk, rows=n_vec),
            Op("images.dct_phash", "operators.images", self.phash, self._check_phash,
               rows=n_img),
            Op("images.hamming_pairs", "operators.images", self.hamming, self._check_hamming,
               rows=n_img),
        ]

    def layer_counts(self) -> dict[str, float]:
        cand = self.last.get("candidates", 0)
        return {"operators.text.verified_per_candidate":
                self.last.get("verified", 0) / cand if cand else 0.0}
