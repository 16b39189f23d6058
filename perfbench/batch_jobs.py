"""batch_jobs: the engine's batch work in one closed loop — the spatial
join and tile-assignment jobs of `tile_join_batch`, the dedup operators of
`corpus_dedup`, and the import / append / compaction / merge writes of
`ingest_update`.  None of it is a request: the request path's fixed costs
are amortized here, and `poi_requests` is the workload that has them."""

from __future__ import annotations

import time

from .core import Op, Workload
from .corpus_dedup import CorpusDedup
from .ingest_update import IngestUpdate
from .tile_join_batch import TileJoinBatch


class BatchJobs(Workload):
    name = "batch_jobs"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.parts = [TileJoinBatch(ctx), CorpusDedup(ctx), IngestUpdate(ctx)]

    def prepare_inputs(self, spark) -> None:
        for p in self.parts:
            p.prepare_inputs(spark)

    def stage(self) -> None:
        for p in self.parts:
            p.stage()

    def open(self, spark) -> None:
        for p in self.parts:
            p.open(spark)

    def warm_up(self) -> None:
        self.warm_s = {}
        for p in self.parts:
            t0 = time.perf_counter()
            p.warm_up()
            self.warm_s[p.name] = time.perf_counter() - t0

    def pass_ops(self) -> list[Op]:
        return [op for part in self.parts for op in part.pass_ops()]

    def layer_counts(self) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.layer_counts().items()}
