"""The write part of batch_jobs: the write side of the prepare layer.  One
pass imports a seeded slice of the read table's raw rows into an empty
prepared table, then runs rounds of (streamed append, compaction of the
files the import and the append left, merge of upserts and deletes,
visibility-check requests).  Each write is read back: appended, upserted
and deleted keys, and the live row count."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pyarrow.parquet as pq

from .core import Op, Workload, expect
from .inputs import Rows, dir_bytes, files_per_pcell, ingest_path
from .poi_requests import check_features, matches

PROBE_BUFFER_M = 40.0


class IngestUpdate(Workload):
    name = "ingest_update"

    def prepare_inputs(self, spark) -> None:
        from .inputs import ensure_updates

        seed = self.ctx.seed
        self.meta = ensure_updates(self.ctx.cache, self.ctx.size, seed)
        self.slice_dir = ingest_path(self.ctx.cache, seed, "slice")
        read = lambda name: pq.read_table(ingest_path(self.ctx.cache, seed, name)).to_pandas()  # noqa: E731
        # the live rows expected after each step of a pass
        live = Rows.from_raw(read("slice"))
        self.states = {"import": live}
        self.appended, self.moved_rows = [], []
        for r, rnd in enumerate(self.meta["rounds"]):
            app = Rows.from_raw(read(f"append-{r}"))
            live = live.upsert(app)
            self.states[f"append-{r}"] = live
            self.appended.append(app)
            ups = Rows.from_raw(read(f"upsert-{r}"))
            live = live.upsert(ups).drop(rnd["deletes"])
            self.states[f"merge-{r}"] = live
            moved = set(rnd["moved"])
            self.moved_rows.append([(int(i), x, y) for i, x, y in
                                    zip(ups.osm_id, ups.lon, ups.lat) if int(i) in moved])
        self.counts: dict[str, float] = {}
        self.warm_prepared = self._warm_base(spark)

    def _warm_base(self, spark) -> str:
        """A 300-row prepared table, built once per world table: each open
        is preceded by an untimed copy of it, and opens an engine on the copy;
        its raw rows feed the warm-up."""
        from openpoiservice_spark import prepare

        from .inputs import world_head

        base = os.path.join(self.ctx.cache.world, "ingest-warm")
        self.warm_raw = world_head(self.ctx.cache, 300)
        self.warm_raw_dir = os.path.join(base, "raw")
        if not os.path.exists(os.path.join(base, "OK")):
            shutil.rmtree(base, ignore_errors=True)
            os.makedirs(self.warm_raw_dir)
            self.warm_raw.to_parquet(os.path.join(self.warm_raw_dir, "part-0.parquet"), index=False)
            prepare.prepare(spark, self.warm_raw_dir, os.path.join(base, "prepared"), resume=False)
            open(os.path.join(base, "OK"), "w").close()
        return os.path.join(base, "prepared")

    def stage(self) -> None:
        self.warm_dir = os.path.join(self.ctx.cache.scratch("ingest-warm"), "prepared")
        shutil.copytree(self.warm_prepared, self.warm_dir)

    def open(self, spark) -> None:
        from openpoiservice_spark.api import PoiEngine

        self.spark = spark
        self.warm_engine = PoiEngine(spark, self.warm_dir)

    def warm_up(self) -> None:
        """One small pass of every write path and a request, so the window
        does not pay Python worker start, code generation and the JIT
        warming of the import, stream, compaction and merge paths."""
        from openpoiservice_spark import prepare, streaming

        self.warm_engine.request(self._probe_payloads(0)[0])
        base = self.ctx.cache.scratch("ingest-warm-pass")
        pdir, stream_raw = os.path.join(base, "prepared"), os.path.join(base, "stream-raw")
        os.makedirs(stream_raw)
        prepare.prepare(self.spark, self.warm_raw_dir, pdir, resume=False)
        shutil.copy(os.path.join(ingest_path(self.ctx.cache, self.ctx.seed, "append-0"),
                                 "part-0.parquet"), stream_raw)
        streaming.stream_prepare(self.spark, stream_raw, pdir,
                                 os.path.join(base, "checkpoint")).stop()
        prepare.compact(self.spark, pdir)
        prepare.merge(self.spark, pdir, self.spark.createDataFrame(self.warm_raw.head(20)),
                      [(1, 1)])

    # ------------------------------------------------------------- ops

    def _fresh_dirs(self) -> None:
        base = self.ctx.cache.scratch("ingest-pass")
        self.pdir = os.path.join(base, "prepared")
        self.stream_raw = os.path.join(base, "stream-raw")
        self.ckpt = os.path.join(base, "checkpoint")
        os.makedirs(self.stream_raw)

    def _import(self):
        from openpoiservice_spark import prepare

        return prepare.prepare(self.spark, self.slice_dir, self.pdir, resume=False)

    def _stage_append(self, r: int) -> None:
        src = ingest_path(self.ctx.cache, self.ctx.seed, f"append-{r}")
        shutil.copy(os.path.join(src, "part-0.parquet"),
                    os.path.join(self.stream_raw, f"append-{r}.parquet"))

    def _append(self):
        from openpoiservice_spark import streaming

        q = streaming.stream_prepare(self.spark, self.stream_raw, self.pdir, self.ckpt)
        q.stop()

    def _merge(self, r: int):
        from openpoiservice_spark import prepare

        ups = self.spark.read.parquet(ingest_path(self.ctx.cache, self.ctx.seed, f"upsert-{r}"))
        dels = [(1, k) for k in self.meta["rounds"][r]["deletes"]]
        return prepare.merge(self.spark, self.pdir, ups, dels)

    def _requests(self, r: int):
        from openpoiservice_spark.api import PoiEngine

        eng = PoiEngine(self.spark, self.pdir)
        return [eng.request(p) for p in self._probe_payloads(r)]

    def _probe_payloads(self, r: int) -> list[dict]:
        _, x, y = self.moved_rows[r][0]
        gone = self.states[f"append-{r}"]
        key = self.meta["rounds"][r]["deletes"][0]
        i = int((gone.osm_id == key).nonzero()[0][0])
        return [{"request": "pois", "limit": 2000,
                 "geometry": {"geojson": {"type": "Point", "coordinates": [float(px), float(py)]},
                              "buffer": PROBE_BUFFER_M}}
                for px, py in ((x, y), (gone.lon[i], gone.lat[i]))]

    def _compact(self):
        from openpoiservice_spark import prepare

        return prepare.compact(self.spark, self.pdir)

    # ----------------------------------------------------------- checks

    def _live_ids(self, ids) -> pd.DataFrame:
        from pyspark.sql import functions as F

        from openpoiservice_spark import prepare

        return (prepare.read_prepared(self.spark, self.pdir)
                .filter(F.col("osm_id").isin([int(i) for i in ids]))
                .select("osm_id", "lon", "lat").toPandas())

    def _count(self) -> int:
        from openpoiservice_spark import prepare

        return prepare.read_prepared(self.spark, self.pdir).count()

    def _check_import(self, out) -> None:
        want = len(self.states["import"])
        expect(out["rows"] == want, f"import wrote {out['rows']} rows, expected {want}")

    def _check_append(self, r: int) -> None:
        app = self.appended[r]
        got = self._live_ids(app.osm_id)
        expect(len(got) == len(app), f"{len(got)} of {len(app)} appended rows readable")
        want = len(self.states[f"append-{r}"])
        n = self._count()
        expect(n == want, f"table holds {n} rows, expected {want}")

    def _check_merge(self, r: int) -> None:
        moved = self.moved_rows[r]
        got = self._live_ids([i for i, _, _ in moved]).set_index("osm_id")
        for i, x, y in moved:
            expect(i in got.index and abs(got.at[i, "lon"] - x) < 1e-9
                   and abs(got.at[i, "lat"] - y) < 1e-9, f"upsert of {i} not visible")
        dels = self.meta["rounds"][r]["deletes"]
        expect(self._live_ids(dels).empty, "a deleted key is still readable")
        want = len(self.states[f"merge-{r}"])
        n = self._count()
        expect(n == want, f"table holds {n} rows after merge, expected {want}")

    def _check_requests(self, r: int, out) -> None:
        live = self.states[f"merge-{r}"]
        for payload, fc in zip(self._probe_payloads(r), out):
            ids, dist = matches(live, payload)
            check_features(fc, ids, dist)

    def _check_compact(self, r: int, out) -> None:
        live = self.states[f"append-{r}"]
        n = self._count()
        expect(n == len(live), f"compaction left {n} rows, expected {len(live)}")
        expect(0 < out["files_after"] < out["files_before"], f"compaction folded nothing: {out}")
        self.counts["prepare.storage_bytes_per_user_byte"] = (
            dir_bytes(self.pdir) / float(live.user_bytes.sum()))

    def _note_files_per_pcell(self) -> None:
        self.counts["prepare.files_per_pcell"] = files_per_pcell(self.pdir)

    def pass_ops(self) -> list[Op]:
        ops = [Op("prepare.import", "prepare", self._import, self._check_import,
                  rows=len(self.states["import"]), before=self._fresh_dirs)]
        for r in range(len(self.meta["rounds"])):
            ops += [
                Op("streaming.append", "streaming", self._append,
                   lambda _, r=r: self._check_append(r), rows=len(self.appended[r]),
                   before=lambda r=r: self._stage_append(r)),
                Op("prepare.compact", "prepare", self._compact,
                   lambda out, r=r: self._check_compact(r, out),
                   rows=len(self.states[f"append-{r}"]), before=self._note_files_per_pcell),
                Op("prepare.merge", "prepare", lambda r=r: self._merge(r),
                   lambda _, r=r: self._check_merge(r), rows=self.ctx.size.upserts),
                Op("api.visibility", "api", lambda r=r: self._requests(r),
                   lambda out, r=r: self._check_requests(r, out),
                   rows=lambda out: sum(len(fc["features"]) for fc in out)),
            ]
        return ops

    def layer_counts(self) -> dict[str, float]:
        return dict(self.counts)
