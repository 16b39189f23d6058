"""The tile/join part of batch_jobs: spatial-join and tile-assignment batch jobs on the read
table — corridor cover + refine -> tile histogram, payload filter -> pixel
decode, full-table heatmaps, a many-geometry batch join, batch kNN and
single-point kNN.  Geometries and probes come from the seed; every output
is checked against numpy counts and distances over the table's rows."""

from __future__ import annotations

import numpy as np

from .core import Op, Workload, expect
from .inputs import CLUSTERS, REGION

CORRIDOR_RES = 12
TILE_Z = 14
KNN_K = 10
KNN1_K = 100
#: rows the corridor selects and (box, row) pairs the batch join finds, as
#: shares of the table: the seed draws the shapes, their size is then
#: fitted to these, so the work per pass is alike across seeds
CORRIDOR_SHARE = 0.15
JOIN_PAIR_SHARE = 0.5


def _topk_dist(rows, lon: float, lat: float, k: int) -> np.ndarray:
    from openpoiservice_spark import geo

    d = geo.haversine_m(rows.lon, rows.lat, lon, lat)
    return np.sort(d)[:k]


class TileJoinBatch(Workload):
    name = "tile_join_batch"

    def prepare_inputs(self, spark) -> None:
        from openpoiservice_spark import geo

        from .inputs import seed_cached

        plan = seed_cached(self.ctx.cache, self.ctx.seed, "tile_join", self._plan)
        self.line = geo.GeomSpec("linestring", plan["line"])
        for k in ("buffer_m", "corridor_n", "corridor_px", "geoms", "geom_counts",
                  "probes", "probe_kth", "knn1", "knn1_dist"):
            setattr(self, k, plan[k])

    def _plan(self) -> dict:
        """The seed's corridor, join boxes and probes, with their oracle
        answers from numpy scans of the table's rows."""
        from openpoiservice_spark import geo

        rows, size = self.ctx.rows, self.ctx.size
        rng = np.random.default_rng([self.ctx.seed, 4])
        a, b, c = CLUSTERS[rng.choice(len(CLUSTERS), 3, replace=False)]
        line_pts = [a, (a + b) / 2 + rng.normal(0, 0.05, 2), b, c]
        line = geo.GeomSpec("linestring", line_pts)
        # the buffer halfway between the n-th and (n+1)-th nearest rows
        d = np.sort(line.distance_m(rows.lon, rows.lat))
        n = int(CORRIDOR_SHARE * len(rows))
        buffer_m = float((d[n - 1] + d[n]) / 2)
        inside = line.within_m(rows.lon, rows.lat, buffer_m)

        centres = CLUSTERS[rng.integers(0, len(CLUSTERS), size.geoms)] \
            + rng.normal(0, 0.03, (size.geoms, 2))
        halves = np.column_stack([rng.uniform(0.005, 0.05, size.geoms),
                                  rng.uniform(0.003, 0.03, size.geoms)])

        def pairs(k: float) -> int:
            lo, hi = centres - k * halves, centres + k * halves
            return sum(int(((rows.lon >= x0) & (rows.lon <= x1)
                            & (rows.lat >= y0) & (rows.lat <= y1)).sum())
                       for (x0, y0), (x1, y1) in zip(lo, hi))

        k_lo, k_hi, want = 0.05, 3.0, int(JOIN_PAIR_SHARE * len(rows))
        for _ in range(20):
            k_mid = (k_lo + k_hi) / 2
            k_lo, k_hi = (k_mid, k_hi) if pairs(k_mid) < want else (k_lo, k_mid)
        geoms = [(gid, (*(c - k_hi * hv), *(c + k_hi * hv)))
                 for gid, (c, hv) in enumerate(zip(centres, halves))]
        geom_counts = {}
        for gid, bb in geoms:
            n = int(geo.bbox_spec(*bb).within_m(rows.lon, rows.lat, 0.0).sum())
            if n:
                geom_counts[gid] = n

        nc = size.probes // 2
        centres = CLUSTERS[rng.integers(0, len(CLUSTERS), nc)]
        probes = np.concatenate([
            centres + rng.normal(0, 0.02, (nc, 2)),
            np.column_stack([rng.uniform(REGION[0], REGION[2], size.probes - nc),
                             rng.uniform(REGION[1], REGION[3], size.probes - nc)]),
        ])
        knn1 = CLUSTERS[rng.integers(0, len(CLUSTERS))] + rng.normal(0, 0.01, 2)
        return {
            "line": [[float(x), float(y)] for x, y in line_pts],
            "buffer_m": buffer_m,
            "corridor_n": int(inside.sum()),
            "corridor_px": int((rows.w[inside] * rows.h[inside]).sum()),
            "geoms": geoms,
            "geom_counts": geom_counts,
            "probes": probes,
            "probe_kth": [_topk_dist(rows, x, y, KNN_K) for x, y in probes],
            "knn1": knn1,
            "knn1_dist": _topk_dist(rows, *knn1, KNN1_K),
        }

    def open(self, spark) -> None:
        import pandas as pd
        from pyspark.sql import functions as F

        from openpoiservice_spark import batchjoin, cells, geo, prepare
        from openpoiservice_spark.functions import cell_parent_sql, isin_expr, make_refine_udf

        self.pois = prepare.read_prepared(spark, self.ctx.prepared)
        self.pcell_rows = prepare.load_pcell_stats(spark, self.ctx.prepared)
        cover = cells.cover_geometry(self.line, self.buffer_m, CORRIDOR_RES)
        pcover = np.unique(cells.cell_parent(cover, cells.PARTITION_RES)).tolist()
        qcell = cell_parent_sql("cell", cells.DEFAULT_RES, CORRIDOR_RES)
        refine = make_refine_udf(self.line, self.buffer_m, None)
        x0, y0, x1, y1 = self.line.buffered_bounds(self.buffer_m)
        in_range = ((F.col("lon") >= float(x0)) & (F.col("lon") <= float(x1))
                    & (F.col("lat") >= float(y0)) & (F.col("lat") <= float(y1)))
        self.prefilter = lambda d: d.filter(isin_expr("pcell", pcover)).filter(in_range)
        self.corridor = lambda d: (self.prefilter(d)
                                   .filter(isin_expr(qcell, cover.tolist()))
                                   .filter(refine(F.col("lon"), F.col("lat"))))
        self.points = self.pois.select(F.col("osm_id").alias("poi_id"), "lon", "lat")
        self.gdf = batchjoin.geoms_to_df(
            spark, [(gid, geo.bbox_spec(*bb), 0.0) for gid, bb in self.geoms])
        self.qdf = spark.createDataFrame(pd.DataFrame({
            "query_id": np.arange(len(self.probes), dtype=np.int64),
            "qlon": self.probes[:, 0], "qlat": self.probes[:, 1]}), batchjoin.KNN_QUERY_SCHEMA)
        self.knn_stats: dict = {}
        self.batch_knn_stats: dict = {}

    def warm_up(self) -> None:
        self.corridor(self.pois.select("osm_id", "lon", "lat", "pcell", "cell")).limit(10).collect()

    def _pixels(self, df):
        from pyspark.sql import functions as F

        from openpoiservice_spark import tiles

        return tiles.tile_pixel_stats(df, TILE_Z).agg(
            F.sum("px_count").alias("px"), F.countDistinct("image_id").alias("n"))

    # ------------------------------------------------------------- ops

    def corridor_tiles(self):
        from pyspark.sql import functions as F

        from openpoiservice_spark import tiles

        hits = self.corridor(self.pois).select("osm_id", "lon", "lat", "w", "h")
        return int(tiles.tile_histogram(hits, TILE_Z).agg(F.sum("total_px")).first()[0] or 0)

    def corridor_pixels(self):
        from openpoiservice_spark import tiles

        hits = tiles.filter_payload(self.pois, meta_filter=self.corridor,
                                    payload_prefilter=self.prefilter)
        r = self._pixels(hits).first()
        return int(r["px"] or 0), int(r["n"])

    def heatmaps(self):
        from pyspark.sql import functions as F

        from openpoiservice_spark import tiles

        r = tiles.tile_heatmaps(self.pois.select("lon", "lat"), z=10).agg(
            F.sum("n_points").alias("n"), F.count("*").alias("tiles")).first()
        return int(r["n"]), int(r["tiles"])

    def join_counts(self):
        from openpoiservice_spark import batchjoin

        return {int(r.geom_id): int(r.n_pois) for r in
                batchjoin.batch_join_counts(self.points, self.gdf, res=CORRIDOR_RES).collect()}

    def batch_knn(self):
        from openpoiservice_spark import batchjoin

        self.batch_knn_stats = {}
        return batchjoin.batch_knn(self.points, self.qdf, k=KNN_K, res=TILE_Z,
                                   pcell_rows=self.pcell_rows,
                                   probe_stats=self.batch_knn_stats).collect()

    def knn(self):
        from openpoiservice_spark import knn

        self.knn_stats = {}
        return knn.knn(self.pois.drop("bytes", "caption"), float(self.knn1[0]),
                       float(self.knn1[1]), KNN1_K, pcell_rows=self.pcell_rows,
                       probe_stats=self.knn_stats).collect()

    def _check_batch_knn(self, out) -> None:
        by_q: dict[int, list[float]] = {}
        for r in out:
            by_q.setdefault(int(r.query_id), []).append(float(r.distance))
        expect(len(by_q) == len(self.probes), f"{len(by_q)} of {len(self.probes)} probes answered")
        for q, kth in enumerate(self.probe_kth):
            expect(np.allclose(sorted(by_q[q]), kth, rtol=1e-9, atol=1e-6),
                   f"probe {q}: distances differ from the brute-force top-{KNN_K}")

    def pass_ops(self) -> list[Op]:
        n = len(self.ctx.rows)
        return [
            Op("tiles.corridor_histogram", "tiles", self.corridor_tiles,
               lambda out: expect(out == self.corridor_px,
                                  f"{out} pixels in corridor tiles, expected {self.corridor_px}"),
               rows=n),
            Op("tiles.corridor_pixels", "tiles", self.corridor_pixels,
               lambda out: expect(out == (self.corridor_px, self.corridor_n),
                                  f"pixels/images {out} != {(self.corridor_px, self.corridor_n)}"),
               rows=n),
            Op("tiles.heatmaps", "tiles", self.heatmaps,
               lambda out: expect(out[0] == n, f"heatmaps hold {out[0]} points, expected {n}"),
               rows=n),
            Op("batchjoin.join_counts", "batchjoin", self.join_counts,
               lambda out: expect(out == self.geom_counts, "per-geometry counts differ"),
               rows=n),
            Op("batchjoin.batch_knn", "batchjoin", self.batch_knn, self._check_batch_knn,
               rows=n),
            Op("knn.knn", "knn", self.knn,
               lambda out: expect(np.allclose(sorted(float(r.distance) for r in out),
                                              self.knn1_dist, rtol=1e-9, atol=1e-6),
                                  "kNN distances differ from the brute-force top-k"),
               rows=n),
        ]

    def layer_counts(self) -> dict[str, float]:
        return {"batchjoin.knn_jobs": float(self.batch_knn_stats.get("rounds", 0)),
                "knn.jobs": float(self.knn_stats.get("probes", 0))}
