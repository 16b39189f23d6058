"""Raster↔vector tile assignment — the graft's image axis (north_rule:
"raster↔vector tile assignment that bins image pixels into zoom-level tiles").

Model: each row's w×h image is a raster centred on the row's point on the
zoom-z global pixel grid (256 px per tile, slippy-map convention).  The
raster therefore overlaps at most 4 tiles; the per-tile pixel count is a
closed-form interval overlap.

Two operators:

  * `assign_tiles`      — pixel COUNTS per (z, tx, ty).  Pure native column
                          math (floor/least/greatest inside whole-stage
                          codegen) — no UDF, no decode, and the identical
                          arithmetic runs in the DuckDB oracle.
  * `tile_pixel_stats`  — adds decoded-pixel aggregates (sum of intensities
                          over the overlapping sub-rectangle) via an
                          Arrow-batched pandas UDF that decodes `bytes`.
                          This is the only operator that reads the binary
                          column (SURVEY.md §7: binary payload discipline).

The slippy formulas mirror the reference-era tile math used by every OSM
stack; the reference itself has no raster path (it serves vector GeoJSON) —
this is the graft axis B extension (FIXTURES.md §3 fixes the golden).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import imaging


def _mercator_cols(lon, lat):
    xn = (lon + 180.0) / 360.0
    t = F.tan(F.radians(lat))
    yn = (F.lit(1.0) - F.log(t + F.sqrt(t * t + 1.0)) / F.lit(math.pi)) / 2.0
    return xn, yn


def assign_tiles(df: DataFrame, z: int) -> DataFrame:
    """Explode each row into its ≤4 (z, tx, ty, px_count) tile assignments.

    Input requires columns lon, lat, w, h (+ any carried columns).  All math
    is native columns: global top-left pixel gx0/gy0, then per-axis interval
    overlap with the two candidate tiles, cross-joined via a 2×2 literal
    array and filtered to px_count > 0.
    """
    xn, yn = _mercator_cols(F.col("lon"), F.col("lat"))
    scale = float((1 << z) * 256)
    gx0 = F.floor(xn * scale - F.col("w") / 2.0).cast("long")
    gy0 = F.floor(yn * scale - F.col("h") / 2.0).cast("long")

    def axis(g0, extent):
        # clamp the pixel interval to the grid [0, 2^z*256): above ~85°N the
        # mercator y goes negative — tile ids must stay in [0, 2^z) like
        # functions.tile_expr; clipped pixels emit no tile rows
        g0c = F.greatest(F.least(g0, F.lit(int(scale))), F.lit(0))
        g1c = F.greatest(F.least(g0 + extent.cast("long"), F.lit(int(scale))), F.lit(0))
        ext = g1c - g0c
        tA = F.floor(g0c / 256.0).cast("long")
        nA = F.least((tA + 1) * 256 - g0c, ext)
        return tA, nA, tA + 1, ext - nA

    txA, nxA, txB, nxB = axis(gx0, F.col("w"))
    tyA, nyA, tyB, nyB = axis(gy0, F.col("h"))
    spans = F.array(
        F.struct(txA.alias("tx"), tyA.alias("ty"), (nxA * nyA).alias("px_count"),
                 gx0.alias("gx0"), gy0.alias("gy0")),
        F.struct(txB.alias("tx"), tyA.alias("ty"), (nxB * nyA).alias("px_count"),
                 gx0.alias("gx0"), gy0.alias("gy0")),
        F.struct(txA.alias("tx"), tyB.alias("ty"), (nxA * nyB).alias("px_count"),
                 gx0.alias("gx0"), gy0.alias("gy0")),
        F.struct(txB.alias("tx"), tyB.alias("ty"), (nxB * nyB).alias("px_count"),
                 gx0.alias("gx0"), gy0.alias("gy0")),
    )
    out = df.withColumn("tile", F.explode(spans))
    out = out.filter(F.col("tile.px_count") > 0)
    return out.select(
        *df.columns,
        F.lit(z).alias("z"),
        F.col("tile.tx").alias("tx"),
        F.col("tile.ty").alias("ty"),
        F.col("tile.px_count").alias("px_count"),
        F.col("tile.gx0").alias("gx0"),
        F.col("tile.gy0").alias("gy0"),
    )


_PIX_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("z", T.IntegerType()),
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("px_count", T.LongType()),
        T.StructField("sum_intensity", T.DoubleType()),
        T.StructField("mean_intensity", T.DoubleType()),
    ]
)


def filter_payload(pois: DataFrame, meta_filter,
                   payload_cols=("image_id", "bytes", "fmt", "lon", "lat", "w", "h"),
                   key: str = "image_id", payload_prefilter=None) -> DataFrame:
    """Select the payload rows that pass `meta_filter` in ONE scan.

    `meta_filter`: callable(df) -> filtered DataFrame (the cover prefilter
    plus the native refine); `payload_prefilter`: optional callable for
    extra JVM pruning predicates (pcell partition filter, pushed lon/lat
    ranges).  Every predicate is a native expression, so `bytes` meets
    only JVM filters until it crosses Arrow once into the decode operator.
    `key` is unused; it stays for callers that pass it."""
    if payload_prefilter is not None:
        pois = payload_prefilter(pois)
    return meta_filter(pois).select(*payload_cols)


def tile_pixel_stats(df: DataFrame, z: int, on_error: str = "fail") -> DataFrame:
    """Decode each image once and aggregate pixel intensities per overlapped
    tile sub-rectangle.

    One mapInPandas over image rows: the binary column crosses the Arrow
    boundary exactly once per image (tile spans are recomputed in numpy
    inside the UDF rather than exploded beforehand — an upstream explode
    would ship `bytes` up to 4x).  Output: <= 4 (z, tx, ty) rows per image.
    """
    src = df.select("image_id", "bytes", "fmt", "lon", "lat", "w", "h")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            lon = b["lon"].to_numpy()
            lat = b["lat"].to_numpy()
            w = b["w"].to_numpy()
            h = b["h"].to_numpy()
            gx0, gy0, (txA, nxA, _txB, nxB, offx), (tyA, nyA, _tyB, nyB, offy) = (
                imaging.raster_tile_spans(lon, lat, w, h, z)
            )
            ids = b["image_id"].to_numpy()
            raws = b["bytes"].to_numpy()
            fmts = b["fmt"].to_numpy()
            out = {k: [] for k in
                   ("image_id", "z", "tx", "ty", "px_count", "sum_intensity", "mean_intensity")}
            from .operators.images import _decode_or_none

            for i in range(len(b)):
                px = _decode_or_none(raws[i], fmts[i], on_error)
                if px is None:
                    continue
                inten = px.mean(axis=2, dtype=np.float64)
                # image-space split indices: grid-clipped pixels (offx/offy
                # below the grid edge, anything past the clamped interval
                # above it) fall outside every slice and emit no tile rows
                x0 = int(offx[i])
                sx = x0 + int(nxA[i])
                x1 = sx + int(nxB[i])
                y0 = int(offy[i])
                sy = y0 + int(nyA[i])
                y1 = sy + int(nyB[i])
                for tx, x_lo, x_hi in ((int(txA[i]), x0, sx), (int(txA[i]) + 1, sx, x1)):
                    if x_lo >= x_hi:
                        continue
                    for ty, y_lo, y_hi in ((int(tyA[i]), y0, sy), (int(tyA[i]) + 1, sy, y1)):
                        if y_lo >= y_hi:
                            continue
                        sub = inten[y_lo:y_hi, x_lo:x_hi]
                        out["image_id"].append(ids[i])
                        out["z"].append(z)
                        out["tx"].append(tx)
                        out["ty"].append(ty)
                        out["px_count"].append(sub.size)
                        out["sum_intensity"].append(float(sub.sum()))
                        out["mean_intensity"].append(float(sub.mean()))
            yield pd.DataFrame(out)

    return src.mapInPandas(run, schema=_PIX_SCHEMA)


def tile_histogram(df: DataFrame, z: int) -> DataFrame:
    """Aggregate: total pixels + images per tile — the headline rollup after
    the spatial join (partial aggregation is automatic; grouping key is the
    tile id so the shuffle carries only (tile, partials))."""
    return (
        assign_tiles(df, z)
        .groupBy("z", "tx", "ty")
        .agg(
            F.count("*").alias("n_images"),
            F.sum("px_count").alias("total_px"),
        )
    )


_PYR_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("z", T.IntegerType()),
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("px_count", T.LongType()),
        T.StructField("sum_intensity", T.DoubleType()),
        T.StructField("std_lum", T.DoubleType()),
        T.StructField("hist0", T.LongType()),
    ]
)


def tile_pyramid_features(df: DataFrame, zooms: tuple[int, ...] = (10, 14),
                          on_error: str = "fail") -> DataFrame:
    """Multi-zoom tile assignment + per-image features in ONE decode pass.

    The production shape of the raster stage: a tile pyramid is built for
    several zoom levels at once (decode dominates, so amortizing it across
    zooms is the right batch layout), with per-image quality features
    (luminance std, histogram) extracted from the same decoded array.
    `bytes` crosses the Arrow boundary exactly once per image.
    """
    src = df.select("image_id", "bytes", "fmt", "lon", "lat", "w", "h")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            lon = b["lon"].to_numpy()
            lat = b["lat"].to_numpy()
            w = b["w"].to_numpy()
            h = b["h"].to_numpy()
            spans = {
                z: imaging.raster_tile_spans(lon, lat, w, h, z) for z in zooms
            }
            ids = b["image_id"].to_numpy()
            raws = b["bytes"].to_numpy()
            fmts = b["fmt"].to_numpy()
            out = {k: [] for k in ("image_id", "z", "tx", "ty", "px_count",
                                   "sum_intensity", "std_lum", "hist0")}
            from .operators.images import _decode_or_none

            for i in range(len(b)):
                px = _decode_or_none(raws[i], fmts[i], on_error)
                if px is None:
                    continue
                lum = px.astype(np.float64).mean(axis=2)
                std = float(lum.std())
                hist, _ = np.histogram(lum, bins=8, range=(0.0, 256.0))
                h0 = int(hist[0])
                for z in zooms:
                    _gx0, _gy0, (txA, nxA, _txB, nxB, offx), (tyA, nyA, _tyB, nyB, offy) = spans[z]
                    x0 = int(offx[i])
                    sx = x0 + int(nxA[i])
                    x1 = sx + int(nxB[i])
                    y0 = int(offy[i])
                    sy = y0 + int(nyA[i])
                    y1 = sy + int(nyB[i])
                    for tx, x_lo, x_hi in ((int(txA[i]), x0, sx), (int(txA[i]) + 1, sx, x1)):
                        if x_lo >= x_hi:
                            continue
                        for ty, y_lo, y_hi in ((int(tyA[i]), y0, sy), (int(tyA[i]) + 1, sy, y1)):
                            if y_lo >= y_hi:
                                continue
                            sub = lum[y_lo:y_hi, x_lo:x_hi]
                            out["image_id"].append(ids[i])
                            out["z"].append(z)
                            out["tx"].append(tx)
                            out["ty"].append(ty)
                            out["px_count"].append(sub.size)
                            out["sum_intensity"].append(float(sub.sum()))
                            out["std_lum"].append(std)
                            out["hist0"].append(h0)
            yield pd.DataFrame(out)

    return src.mapInPandas(run, schema=_PYR_SCHEMA)


def tile_count_pyramid(df: DataFrame, z_base: int = 14,
                       zooms: tuple[int, ...] = (12, 10),
                       lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Multi-zoom tile histogram from ONE pass over the input.

    The raw table is scanned exactly once, into the z_base histogram; every
    coarser zoom re-aggregates THAT aggregate by bit-shifted tile ids —
    exact, because slippy tiles nest by construction (floor(x*2^z) >> s ==
    floor(x*2^(z-s)) for x >= 0, and the [0, 2^z-1] clamp halves
    consistently).  At 100 TB the input scan + shuffle happen once; each
    extra level costs a groupBy over the (tiny) previous aggregate — the
    rollup shape a tile-serving pipeline wants, vs re-binning the raw
    table per zoom.  The base histogram is localCheckpointed (bounded by
    the tile count) so the union's branches read blocks instead of
    re-running the scan per level.

    Tile math uses the spelled-out asinh mercator form (derive
    .sql_mercator_tile) — bit-identical across engines, same as the
    single-zoom gates.
    """
    from .derive import sql_mercator_tile

    tx, ty = sql_mercator_tile(lon, lat, z_base)
    base = (
        df.select(F.expr(tx).alias("tx"), F.expr(ty).alias("ty"))
        .groupBy("tx", "ty").agg(F.count("*").alias("n"))
    ).localCheckpoint()
    out = base.select(F.lit(int(z_base)).alias("z"), "tx", "ty", "n")
    for z in zooms:
        if z >= z_base:
            raise ValueError(f"pyramid zooms must be coarser than base "
                             f"({z} >= {z_base})")
        s = z_base - z
        out = out.unionByName(
            base.select(F.lit(int(z)).alias("z"),
                        F.shiftright("tx", s).alias("tx"),
                        F.shiftright("ty", s).alias("ty"), "n")
            .groupBy("z", "tx", "ty").agg(F.sum("n").alias("n"))
        )
    return out


def tile_top_category(df: DataFrame, z: int = 14, cat_col: str = "cat",
                      lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Dominant category per slippy tile: (z, tx, ty, top_cat, n_top,
    n_total) — the rollup a map-rendering/labeling layer asks for ("what
    is each tile mostly made of").  Mirrors the per-category stats sink of
    the reference (openpoiservice/server/api/views.py stats response)
    re-keyed by tile instead of request geometry.

    Two aggregations, both associative (map-side combine at every level):
    (tile, cat) counts first, then the argmax packed as min(struct(-n,
    cat)) — deterministic tie-break to the SMALLEST category id among
    equal counts, without a row_number window (a window would sort and
    re-shuffle (tile) after the groupBy; min(struct) rides the second
    groupBy's partial aggregation instead).  At 10^12 rows the first
    shuffle carries (tile x <=|taxonomy|) partials and the second is over
    the tile count — both bounded by geometry, not input size.
    """
    from .derive import sql_mercator_tile

    tx, ty = sql_mercator_tile(lon, lat, z)
    by_cat = (
        df.select(F.expr(tx).alias("tx"), F.expr(ty).alias("ty"),
                  F.col(cat_col).alias("cat"))
        .groupBy("tx", "ty", "cat").agg(F.count("*").alias("n"))
    )
    packed = F.min(F.struct((-F.col("n")).alias("neg_n"),
                            F.col("cat").alias("c"))).alias("m")
    return (
        by_cat.groupBy("tx", "ty")
        .agg(packed, F.sum("n").alias("n_total"))
        .select(F.lit(int(z)).alias("z"), "tx", "ty",
                F.col("m.c").alias("top_cat"),
                (-F.col("m.neg_n")).alias("n_top"), "n_total")
    )


_HEATMAP_SCHEMA = T.StructType(
    [
        T.StructField("z", T.IntegerType()),
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("n_points", T.LongType()),
        T.StructField("n_hot", T.LongType()),
        T.StructField("max_n", T.LongType()),
        T.StructField("png", T.BinaryType()),
    ]
)


def heatmap_raster(counts: np.ndarray, max_n: int) -> np.ndarray:
    """(dim, dim) int counts -> (dim, dim, 3) uint8 grayscale intensities,
    log-scaled so a 1-count pixel is visible next to a 10^6-count one:
    255 * log1p(n) / log1p(max_n), rounded half-up.  Deterministic — the
    pytest golden recomputes it in numpy and decodes the PNG back."""
    # clamp at 0: a negative weight sum (weight= is caller data) would make
    # log1p NaN and the uint8 cast undefined — silently garbled pixels
    # (round-6 ADVICE); non-negative inputs are untouched
    counts = np.maximum(counts, 0)
    with np.errstate(divide="ignore", invalid="ignore"):
        lum = np.floor(
            255.0 * np.log1p(counts) / np.log1p(max(int(max_n), 1)) + 0.5
        ).astype(np.uint8)
    return np.repeat(lum[:, :, None], 3, axis=2)


def tile_heatmaps(df: DataFrame, z: int = 14, dim: int = 256,
                  lon: str = "lon", lat: str = "lat",
                  weight: str | None = None) -> DataFrame:
    """Render per-tile point-density heatmap PNGs — the raster SINK of the
    live-map stack (tile_histogram answers "how many per tile";
    this emits the tile IMAGE a slippy map serves).

    Spark-first split:
      * binning is pure native column math — one mercator global-pixel
        expression (the sql_mercator_tile closed form at dim-subpixel
        resolution), then groupBy (tx, ty, px, py) with map-side partial
        aggregation, so the shuffle carries HOT PIXELS (<= dim^2 per
        tile), never points;
      * only the final rasterize + PNG encode is Python — one
        applyInPandas over (tx, ty) groups, each group bounded by dim^2
        rows, emitting (z, tx, ty, n_points, n_hot, max_n, png).  The
        PNG bytes come from the repo's own `imaging.encode_png` (filter-0
        RGB, any standard viewer opens it).

    Intensity is per-tile log-normalized (`heatmap_raster`); weight=
    sums an integer column instead of counting rows (image-density
    rasters — see pixel_counts).  At 10^12
    points the pixel aggregate is the only wide exchange and is bounded
    by geometry (visited tiles x dim^2), not input size — the same state
    argument as stream_tile_counts; the render stage is embarrassingly
    parallel over tiles.  Write the result with
    ``.write.partitionBy("z").parquet(...)`` or foreachPartition into an
    object store keyed z/tx/ty for direct tile serving.
    """
    return render_pixel_counts(
        pixel_counts(df, z, dim, lon, lat, weight), dim)


def _global_pixel_cols(z: int, dim: int, lon: str, lat: str):
    """Clamped global pixel coords (gx, gy) at zoom z, dim px per tile."""
    scale = float((1 << z) * dim)
    xn, yn = _mercator_cols(F.col(lon), F.col(lat))
    gx = F.least(F.lit(int(scale) - 1), F.greatest(
        F.lit(0), F.floor(xn * scale).cast("long")))
    gy = F.least(F.lit(int(scale) - 1), F.greatest(
        F.lit(0), F.floor(yn * scale).cast("long")))
    return gx, gy


def pixel_counts(df: DataFrame, z: int, dim: int = 256,
                 lon: str = "lon", lat: str = "lat",
                 weight: str | None = None) -> DataFrame:
    """Hot-pixel counts (z, tx, ty, px, py, n_pt) — native binning + a
    map-side-combining groupBy; works on batch AND streaming frames (the
    streaming sink's per-batch partials use exactly this expression).
    weight= sums an integer column instead of counting rows (e.g. w*h
    for an image-pixel-density raster) — both aggregates stay partial."""
    gx, gy = _global_pixel_cols(z, dim, lon, lat)
    cols = [(gx / dim).cast("long").alias("tx"),
            (gy / dim).cast("long").alias("ty"),
            (gx % dim).alias("px"), (gy % dim).alias("py")]
    agg = (F.count("*") if weight is None
           else F.sum(weight).cast("long")).alias("n_pt")
    src = df.select(*cols) if weight is None \
        else df.select(*cols, F.col(weight))
    return (
        src.groupBy("tx", "ty", "px", "py").agg(agg)
        .select(F.lit(int(z)).alias("z"), "tx", "ty", "px", "py", "n_pt")
    )


def render_pixel_counts(pix: DataFrame, dim: int = 256) -> DataFrame:
    """(z, tx, ty, px, py, n_pt) hot pixels -> rendered heatmap rows
    (z, tx, ty, n_points, n_hot, max_n, png) — the ONE python stage,
    shared by tile_heatmaps / tile_heatmap_pyramid / the streaming
    sink's touched-tile re-render."""

    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        z, tx, ty = int(key[0]), int(key[1]), int(key[2])
        counts = np.zeros((dim, dim), dtype=np.int64)
        counts[pdf["py"].to_numpy(), pdf["px"].to_numpy()] = \
            pdf["n_pt"].to_numpy()
        max_n = int(pdf["n_pt"].max())
        png = imaging.encode_png(heatmap_raster(counts, max_n))
        return pd.DataFrame(
            {"z": [z], "tx": [tx], "ty": [ty],
             "n_points": [int(pdf["n_pt"].sum())], "n_hot": [len(pdf)],
             "max_n": [max_n], "png": [png]})

    return pix.groupBy("z", "tx", "ty").applyInPandas(render, _HEATMAP_SCHEMA)


def tile_heatmap_pyramid(df: DataFrame, z_base: int = 14,
                         zooms: tuple[int, ...] = (12, 10), dim: int = 256,
                         lon: str = "lon", lat: str = "lat",
                         checkpoint_dir: str | None = None) -> DataFrame:
    """Multi-zoom heatmap PNGs from ONE pass over the input — the full
    tile-server render (`tile_heatmaps` at every zoom a slippy map serves)
    with `tile_count_pyramid`'s rollup shape.

    The raw table is binned once, onto the z_base GLOBAL PIXEL grid;
    every coarser level re-aggregates that (bounded, hot-pixels-only)
    aggregate by bit-shifted global pixel coords — exact, because the
    pixel grids nest just like the tile grids (scale halves per level,
    and the [0, scale-1] clamp halves consistently).  At 10^12 points
    the input scan + wide exchange happen once; each extra zoom costs a
    groupBy over the previous level's hot pixels, and the render stage
    (one applyInPandas over (z, tx, ty) groups, ≤ dim^2 rows each) is
    shared across all levels.  The base pixel aggregate is checkpointed so
    the union's branches read blocks, not re-scans; checkpoint_dir=None
    uses localCheckpoint (single-job fast path), a path uses the reliable
    checkpoint that survives executor loss (graph.py's escape hatch —
    round-6 verdict item 4).
    """
    from .operators.graph import _checkpointer

    gx, gy = _global_pixel_cols(z_base, dim, lon, lat)
    base = _checkpointer(df, checkpoint_dir)(
        df.select(gx.alias("gx"), gy.alias("gy"))
        .groupBy("gx", "gy").agg(F.count("*").alias("n_pt"))
    )
    levels = base.select(F.lit(int(z_base)).alias("z"), "gx", "gy", "n_pt")
    for z in zooms:
        if z >= z_base:
            raise ValueError(f"pyramid zooms must be coarser than base "
                             f"({z} >= {z_base})")
        s = z_base - z
        levels = levels.unionByName(
            base.select(F.lit(int(z)).alias("z"),
                        F.shiftright("gx", s).alias("gx"),
                        F.shiftright("gy", s).alias("gy"), "n_pt")
            .groupBy("z", "gx", "gy").agg(F.sum("n_pt").alias("n_pt"))
        )
    pix = levels.select(
        "z", (F.col("gx") / dim).cast("long").alias("tx"),
        (F.col("gy") / dim).cast("long").alias("ty"),
        (F.col("gx") % dim).alias("px"), (F.col("gy") % dim).alias("py"),
        "n_pt")
    return render_pixel_counts(pix, dim)


def quadkey_col(tx, ty, z: int):
    """Bing/Azure quadkey addressing of slippy tile (tx, ty) at zoom z —
    the interop key for serving our tile stores to Microsoft-style map
    stacks: digit i (MSB first) interleaves bit i of ty (high) and tx
    (low).  Pure JVM bit math + concat, z literal at plan time; the
    DuckDB twin spells the identical >>/& expression."""
    digits = [
        (((ty.bitwiseAND(F.lit(1 << i))) / (1 << i)).cast("int") * 2
         + ((tx.bitwiseAND(F.lit(1 << i))) / (1 << i)).cast("int"))
        .cast("string")
        for i in range(z - 1, -1, -1)
    ]
    return F.concat(*digits)


def tile_bounds_cols(tx, ty, z: int):
    """(west, south, east, north) degrees of slippy tile (tx, ty) at zoom
    z — the inverse mercator a tile server needs to stamp extents onto
    rendered tiles (closed form: x/2^z*360-180; atan(sinh(pi*(1-2*y/2^z)))
    with sinh spelled as (e^t - e^-t)/2 so the oracle runs the identical
    expression)."""
    n = float(1 << z)

    def lon(t):
        return t / F.lit(n) * 360.0 - 180.0

    def lat(t):
        arg = F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * t / F.lit(n))
        sinh = (F.exp(arg) - F.exp(-arg)) / F.lit(2.0)
        return F.degrees(F.atan(sinh))

    return (lon(tx.cast("double")), lat((ty + F.lit(1)).cast("double")),
            lon((tx + F.lit(1)).cast("double")), lat(ty.cast("double")))


def tile_index(df: DataFrame, z: int, lon: str = "lon",
               lat: str = "lat") -> DataFrame:
    """Distinct visited tiles with their interop addressing: (z, tx, ty,
    quadkey, west, south, east, north) — the directory listing of every
    tile sink in this module (histogram / pyramid / heatmaps), ready to
    key an external store or hand to a Bing-style consumer.  One native
    binning pass + a distinct on the (bounded) visited-tile set."""
    from .derive import sql_mercator_tile

    txe, tye = sql_mercator_tile(lon, lat, z)
    tiles_df = (
        df.select(F.expr(txe).alias("tx"), F.expr(tye).alias("ty"))
        .distinct()
    )
    tx, ty = F.col("tx"), F.col("ty")
    w, s, e, n = tile_bounds_cols(tx, ty, z)
    return tiles_df.select(
        F.lit(int(z)).alias("z"), "tx", "ty",
        quadkey_col(tx, ty, z).alias("quadkey"),
        F.round(w, 6).alias("west"), F.round(s, 6).alias("south"),
        F.round(e, 6).alias("east"), F.round(n, 6).alias("north"))
