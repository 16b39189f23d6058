"""MERGE update parity (reference tests/test_update.py:18-40) + lineage
resume idempotence (north_rule: 'resumable from checkpoint with
per-partition lineage + metrics')."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from openpoiservice_spark import fixtures, prepare
from openpoiservice_spark.api import PoiEngine

P = list(fixtures.POINT_P)


@pytest.fixture(scope="module")
def merge_env(spark, tmp_path_factory):
    """A dedicated prepared table (module-scoped: the merge mutates it)."""
    root = tmp_path_factory.mktemp("merge")
    raw = str(root / "raw.parquet")
    prepared = str(root / "prepared")
    fixtures.build_sf_test(raw, n_filler=500)
    prepare.prepare(spark, raw, prepared)
    return {"raw": raw, "prepared": prepared, "root": root}


def _count400(spark, prepared):
    eng = PoiEngine(spark, prepared)
    fc = eng.request({"request": "pois",
                      "geometry": {"geojson": {"type": "Point", "coordinates": P},
                                   "buffer": 400}})
    return fc


def test_update_merge_parity(spark, merge_env):
    """Mirrors the reference flow: re-import a modified fixture -> feature
    count unchanged (1 added, 1 deleted), one POI renamed, the added POI is
    the reference's 'Ein Impfzentrum' id (test_update.py:33-40)."""
    before = _count400(spark, merge_env["prepared"])
    assert len(before["features"]) == 38

    ups, dels, expected = fixtures.merge_patch_frame()
    up_path = os.path.join(str(merge_env["root"]), "ups.parquet")
    pq.write_table(pa.Table.from_pandas(ups, preserve_index=False), up_path)
    stats = prepare.merge(
        spark, merge_env["prepared"], spark.read.parquet(up_path),
        [(1, d) for d in dels],
    )
    assert stats["pcells"] >= 1

    after = _count400(spark, merge_env["prepared"])
    assert len(after["features"]) == 38  # one in, one out
    props = {f["properties"]["osm_id"]: f["properties"] for f in after["features"]}
    assert fixtures.UPDATE_DELETE_ID not in props
    assert 2134315509 in props
    assert props[2134315509]["osm_tags"]["name"] == "Ein Impfzentrum"
    assert props[fixtures.UPDATE_RENAME_ID]["osm_tags"]["name"] == fixtures.UPDATE_RENAMED_NAME
    # healthcare:speciality is whitelisted and must surface (reference
    # ops_settings.yml:27-47)
    assert props[2134315509]["osm_tags"]["healthcare:speciality"] == "vaccination"
    # category derived through the taxonomy: vaccination -> 212 (healthcare)
    assert 212 in props[2134315509]["category_ids"]


def test_merge_is_idempotent(spark, merge_env):
    """Re-applying the same patch must not change anything (snapshot-safe)."""
    ups, dels, _ = fixtures.merge_patch_frame()
    up_path = os.path.join(str(merge_env["root"]), "ups2.parquet")
    pq.write_table(pa.Table.from_pandas(ups, preserve_index=False), up_path)
    prepare.merge(spark, merge_env["prepared"], spark.read.parquet(up_path),
                  [(1, d) for d in dels])
    after = _count400(spark, merge_env["prepared"])
    assert len(after["features"]) == 38


def test_merge_upsert_moving_across_pcells(spark, tmp_path_factory):
    """An upsert whose new coordinates land in a DIFFERENT pcell must remove
    the old row from its original partition (PK contract of the reference's
    delete-then-reinsert, parse_osm.py:411-419)."""
    import numpy as np
    import pandas as pd

    from openpoiservice_spark import captions, imaging

    root = tmp_path_factory.mktemp("xpcell")
    raw = str(root / "raw.parquet")
    prepared = str(root / "prepared")
    fixtures.build_sf_test(raw, n_filler=300)
    prepare.prepare(spark, raw, prepared)

    cur = prepare.read_prepared(spark, prepared)
    row = cur.select("osm_type", "osm_id", "pcell").first()
    # new location ~400 km east: guaranteed different res-7 pcell (~188 km wide here)
    lon, lat = fixtures.local_to_lonlat([400_000.0], [0.0])
    pixels, fmt = imaging.synth_pixels("img-moved")
    ups = pd.DataFrame({
        "image_id": ["img-moved"],
        "bytes": [imaging.encode_image(pixels, fmt)],
        "w": np.array([pixels.shape[1]], dtype=np.int32),
        "h": np.array([pixels.shape[0]], dtype=np.int32),
        "fmt": [fmt],
        "caption": [captions.encode_caption(row.osm_type, row.osm_id, {"amenity": "cafe"})],
        "phash": captions.encode_phash(lon, lat),
    })
    up_path = os.path.join(str(root), "ups.parquet")
    pq.write_table(pa.Table.from_pandas(ups, preserve_index=False), up_path)
    prepare.merge(spark, prepared, spark.read.parquet(up_path))

    after = prepare.read_prepared(spark, prepared).filter(
        (F.col("osm_type") == row.osm_type) & (F.col("osm_id") == row.osm_id)
    ).select("pcell", "lon").collect()
    assert len(after) == 1, "stale row left behind in the old pcell"
    assert after[0].pcell != row.pcell
    assert abs(after[0].lon - float(lon[0])) < 1e-6


def test_resume_skips_committed_partitions(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("resume")
    raw = str(root / "raw.parquet")
    prepared = str(root / "prepared")
    fixtures.build_sf_test(raw, n_filler=300)
    s1 = prepare.prepare(spark, raw, prepared)
    assert s1["skipped"] == 0 and s1["pcells"] > 0
    total1 = prepare.read_prepared(spark, prepared).count()

    s2 = prepare.prepare(spark, raw, prepared)  # identical re-run
    assert s2["skipped"] == s1["pcells"] and s2["pcells"] == 0
    assert prepare.read_prepared(spark, prepared).count() == total1  # no dupes


def test_lineage_records_metrics(spark, merge_env):
    lin = prepare.read_lineage(spark, merge_env["prepared"])
    assert lin is not None
    imports = lin.filter(F.col("op") == "import")
    assert imports.count() > 0
    row = imports.first()
    assert row.n_rows > 0 and row.approx_bytes > 0 and row.wall_ms >= 0
    assert row.status == "committed"
    merges = lin.filter(F.col("op") == "merge")
    assert merges.count() > 0


def _lineage_row(op, pcell, n, ts, fingerprint="f"):
    return dict(run_id="r", op=op, fingerprint=fingerprint, pcell=pcell,
                n_rows=n, approx_bytes=0, wall_ms=0, status="committed", ts=ts)


def test_commit_log_starts_no_spark_job(spark, tmp_path):
    """The lineage commit log is driver-side metadata: one commit and the
    two readers an import and an engine open use start no Spark job (the
    job group's job ids before and after are equal; a real job in the same
    group shows that the group does see jobs)."""
    import uuid

    d = str(tmp_path / "prepared")
    sc = spark.sparkContext
    group = f"commit-log-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "lineage commit log")
    try:
        before = set(sc.statusTracker().getJobIdsForGroup(group))
        prepare._append_lineage(spark, d, [_lineage_row("import", 5, 100, 1.0),
                                           _lineage_row("stream", 5, 7, 2.0)])
        stats = prepare.load_pcell_stats(spark, d)
        done = prepare.committed_pcells(spark, d, "f")
        after = set(sc.statusTracker().getJobIdsForGroup(group))
        spark.range(3).count()
        probe = set(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats == {5: 107} and done == {5}
    assert after == before
    assert probe != after


def test_half_written_lineage_file_is_ignored(spark, tmp_path):
    """A commit still being written lives under a `_`-prefixed name; every
    reader skips it, even when its content is a truncated JSON document."""
    from openpoiservice_spark import streaming

    d = str(tmp_path / "prepared")
    prepare._append_lineage(spark, d, [_lineage_row("import", 5, 100, 1.0)])
    lin_dir = os.path.join(d, "lineage")
    (committed,) = [f for f in os.listdir(lin_dir) if not f.endswith(".crc")]
    assert committed.endswith(".json") and not committed.startswith("_")
    with open(os.path.join(lin_dir, "_9999999999999-half.json"), "w") as f:
        f.write('[{"run_id": "s", "op": "stream", "fingerprint": "stream:x", "pcell": 5, "n_r')
    assert [r["pcell"] for r in prepare.lineage_rows(spark, d)] == [5]
    assert prepare.load_pcell_stats(spark, d) == {5: 100}
    assert prepare.committed_pcells(spark, d, "stream:x") == set()
    assert not streaming._batch_already_committed(spark, d, "stream:x")
    assert prepare.read_lineage(spark, d).count() == 1


def test_lineage_counts_match_table_after_merge(spark, tmp_path_factory):
    """Import and merge take their lineage counts from the rows they write
    (no re-read of the table): the planner stats equal the live per-pcell
    counts after an import and a merge with upserts and a delete."""
    root = tmp_path_factory.mktemp("lincount")
    raw = str(root / "raw.parquet")
    prepared = str(root / "prepared")
    fixtures.build_sf_test(raw, n_filler=300)
    prepare.prepare(spark, raw, prepared)

    def live():
        return {r.pcell: r["count"] for r in
                prepare.read_prepared(spark, prepared).groupBy("pcell").count().collect()}

    assert prepare.load_pcell_stats(spark, prepared) == live()
    ups, dels, _ = fixtures.merge_patch_frame()
    up_path = os.path.join(str(root), "ups.parquet")
    pq.write_table(pa.Table.from_pandas(ups, preserve_index=False), up_path)
    out = prepare.merge(spark, prepared, spark.read.parquet(up_path),
                        [(1, d) for d in dels])
    now = live()
    assert prepare.load_pcell_stats(spark, prepared) == now
    merged = {r["pcell"]: r["n_rows"] for r in prepare.lineage_rows(spark, prepared)
              if r["op"] == "merge"}
    assert merged and all(now[pc] == n for pc, n in merged.items())
    assert out["rows"] == sum(merged.values())


def test_partition_layout_and_pruning(spark, merge_env):
    """The physical contract: pcell directory partitioning + cell filters
    reach the scan (PartitionFilters / PushedFilters in the plan)."""
    df = prepare.read_prepared(spark, merge_env["prepared"])
    some_pcell = df.select("pcell").first().pcell
    plan = (
        df.filter(F.col("pcell") == some_pcell)
        .filter(F.col("cell") > 0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan
    assert "pcell" in plan
    assert "PushedFilters" in plan


def test_merge_drops_fully_emptied_pcell(spark, tmp_path_factory):
    """Deleting every row of a pcell must remove its directory (dynamic
    overwrite only rewrites partitions that receive rows — the sweep is
    explicit in merge())."""
    root = tmp_path_factory.mktemp("empty_pcell")
    raw = str(root / "raw.parquet")
    prepared = str(root / "prepared")
    fixtures.build_sf_test(raw, n_filler=300)
    prepare.prepare(spark, raw, prepared)

    cur = prepare.read_prepared(spark, prepared)
    total_before = cur.count()
    counts = cur.groupBy("pcell").count().collect()
    victim = min(counts, key=lambda r: r["count"])
    keys = [(r.osm_type, r.osm_id) for r in
            cur.filter(F.col("pcell") == victim.pcell)
               .select("osm_type", "osm_id").collect()]
    empty_ups = spark.createDataFrame([], spark.read.parquet(raw).schema)
    prepare.merge(spark, prepared, empty_ups, keys)

    after = prepare.read_prepared(spark, prepared)  # fresh file listing
    assert after.filter(F.col("pcell") == victim.pcell).count() == 0
    assert not os.path.exists(
        os.path.join(prepare.data_path(prepared), f"pcell={victim.pcell}"))
    # other partitions untouched
    assert after.count() == total_before - len(keys)


def test_merge_emptying_a_pcell_resets_its_stats(spark, tmp_path_factory):
    """A merge that deletes the only row of a pcell commits an n_rows=0
    snapshot for it, so the planner stats drop the pcell instead of keeping
    its old count."""
    root = tmp_path_factory.mktemp("empty_stats")
    raw = str(root / "raw.parquet")
    prepared = str(root / "prepared")
    fixtures.build_sf_test(raw, n_filler=300)
    prepare.prepare(spark, raw, prepared)

    cur = prepare.read_prepared(spark, prepared)
    victim = min(cur.groupBy("pcell").count().collect(),
                 key=lambda r: (r["count"], r.pcell))
    assert victim["count"] == 1
    key = cur.filter(F.col("pcell") == victim.pcell).select("osm_type", "osm_id").first()
    empty_ups = spark.createDataFrame([], spark.read.parquet(raw).schema)
    prepare.merge(spark, prepared, empty_ups, [(key.osm_type, key.osm_id)])

    live = {r.pcell: r["count"] for r in
            prepare.read_prepared(spark, prepared).groupBy("pcell").count().collect()}
    assert victim.pcell not in live
    assert prepare.load_pcell_stats(spark, prepared) == live
    assert {(r["pcell"], r["n_rows"]) for r in prepare.lineage_rows(spark, prepared)
            if r["op"] == "merge"} == {(victim.pcell, 0)}


def test_jsonl_and_csv_sources_match_parquet_import(spark, tmp_path):
    """Source-format parity: the same raw rows ingested from JSONL and CSV
    (base64 payloads) produce a prepared table answering the golden query
    identically to the parquet import."""
    import base64
    import csv as _csv
    import json

    from openpoiservice_spark import fixtures
    from openpoiservice_spark.api import PoiEngine

    raw_pq = str(tmp_path / "raw.parquet")
    fixtures.build_sf_test(raw_pq, n_filler=500)
    rows = spark.read.parquet(raw_pq).collect()

    jsonl = str(tmp_path / "raw.jsonl")
    with open(jsonl, "w") as f:
        for r in rows:
            f.write(json.dumps({
                "image_id": r.image_id,
                "bytes_b64": base64.b64encode(bytes(r.bytes)).decode(),
                "w": r.w, "h": r.h, "fmt": r.fmt,
                "caption": r.caption, "phash": r.phash,
            }) + "\n")
    csvp = str(tmp_path / "raw.csv")
    with open(csvp, "w", newline="") as f:
        wr = _csv.writer(f)
        wr.writerow(["image_id", "bytes_b64", "w", "h", "fmt", "caption", "phash"])
        for r in rows:
            wr.writerow([r.image_id, base64.b64encode(bytes(r.bytes)).decode(),
                         r.w, r.h, r.fmt, r.caption, r.phash])

    payload = {"request": "pois",
               "geometry": {"geojson": {"type": "Point",
                                        "coordinates": list(fixtures.POINT_P)},
                            "buffer": 50}}
    expect = None
    for fmt, path in (("parquet", raw_pq), ("jsonl", jsonl), ("csv", csvp)):
        prepared = str(tmp_path / f"prepared_{fmt}")
        stats = prepare.prepare(spark, path, prepared, raw_format=fmt)
        fc = PoiEngine(spark, prepared).request(payload)
        ids = sorted(f["properties"]["osm_id"] for f in fc["features"])
        assert stats["rows"] > 0
        if expect is None:
            expect = (stats["rows"], ids)
            assert len(ids) == fixtures.GOLDEN_COUNTS["point_buffer50"]
        else:
            assert (stats["rows"], ids) == expect, fmt
    # payload bytes survive the base64 round trip bit-for-bit
    pq_bytes = {r.image_id: bytes(r.bytes) for r in rows[:20]}
    jl = prepare.read_raw(spark, jsonl, "jsonl").filter(
        F.col("image_id").isin(list(pq_bytes))).collect()
    assert {r.image_id: bytes(r.bytes) for r in jl} == pq_bytes


def test_compact_small_files(spark, tmp_path):
    """Streaming appends leave one file per micro-batch per pcell; compact
    rewrites those directories into the canonical layout with IDENTICAL
    rows, fewer files, and a lineage snapshot that re-bases the planner
    stats."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from openpoiservice_spark import fixtures, streaming

    raw = str(tmp_path / "raw.parquet")
    prepared = str(tmp_path / "prepared")
    fixtures.build_sf_test(raw, n_filler=200)
    prepare.prepare(spark, raw, prepared)

    def ups(ids, name):
        rows = [(oid, 5.0 + 0.0001 * i, 5.0 + 0.0001 * i,
                 {"amenity": "cafe", "name": f"poi-{oid}"})
                for i, oid in enumerate(ids)]
        p = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(
            fixtures._rows_to_frame(rows), preserve_index=False), p)
        return p

    # three stream micro-batches into the SAME pcell -> 3+ small files
    for b in range(3):
        path = ups([9_700_000 + 10 * b + i for i in range(4)], f"s{b}")
        streaming._write_batch(
            prepare.derive(spark.read.parquet(path)), prepared,
            f"stream:compact:batch:{b}")

    before = prepare.read_prepared(spark, prepared)
    rows_before = sorted(
        (r.osm_id, r.caption) for r in before.select("osm_id", "caption").collect())
    stats = prepare.compact(spark, prepared, min_files=2)
    assert stats["pcells"] >= 1
    assert stats["files_after"] < stats["files_before"]
    after = prepare.read_prepared(spark, prepared)
    rows_after = sorted(
        (r.osm_id, r.caption) for r in after.select("osm_id", "caption").collect())
    assert rows_after == rows_before  # bit-identical rows, new geometry
    lin = prepare.read_lineage(spark, prepared)
    assert lin.filter("op = 'compact' AND status = 'committed'").count() >= 1
    # planner stats re-based: the compact snapshot equals the live count
    live = {r.pcell: r.cnt for r in after.groupBy("pcell")
            .agg(F.count("*").alias("cnt")).collect()}
    est = prepare.load_pcell_stats(spark, prepared)
    assert all(est[pc] == n for pc, n in live.items())
    # idempotent: nothing left above the threshold at min_files=2 unless a
    # pcell genuinely needs >1 file; a second run is a no-op here
    again = prepare.compact(spark, prepared, min_files=2)
    assert again["pcells"] == 0
