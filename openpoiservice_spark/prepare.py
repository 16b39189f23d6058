"""Import pipeline: raw `poi_images` table -> prepared, cell-partitioned table.

The Spark re-expression of the reference's multi-pass OSM import
(reference manage.py:59-99 -> parser.py:165-202 -> parse_osm.py): the five
imposm passes + hand-rolled hash join + buffered bulk insert collapse into a
single DataFrame job:

    scan(raw) -> decode phash (native bit math) -> parse caption + derive
    categories (native expressions) -> drop category-less rows
    (reference parse_osm.py:347) -> derive cell/pcell keys -> salted
    repartition -> write partitioned by pcell, sorted by cell -> lineage rows.

Prepared layout on disk (plain Parquet data plus a JSON commit log; swap
the writer for Iceberg `writeTo(...).append()` on a cluster with the runtime
jar — the layout keeps the same logical contract: partition key `pcell`,
sort key `cell`):

    <prepared>/data/pcell=<id>/*.parquet
    <prepared>/lineage/<ms>-<id>.json   (commit log: one file per commit)

Lineage rows (per-partition lineage + metrics) carry (run_id, op,
fingerprint, pcell, n_rows, approx_bytes, wall_ms, status, ts).  Like the
reference's import checkpoint log (one JSON file the importer reads and
writes, reference manage.py:75-94) and Delta Lake's `_delta_log`, the log
is table metadata kept on the driver: each commit writes one small JSON file
through the Hadoop FileSystem inside the commit lock, and readers list the
directory, so no commit and no engine open starts a Spark job for it.  A
re-run with `resume=True` skips input pcells already committed for the same
fingerprint and processes only the gap — the partition-granular lift of the
reference's file-mtime checkpoint log (parser.py:178-199).
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cells, config
from .functions import (caption_attrs_columns, cell_expr, cell_parent_expr,
                        lonlat_from_phash)

RAW_COLUMNS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
ROW_RES = cells.DEFAULT_RES
PART_RES = cells.PARTITION_RES
#: default salt buckets for hot cells (explicit skew handling; AQE assists
#: at runtime but the write-side spread must not depend on it)
WRITE_SALT = 8
#: adaptive salting: rows-per-task target a pcell is allowed before its salt
#: factor grows (tuned for ~128 MB tasks at the observed row width)
SALT_TARGET_ROWS = 250_000
SALT_MAX = 64


def derive(raw: DataFrame) -> DataFrame:
    """Raw 7-column table -> derived columns (lon, lat, attrs, cell keys).

    Column pruning note: `bytes` is selected through untouched and never
    feeds any expression here, so Parquet scans that don't need it keep it
    unread (SURVEY.md §7: binary payload discipline)."""
    lon, lat = lonlat_from_phash()
    df = raw.withColumns({"lon": lon, "lat": lat})
    # caption parse + taxonomy lookup as NATIVE expressions (functions.
    # caption_attrs_columns): the import hot loop has ZERO Python
    df = df.withColumns(caption_attrs_columns())
    df = df.select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash", "lon", "lat",
        "osm_type", "osm_id", "tags", "category_ids",
    )
    # reference drops POIs that map to no category (parse_osm.py:347)
    df = df.filter(F.size("category_ids") > 0)
    cell = cell_expr(F.col("lon"), F.col("lat"), ROW_RES)
    df = df.withColumn("cell", cell)
    return df.withColumn("pcell", cell_parent_expr(F.col("cell"), ROW_RES, PART_RES))


def _lineage_path(prepared_dir: str) -> str:
    return f"{prepared_dir}/lineage"


class CommitConflict(Exception):
    """Another writer holds the prepared table's commit lock."""


def _hadoop_fs(spark: SparkSession, path_str: str):
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, p


def read_sidecar_text(spark: SparkSession, path_str: str) -> str | None:
    """Small sidecar file (JSON manifests, codebooks, band params) -> str,
    or None if absent.  Buffered line reads: one py4j round trip per line,
    not per byte.  Newlines are normalized to \\n, irrelevant for the JSON
    payloads every caller parses."""
    fs, p = _hadoop_fs(spark, path_str)
    if not fs.exists(p):
        return None
    jvm = spark.sparkContext._jvm
    br = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(fs.open(p)))
    try:
        lines = []
        while True:
            ln = br.readLine()
            if ln is None:
                break
            lines.append(ln)
    finally:
        br.close()
    return "\n".join(lines)


#: a live writer refreshes the lock mtime this often; a waiter treats a lock
#: whose mtime is older than LOCK_STALE_TTL_S as a DEAD writer and sweeps it.
#: TTL >> heartbeat so a paused-but-alive writer (GC, CPU starvation) is not
#: swept while merely slow.
LOCK_HEARTBEAT_S = 5.0
LOCK_STALE_TTL_S = 60.0


def _write_owner(fs, p, owner: str) -> None:
    """Stamp the holder's unique owner token into the lock file, so a
    swept-but-alive writer's release never removes the new holder's lock.
    Overwrite is safe: only the holder that just created the file calls
    this."""
    out = fs.create(p, True)
    try:
        out.write(bytearray(owner.encode("ascii")))
    finally:
        out.close()


def _read_owner(jvm, fs, p) -> str | None:
    """The lock file's owner token; '' for a token-less (legacy/mid-write)
    lock, None when the file does not exist.  Transient IO errors raise —
    callers that must distinguish 'gone' from 'unreachable' (the heartbeat)
    check existence first."""
    if not fs.exists(p):
        return None
    br = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(fs.open(p)))
    try:
        return br.readLine() or ""
    finally:
        br.close()


class _Heartbeat:
    """Daemon thread refreshing the lock file's mtime while the writer
    works — the liveness signal the TTL sweeper keys on.  Long mutations
    (a multi-minute dynamic-partition rewrite) stay visibly alive however
    long they run; only a crashed writer's lock goes stale.

    Transient refresh failures RETRY every tick (a single failed setTimes
    must not silently stop the liveness signal — that is how a
    slow-but-alive writer would get swept); only after a full TTL
    of consecutive failures — by which point the lock may legitimately have
    been swept — does the thread give up and flag `lost`.  `lost` is also
    set the moment the lock file vanishes or carries another writer's owner
    token: the holder has been usurped and must abort its mutation."""

    def __init__(self, jvm, fs, p, interval_s: float, owner: str,
                 ttl_s: float):
        import threading

        self._jvm, self._fs, self._p = jvm, fs, p
        self._interval, self._owner, self._ttl = interval_s, owner, ttl_s
        self._stop = threading.Event()
        self.lost = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        miss_since = None
        while not self._stop.wait(self._interval):
            try:
                cur = _read_owner(self._jvm, self._fs, self._p)
                if cur != self._owner:
                    self.lost.set()  # gone or usurped — we no longer hold it
                    return
                now = int(time.time() * 1000)
                self._fs.setTimes(self._p, now, now)
                miss_since = None
            except Exception:  # noqa: BLE001 — transient FS error: retry
                if miss_since is None:
                    miss_since = time.time()
                elif time.time() - miss_since > self._ttl:
                    self.lost.set()  # unreachable past the TTL: assume swept
                    return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=2.0)


def _sweep_if_stale(fs, p, stale_ttl_s: float) -> bool:
    """Dead-writer recovery: a lock whose mtime is older than the TTL
    belongs to a crashed writer (live ones heartbeat).  Takeover is
    race-safe via atomic RENAME to a unique tombstone — when two waiters
    sweep concurrently only one rename succeeds, the loser just re-polls;
    nobody deletes a lock another waiter already re-acquired."""
    try:
        st = fs.getFileStatus(p)
    except Exception:  # noqa: BLE001 — lock vanished: holder released it
        return False
    age_ms = time.time() * 1000 - st.getModificationTime()
    if age_ms <= stale_ttl_s * 1000:
        return False
    tomb = p.suffix(f".swept.{uuid.uuid4().hex}")
    try:
        if fs.rename(p, tomb):
            fs.delete(tomb, False)
            return True
    except Exception:  # noqa: BLE001 — lost the sweep race
        pass
    return False


def _create_exclusive(spark: SparkSession, fs, p) -> bool:
    """Create the lock file if it does not exist; True iff this call
    created it.  Hadoop's `createNewFile` checks existence, then creates,
    and on the local file system that create is not exclusive: two racing
    writers can both win, or the loser gets an error.  Local paths are
    therefore created with java.nio's `Files.createFile` (CREATE_NEW, one
    atomic call); other schemes keep `createNewFile` (HDFS checks and
    creates at the NameNode).  An already-exists error means "not
    acquired"."""
    jvm = spark.sparkContext._jvm
    try:
        if fs.getScheme() != "file":
            return fs.createNewFile(p)
        attrs = spark.sparkContext._gateway.new_array(
            jvm.java.nio.file.attribute.FileAttribute, 0)
        jvm.java.nio.file.Files.createFile(
            jvm.java.nio.file.Paths.get(fs.makeQualified(p).toUri()), attrs)
        return True
    except Py4JJavaError as e:
        if e.java_exception.getClass().getSimpleName() == "FileAlreadyExistsException":
            return False
        raise


@contextmanager
def commit_lock(spark: SparkSession, prepared_dir: str,
                timeout_s: float = 120.0, poll_s: float = 0.25,
                stale_ttl_s: float = LOCK_STALE_TTL_S,
                heartbeat_s: float = LOCK_HEARTBEAT_S):
    """Single-writer fencing for the prepared table, with dead-writer
    recovery.

    Every mutation (import, merge, compact, stream micro-batch) runs its
    WHOLE read-compute-write-commit cycle under this lock, so concurrent
    writers serialize instead of silently losing updates: a merge snapshots
    the table, rewrites pcell directories via dynamic partition overwrite,
    and commits lineage — unfenced, a second merge computed from the same
    snapshot would overwrite the first's rewrite (lost update), and a
    stream append landing between a merge's read and write would be wiped
    by the directory overwrite.

    Mechanism: an exclusive create of `<prepared>/_commit.lock`
    (`_create_exclusive`: O_EXCL on the local file system, the NameNode's
    create on HDFS).  The winner stamps a unique OWNER TOKEN into the lock
    file.  Liveness: the holder HEARTBEATS the lock mtime every
    `heartbeat_s` (transient failures retry every tick; only a full TTL of
    consecutive failures gives up); a waiter finding the mtime older than
    `stale_ttl_s` sweeps the dead writer's lock via atomic rename-to-
    tombstone and proceeds — no operator intervention, no TTL race between
    sweepers (only one rename wins).  Fencing on usurpation: release
    deletes the lock ONLY if it still carries this holder's token, so a
    swept-then-released writer never removes the new holder's lock; a
    holder that lost ownership mid-mutation raises CommitConflict on exit
    (long mutations may poll the yielded heartbeat's `lost` event to abort
    earlier).  On S3-class stores without atomic create/rename, swap the
    table for a real Iceberg catalog commit (SURVEY.md §1.3 — the layout is
    Iceberg-pluggable by design)."""
    fs, p = _hadoop_fs(spark, f"{prepared_dir}/_commit.lock")
    jvm = spark.sparkContext._jvm
    fs.mkdirs(p.getParent())
    owner = uuid.uuid4().hex
    deadline = time.time() + timeout_s
    while not _create_exclusive(spark, fs, p):
        if _sweep_if_stale(fs, p, stale_ttl_s):
            continue  # dead writer recovered — retry the atomic create now
        if time.time() > deadline:
            raise CommitConflict(
                f"timed out after {timeout_s}s waiting for {p} — another "
                f"writer is active (a dead writer's lock would have been "
                f"swept after its {stale_ttl_s}s TTL)")
        time.sleep(poll_s)
    _write_owner(fs, p, owner)
    hb = _Heartbeat(jvm, fs, p, heartbeat_s, owner, stale_ttl_s)
    try:
        with hb:
            yield hb
        if hb.lost.is_set():
            raise CommitConflict(
                f"lock ownership of {p} was lost mid-mutation (lock swept "
                f"or usurped after sustained heartbeat failures) — another "
                f"writer may have run concurrently; inspect the table's "
                f"lineage before trusting this commit")
    finally:
        try:
            if _read_owner(jvm, fs, p) == owner:
                fs.delete(p, False)
        except Exception:  # noqa: BLE001 — release is best-effort; the TTL
            pass           # sweeper reclaims an undeleted lock


def data_path(prepared_dir: str) -> str:
    return f"{prepared_dir}/data"


#: one lineage row; `read_lineage` gives the commit log this schema
LINEAGE_SCHEMA = ("run_id string, op string, fingerprint string, pcell long, "
                  "n_rows long, approx_bytes long, wall_ms long, status string, "
                  "ts double")
_LINEAGE_FIELDS = tuple(f.split()[0] for f in LINEAGE_SCHEMA.split(", "))


def lineage_rows(spark: SparkSession, prepared_dir: str) -> list[dict]:
    """Every lineage row of the table's commit log, as plain dicts.

    The log is `<prepared>/lineage/`, one small JSON file per commit; an
    open lists the directory and reads each file on the driver through the
    Hadoop FileSystem, so it starts no Spark job.  Names starting with `_`
    or `.` are skipped: a commit being written (`_append_lineage` renames
    it into place once closed) and checksum files."""
    fs, d = _hadoop_fs(spark, _lineage_path(prepared_dir))
    if not fs.exists(d):
        return []
    rows: list[dict] = []
    for name in sorted(st.getPath().getName() for st in fs.listStatus(d)):
        if name.startswith(("_", ".")):
            continue
        rows.extend(json.loads(read_sidecar_text(spark, f"{d}/{name}") or "[]"))
    return rows


def _append_lineage(spark: SparkSession, prepared_dir: str, rows: list[dict]) -> None:
    """Commit `rows` to the lineage log as one JSON file, written by the
    driver (no Spark job; callers hold the commit lock).  The file is
    created under a `_`-prefixed name, which every reader skips, and
    renamed into place once closed, so readers see all of a commit's rows
    or none."""
    if not rows:
        return
    jvm = spark.sparkContext._jvm
    fs, d = _hadoop_fs(spark, _lineage_path(prepared_dir))
    fs.mkdirs(d)
    name = f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:12]}.json"
    tmp = jvm.org.apache.hadoop.fs.Path(d, "_" + name)
    out = fs.create(tmp, False)
    try:
        out.write(bytearray(json.dumps(
            [{k: r[k] for k in _LINEAGE_FIELDS} for r in rows]).encode()))
    finally:
        out.close()
    if not fs.rename(tmp, jvm.org.apache.hadoop.fs.Path(d, name)):
        raise OSError(f"could not commit lineage file {d}/{name}")


def read_lineage(spark: SparkSession, prepared_dir: str) -> DataFrame | None:
    """The commit log as a DataFrame (LINEAGE_SCHEMA), or None when the
    table has no commits yet."""
    rows = lineage_rows(spark, prepared_dir)
    if not rows:
        return None
    return spark.createDataFrame(
        [tuple(r[k] for k in _LINEAGE_FIELDS) for r in rows], LINEAGE_SCHEMA)


def load_pcell_stats(spark: SparkSession, prepared_dir: str) -> dict[int, int]:
    """Live row count per pcell from the lineage commit log — the planner
    statistics the reference's PostGIS ANALYZE supplied implicitly (and
    whose absence cost it 33x, reference misc.sql:113-143).

    import/merge/compact rows carry the pcell TOTAL after the run (merge
    dynamically overwrites whole pcells); stream rows carry per-BATCH
    appended deltas — so the live count is the latest snapshot plus every
    stream delta committed after it; pcells whose live count is 0 (emptied
    by a merge's deletes) are left out.  Plain Python over `lineage_rows`."""
    snap: dict[int, tuple[float, int]] = {}
    deltas: dict[int, list[tuple[float, int]]] = {}
    for r in lineage_rows(spark, prepared_dir):
        if r["status"] != "committed":
            continue
        pc, ts, n = int(r["pcell"]), float(r["ts"]), int(r["n_rows"])
        if r["op"] == "stream":
            deltas.setdefault(pc, []).append((ts, n))
        elif pc not in snap or ts > snap[pc][0]:
            snap[pc] = (ts, n)
    out: dict[int, int] = {}
    for pc in snap.keys() | deltas.keys():
        base_ts, base = snap.get(pc, (float("-inf"), 0))
        live = base + sum(n for ts, n in deltas.get(pc, ()) if ts > base_ts)
        if live:
            out[pc] = live
    return out


def committed_pcells(spark: SparkSession, prepared_dir: str, fingerprint: str) -> set[int]:
    return {int(r["pcell"]) for r in lineage_rows(spark, prepared_dir)
            if r["status"] == "committed" and r["fingerprint"] == fingerprint}


def _salt_factors(spark: SparkSession, raw: DataFrame, skipped: set[int]):
    """(per-pcell salt factor column, pcells the run writes).  The factor
    is ceil(rows / SALT_TARGET_ROWS), clamped to [WRITE_SALT, SALT_MAX].
    Derived from phash alone (native bit math; single-column scan), so the
    sizing pass costs a fraction of the import; its pcells (those of the
    raw rows, minus `skipped`) bound the import's post-write lineage
    count."""
    lon, lat = lonlat_from_phash()
    cell = cell_expr(lon, lat, ROW_RES)
    pcell = cell_parent_expr(cell, ROW_RES, PART_RES)
    counts = raw.select(pcell.alias("pcell")).groupBy("pcell").count().collect()
    factors = {}
    for r in counts:
        if int(r.pcell) in skipped:
            continue
        f = max(WRITE_SALT, -(-int(r["count"]) // SALT_TARGET_ROWS))
        factors[int(r.pcell)] = min(f, SALT_MAX)
    hot = {pc: f for pc, f in factors.items() if f != WRITE_SALT}
    if not hot:
        return F.lit(WRITE_SALT), set(factors)
    # single map-literal lookup, not nested CASE WHEN chains: a planet-scale
    # table can have thousands of hot cells and per-cell whens would blow up
    # expression-tree depth/codegen
    entries = []
    for pc, f in hot.items():
        entries.extend([F.lit(int(pc)), F.lit(int(f))])
    return F.coalesce(
        F.element_at(F.create_map(*entries), F.col("pcell")), F.lit(WRITE_SALT)
    ), set(factors)


def read_raw(spark: SparkSession, raw_path: str, raw_format: str = "parquet") -> DataFrame:
    """Read the 7-column raw poi_images table from any supported source
    format.  `jsonl`/`csv` carry the binary payload base64-encoded (the
    interchange convention for web-scrape dumps); decode is a native
    `unbase64`, so every format lands on the identical raw schema and the
    rest of the import is source-agnostic."""
    if raw_format == "parquet":
        return spark.read.parquet(raw_path)
    text_schema = ("image_id string, bytes_b64 string, w int, h int, "
                   "fmt string, caption string, phash long")
    if raw_format == "jsonl":
        raw = spark.read.schema(text_schema).json(raw_path)
    elif raw_format == "csv":
        raw = spark.read.schema(text_schema).option("header", "true").csv(raw_path)
    else:
        raise ValueError(f"unsupported raw format {raw_format!r}")
    return raw.withColumn("bytes", F.unbase64("bytes_b64")).select(*RAW_COLUMNS)


def prepare(spark: SparkSession, raw_path: str, prepared_dir: str,
            resume: bool = True, fingerprint: str | None = None,
            raw_format: str = "parquet") -> dict:
    """Run the import job.  Returns {'pcells': n, 'rows': n, 'skipped': n}.

    Idempotence: dynamic partition overwrite means a re-run (or a retry of a
    failed run) rewrites exactly the pcell directories it produces, never
    duplicating rows; `resume=True` additionally skips pcells already
    committed for the same input fingerprint.
    """
    t0 = time.time()
    run_id = uuid.uuid4().hex[:12]
    fingerprint = fingerprint or raw_path
    raw = read_raw(spark, raw_path, raw_format)
    df = derive(raw)
    with commit_lock(spark, prepared_dir):
        return _prepare_locked(spark, raw, df, prepared_dir, resume,
                               fingerprint, run_id, t0)


def _prepare_locked(spark, raw, df, prepared_dir, resume, fingerprint,
                    run_id, t0) -> dict:
    skipped: set[int] = set()
    if resume:
        skipped = committed_pcells(spark, prepared_dir, fingerprint)
        if skipped:
            df = df.filter(~F.col("pcell").isin(list(skipped)))

    # explicit skew spread: repartition on (pcell, salt) so a hot urban pcell
    # fans out across multiple tasks instead of serializing on one
    # (SURVEY.md §4 'skew handling').  The salt factor is ADAPTIVE per
    # pcell — measured from the data (a cheap phash-only pre-scan, no UDF),
    # not a constant: dense urban cells at planet scale hold 10^5-10^6x the
    # rows of rural cells.  The writer's partitionBy reassembles the
    # directory layout regardless of task placement.
    factors, written = _salt_factors(spark, raw, skipped)
    salt = F.pmod(F.hash("osm_id"), factors)
    n_shuffle = max(int(spark.conf.get("spark.sql.shuffle.partitions")), WRITE_SALT)
    out = (
        df.repartition(n_shuffle, F.col("pcell"), salt)
        .sortWithinPartitions("pcell", "cell")
        .write.mode("overwrite")
        # pinned at the writer: with the session default ('static') a resume
        # re-run would wipe every committed pcell while recomputing none —
        # correctness must not depend on session.get_spark() having run
        .option("partitionOverwriteMode", "dynamic")
        # the dominant column (`bytes`) holds already-compressed image
        # payloads — a second codec pass on scan is pure CPU waste, so the
        # data files are written uncompressed (metadata columns are small).
        # Small (8 MB) row groups make lon/lat min-max pruning fine-grained
        # on the payload scan: selective byte reads skip most of the file
        # (measured corridor_pixels 3.8 -> 2.7 s at sf0.1, full scan and
        # narrow scans unharmed)
        .option("compression", "uncompressed")
        .option("parquet.block.size", 8 * 1024 * 1024)
        .partitionBy("pcell")
        .parquet(data_path(prepared_dir))
    )

    # lineage: per-pcell metrics from a re-scan of only the pcells this run
    # wrote (partition pruning) and only the lightweight columns
    stats = (
        spark.read.parquet(data_path(prepared_dir))
        .filter(F.col("pcell").isin(sorted(written)))
        .groupBy("pcell")
        .agg(F.count("*").alias("n_rows"), F.sum(F.length("caption")).alias("approx_bytes"))
        .collect()
    ) if written else []
    wall_ms = int((time.time() - t0) * 1000)
    ts = time.time()
    rows = [
        dict(run_id=run_id, op="import", fingerprint=fingerprint, pcell=int(r.pcell),
             n_rows=int(r.n_rows), approx_bytes=int(r.approx_bytes or 0),
             wall_ms=wall_ms, status="committed", ts=ts)
        for r in stats
    ]
    _append_lineage(spark, prepared_dir, rows)
    total_rows = sum(r["n_rows"] for r in rows)
    return {"pcells": len(rows), "rows": total_rows, "skipped": len(skipped), "run_id": run_id}


def read_prepared(spark: SparkSession, prepared_dir: str) -> DataFrame:
    return spark.read.parquet(data_path(prepared_dir))


def compact(spark: SparkSession, prepared_dir: str, min_files: int = 2,
            target_pcells: set[int] | None = None) -> dict:
    """Small-file compaction of pcell directories — the operational
    counterpart of the streaming sink: every micro-batch appends one file
    per touched pcell, and at production cadence a hot partition accrues
    thousands of small files (scan open()/footer overhead grows linearly
    with file count, and row-group min/max pruning degrades because each
    tiny file is its own group).  This job rewrites any pcell holding >=
    `min_files` parquet files back into the canonical layout (sorted by
    cell, 8 MB row groups) via the SAME fenced dynamic-partition overwrite
    the merge path uses — rows are bit-identical, only the file geometry
    changes.  Lineage gains an `op='compact'` SNAPSHOT row per pcell (total
    rows, same convention as import/merge), which also re-bases the
    planner's density stats after a long run of stream deltas."""
    t0 = time.time()
    run_id = uuid.uuid4().hex[:12]
    with commit_lock(spark, prepared_dir):
        return _compact_locked(spark, prepared_dir, min_files, target_pcells,
                               run_id, t0)


def _compact_locked(spark, prepared_dir, min_files, target_pcells,
                    run_id, t0) -> dict:
    fs, data_p = _hadoop_fs(spark, data_path(prepared_dir))
    cand: dict[int, int] = {}
    for st in fs.listStatus(data_p):
        name = st.getPath().getName()
        if not name.startswith("pcell="):
            continue
        pc = int(name.split("=", 1)[1])
        if target_pcells is not None and pc not in target_pcells:
            continue
        nf = sum(1 for f in fs.listStatus(st.getPath())
                 if f.getPath().getName().endswith(".parquet"))
        if nf >= min_files:
            cand[pc] = nf
    if not cand:
        return {"pcells": 0, "files_before": 0, "files_after": 0,
                "rows": 0, "run_id": run_id}
    affected = sorted(cand)
    sliced = read_prepared(spark, prepared_dir).filter(
        F.col("pcell").isin(affected)).cache()
    # materialize BEFORE the overwrite: the rewrite reads the directories it
    # replaces (same discipline as _merge_locked); the per-pcell counts of
    # the cached slice are the lineage snapshot, so nothing is re-read
    counts = _pcell_counts(sliced)
    (
        sliced.repartition(len(affected), F.col("pcell"))
        .sortWithinPartitions("pcell", "cell")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "uncompressed")
        .option("parquet.block.size", 8 * 1024 * 1024)
        .partitionBy("pcell")
        .parquet(data_path(prepared_dir))
    )
    sliced.unpersist()
    after = 0
    for pc in affected:
        sub = fs.listStatus(
            _hadoop_fs(spark, f"{data_path(prepared_dir)}/pcell={pc}")[1])
        after += sum(1 for f in sub
                     if f.getPath().getName().endswith(".parquet"))
    wall_ms = int((time.time() - t0) * 1000)
    ts = time.time()
    _append_lineage(spark, prepared_dir, [
        dict(run_id=run_id, op="compact", fingerprint="compact",
             pcell=pc, n_rows=n, approx_bytes=0,
             wall_ms=wall_ms, status="committed", ts=ts)
        for pc, n in counts.items()
    ])
    return {"pcells": len(affected), "files_before": sum(cand.values()),
            "files_after": after, "rows": sum(counts.values()), "run_id": run_id}


def merge(spark: SparkSession, prepared_dir: str, upserts_raw: DataFrame,
          delete_keys: list[tuple[int, int]] | None = None) -> dict:
    """MERGE INTO the prepared table: upsert on PK (osm_type, osm_id) +
    explicit deletes — the Spark re-expression of the reference's
    tombstone-based incremental update (reference parser.py:182-215,
    parse_osm.py:411-419: flag -> per-PK delete -> re-insert -> sweep).
    Snapshot isolation comes from dynamic partition overwrite: only the
    pcell directories touched by the patch are rewritten.
    """
    t0 = time.time()
    run_id = uuid.uuid4().hex[:12]
    delete_keys = delete_keys or []
    ups = derive(upserts_raw).cache()
    # the WHOLE read-compute-write cycle is fenced: the affected-pcell scan
    # and the slice read must see the table state the overwrite will replace
    with commit_lock(spark, prepared_dir):
        try:
            return _merge_locked(spark, prepared_dir, ups, delete_keys, run_id, t0)
        finally:
            ups.unpersist()


def _pcell_counts(df: DataFrame) -> dict[int, int]:
    """Rows per pcell of `df`, in pcell order (one collect)."""
    return dict(sorted((int(r.pcell), int(r["count"]))
                       for r in df.groupBy("pcell").count().collect()))


def _merge_locked(spark, prepared_dir, ups, delete_keys, run_id, t0) -> dict:
    cur = read_prepared(spark, prepared_dir)
    keys = ups.select("osm_type", "osm_id")
    del_df = None
    if delete_keys:
        del_df = spark.createDataFrame(delete_keys, "osm_type int, osm_id long")
        keys = keys.unionByName(del_df)

    # affected partitions, in one query: pcells receiving upserts, plus
    # pcells CURRENTLY holding an upserted or deleted PK (an upsert may move
    # a row across pcells — the old partition must be rewritten too or the
    # stale row survives, breaking the PK contract of the reference's
    # delete-then-reinsert, parse_osm.py:411-419).  Collected without a
    # distinct (no shuffle): at most two rows per upserted key and one per
    # deleted key, the scale of the keys the broadcast already collects
    held = cur.join(F.broadcast(keys), ["osm_type", "osm_id"], "left_semi")
    affected = sorted({
        int(r.pcell) for r in
        ups.select("pcell").union(held.select("pcell")).collect()
    })
    if not affected:
        return {"pcells": 0, "rows": 0, "run_id": run_id}

    slice_cur = cur.filter(F.col("pcell").isin(affected))
    # drop rows replaced by upserts (per-PK delete before insert,
    # reference parse_osm.py:411-419) and rows explicitly deleted (sweep,
    # reference parser.py:205-215)
    merged = slice_cur.join(
        F.broadcast(ups.select("osm_type", "osm_id")), ["osm_type", "osm_id"], "left_anti"
    )
    if del_df is not None:
        merged = merged.join(F.broadcast(del_df), ["osm_type", "osm_id"], "left_anti")
    merged = merged.unionByName(ups.filter(F.col("pcell").isin(affected)))

    # per-pcell counts of the cached merged rows: the lineage snapshot of
    # every rewritten pcell, and (by absence) the pcells emptied by deletes
    merged = merged.cache()
    counts = _pcell_counts(merged)
    (
        merged.repartition(max(len(affected), 1), F.col("pcell"))
        .sortWithinPartitions("pcell", "cell")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "uncompressed")
        .option("parquet.block.size", 8 * 1024 * 1024)
        .partitionBy("pcell")
        .parquet(data_path(prepared_dir))
    )
    merged.unpersist()
    # dynamic overwrite only rewrites directories that receive rows; a pcell
    # fully emptied by deletes must be dropped explicitly, and gets an
    # n_rows=0 snapshot so the stats forget its old count
    emptied = set(affected) - counts.keys()
    for pc in emptied:
        fs, p = _hadoop_fs(spark, f"{data_path(prepared_dir)}/pcell={pc}")
        fs.delete(p, True)

    wall_ms = int((time.time() - t0) * 1000)
    ts = time.time()
    _append_lineage(spark, prepared_dir, [
        dict(run_id=run_id, op="merge", fingerprint="merge", pcell=pc,
             n_rows=n, approx_bytes=0, wall_ms=wall_ms,
             status="committed", ts=ts)
        for pc, n in sorted({**counts, **dict.fromkeys(emptied, 0)}.items())
    ])
    return {"pcells": len(affected), "rows": sum(counts.values()), "run_id": run_id}
