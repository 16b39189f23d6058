"""Seeded input generation and the on-disk input caches.

Everything here is the benchmark's own code: the raw rows (captions, packed
coordinates, PNG payloads), the corpus and the update batches are produced
without calling the package under test, so a change to the package cannot
change the inputs.  The one exception is the prepared table, which is built
by the package's own `prepare.prepare` and therefore cached per code hash.

Cache layout under `perfbench/.cache/` (ignored by git):

    world-<size>-<inputs hash>-<code hash>/   raw table, prepared table, oracle
    seed-<size>-<inputs hash>-<seed>/         inputs and oracle answers of one seed
    tmp/                                      Spark and Python scratch space

Per size only the current world entry is kept, and only the newest
`KEEP_SEED_DIRS` seed entries; older keys are deleted.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil
import struct
import time
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Size:
    world_rows: int      # rows of the shared read table
    slice_rows: int      # rows imported by ingest_update
    rounds: int          # append+merge+check rounds per ingest pass
    appends: int         # rows per streamed append
    upserts: int         # rows per merge (a third of them move)
    deletes: int         # keys deleted per merge
    docs: int            # documents in the dedup corpus
    vectors: int         # embeddings in the ann corpus
    queries: int         # ann probe vectors
    images: int          # table images hashed by dct_phash
    geoms: int           # geometries in the batch join
    probes: int          # probe points in the batch kNN


SIZES = {
    "bench": Size(world_rows=30_000, slice_rows=5_000, rounds=1, appends=200,
                  upserts=150, deletes=30, docs=2_000, vectors=4_000,
                  queries=200, images=1_500, geoms=120, probes=300),
    # the scale of the sf0.1-derived table (600k rows, about 3 GB prepared;
    # a 60k-row ingest slice): too slow for the measured runs, kept to
    # compare the per-layer balance against (see NOTES.md)
    "sf0.1": Size(world_rows=600_000, slice_rows=60_000, rounds=1, appends=200,
                  upserts=300, deletes=50, docs=2_000, vectors=4_000,
                  queries=200, images=1_500, geoms=120, probes=300),
    "tiny": Size(world_rows=2_500, slice_rows=800, rounds=1, appends=40,
                 upserts=30, deletes=6, docs=300, vectors=500, queries=30,
                 images=200, geoms=12, probes=20),
}

#: the read table is a function of its size alone: every seed reads the same
#: table, so one build per checkout serves all runs
WORLD_SEED = 8_675_309
KEEP_SEED_DIRS = 24

#: urban cluster centres over the region 7.5..14 E, 52..54 N
CLUSTERS = np.array([
    (8.60, 53.30), (8.95, 53.55), (9.99, 53.55), (10.00, 53.45),
    (13.40, 52.52), (13.45, 52.48), (12.37, 52.34), (11.63, 52.13),
    (10.52, 52.26), (9.73, 52.37), (8.05, 52.27), (9.93, 53.85),
])
REGION = (7.5, 52.0, 14.0, 54.0)
CLUSTER_SIGMA_DEG = 0.012
CLUSTERED_SHARE = 0.7

#: tags that map to a category, plus one that maps to none (dropped at import)
TAG_POOL = [
    ("amenity", "cafe"), ("amenity", "restaurant"), ("amenity", "pub"),
    ("amenity", "pharmacy"), ("amenity", "school"), ("amenity", "bank"),
    ("amenity", "atm"), ("amenity", "fuel"), ("amenity", "bench"),
    ("amenity", "toilets"), ("amenity", "library"), ("tourism", "hotel"),
    ("tourism", "museum"), ("tourism", "artwork"), ("tourism", "viewpoint"),
    ("shop", "bakery"), ("shop", "supermarket"), ("shop", "kiosk"),
    ("shop", "books"), ("shop", "florist"),
]
UNMAPPED_TAG = ("building", "yes")
UNMAPPED_SHARE = 0.03
EXTRA_TAGS = [("wheelchair", "yes"), ("wheelchair", "no"), ("fee", "no")]

WORDS = ("spark table cell tile image query join scan index merge stream batch "
         "vector point line polygon buffer radius cafe school hotel museum bank "
         "river bridge street market tower garden station harbour square park "
         "north south east west old new little great upper lower").split()


# ------------------------------------------------------------------ raw rows

def _png(pixels: np.ndarray) -> bytes:
    """Minimal RGB PNG (filter 0 on every row)."""
    h, w, _ = pixels.shape
    rows = np.concatenate([np.zeros((h, 1), np.uint8), pixels.reshape(h, w * 3)], axis=1)

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(rows.tobytes(), 1))
            + chunk(b"IEND", b""))


def pack_lonlat(lon, lat) -> np.ndarray:
    """(lon, lat) -> the raw table's packed int64 (1e-7 degree steps)."""
    lon_q = np.round((np.asarray(lon) + 180.0) * 1e7).astype(np.int64) & 0xFFFFFFFF
    lat_q = np.round((np.asarray(lat) + 90.0) * 1e7).astype(np.int64) & 0xFFFFFFFF
    return (lat_q << np.int64(32)) | lon_q


def unpack_lonlat(phash) -> tuple[np.ndarray, np.ndarray]:
    p = np.asarray(phash, dtype=np.int64)
    lon = (p & np.int64(0xFFFFFFFF)).astype(np.float64) / 1e7 - 180.0
    lat = ((p >> np.int64(32)) & np.int64(0xFFFFFFFF)).astype(np.float64) / 1e7 - 90.0
    return lon, lat


def scatter(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Points: CLUSTERED_SHARE in gaussian clusters, the rest uniform."""
    nc = int(n * CLUSTERED_SHARE)
    which = rng.integers(0, len(CLUSTERS), nc)
    lon = np.empty(n)
    lat = np.empty(n)
    lon[:nc] = CLUSTERS[which, 0] + rng.normal(0, CLUSTER_SIGMA_DEG / 0.6, nc)
    lat[:nc] = CLUSTERS[which, 1] + rng.normal(0, CLUSTER_SIGMA_DEG, nc)
    lon[nc:] = rng.uniform(REGION[0], REGION[2], n - nc)
    lat[nc:] = rng.uniform(REGION[1], REGION[3], n - nc)
    return lon, lat


def caption(osm_id: int, tags: list[tuple[str, str]]) -> str:
    return ";".join([f"osm_type=1;osm_id={int(osm_id)}"] + [f"{k}={v}" for k, v in tags])


def random_tags(rng: np.random.Generator, n: int) -> list[list[tuple[str, str]]]:
    main = rng.integers(0, len(TAG_POOL), n)
    unmapped = rng.random(n) < UNMAPPED_SHARE
    extra = rng.random(n) < 0.10
    extra_idx = rng.integers(0, len(EXTRA_TAGS), n)
    out = []
    for i in range(n):
        tags = [UNMAPPED_TAG if unmapped[i] else TAG_POOL[main[i]]]
        if extra[i]:
            tags.append(EXTRA_TAGS[extra_idx[i]])
        out.append(tags)
    return out


def raw_frame(rng: np.random.Generator, osm_ids: np.ndarray, lon: np.ndarray,
              lat: np.ndarray) -> pd.DataFrame:
    """Raw `poi_images` rows (image_id, bytes, w, h, fmt, caption, phash)."""
    n = len(osm_ids)
    tags = random_tags(rng, n)
    sizes = rng.choice([16, 32, 64], n)
    payloads = [_png(rng.integers(0, 256, (s, s, 3), dtype=np.uint8)) for s in sizes]
    return pd.DataFrame({
        "image_id": [f"img-1-{int(o)}" for o in osm_ids],
        "bytes": payloads,
        "w": sizes.astype(np.int32),
        "h": sizes.astype(np.int32),
        "fmt": ["png"] * n,
        "caption": [caption(o, t) for o, t in zip(osm_ids, tags)],
        "phash": pack_lonlat(lon, lat),
    })


def write_parquet(df: pd.DataFrame, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


# --------------------------------------------------------------- the oracle

class Rows:
    """Driver-side copy of a table's live rows for the output checks:
    keyed by osm_id, with coordinates decoded from the raw packed int64 and
    categories mapped from the raw captions (no cell cover, no Spark)."""

    def __init__(self, osm_id, lon, lat, cats, w, h, user_bytes):
        self.osm_id = np.asarray(osm_id, dtype=np.int64)
        self.lon = np.asarray(lon, dtype=np.float64)
        self.lat = np.asarray(lat, dtype=np.float64)
        self.cats = np.asarray(cats, dtype=np.int64)  # one category per row
        self.w = np.asarray(w, dtype=np.int64)
        self.h = np.asarray(h, dtype=np.int64)
        self.user_bytes = np.asarray(user_bytes, dtype=np.int64)

    @classmethod
    def from_raw(cls, raw: pd.DataFrame) -> "Rows":
        from openpoiservice_spark import taxonomy

        ids, cats, keep = [], [], []
        for i, cap in enumerate(raw["caption"]):
            parts = dict(p.split("=", 1) for p in cap.split(";"))
            c = taxonomy.categories_of_tags(
                {k: v for k, v in parts.items() if k not in ("osm_type", "osm_id")})
            if c:
                keep.append(i)
                ids.append(int(parts["osm_id"]))
                cats.append(c[0])
        sub = raw.iloc[keep]
        lon, lat = unpack_lonlat(sub["phash"].to_numpy())
        user = (sub["bytes"].map(len).to_numpy() + sub["caption"].str.len().to_numpy()
                + sub["image_id"].str.len().to_numpy() + sub["fmt"].str.len().to_numpy()
                + 16)
        return cls(ids, lon, lat, cats, sub["w"], sub["h"], user)

    def __len__(self) -> int:
        return len(self.osm_id)

    def upsert(self, other: "Rows") -> "Rows":
        keep = ~np.isin(self.osm_id, other.osm_id)
        return Rows(*(np.concatenate([getattr(self, a)[keep], getattr(other, a)])
                      for a in ("osm_id", "lon", "lat", "cats", "w", "h", "user_bytes")))

    def drop(self, ids) -> "Rows":
        return self.subset(~np.isin(self.osm_id, np.asarray(ids, dtype=np.int64)))

    def subset(self, mask: np.ndarray) -> "Rows":
        return Rows(*(getattr(self, a)[mask]
                      for a in ("osm_id", "lon", "lat", "cats", "w", "h", "user_bytes")))

    def save(self, path: str) -> None:
        np.savez(path, **{a: getattr(self, a) for a in
                          ("osm_id", "lon", "lat", "cats", "w", "h", "user_bytes")})

    @classmethod
    def load(cls, path: str) -> "Rows":
        z = np.load(path)
        return cls(z["osm_id"], z["lon"], z["lat"], z["cats"], z["w"], z["h"],
                   z["user_bytes"])


# ------------------------------------------------------------------ caches

def code_hash(repo: str) -> str:
    """Hash of every file of the package under test."""
    h = hashlib.sha256()
    pkg = os.path.join(repo, "openpoiservice_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for name in sorted(files):
            if name.endswith(".pyc"):
                continue
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, pkg).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def inputs_hash(size: str) -> str:
    """Hash of this generator and the size's parameters: a change to either
    gives new cache keys."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read() + repr(SIZES[size]).encode()).hexdigest()[:8]


class Cache:
    def __init__(self, bench_dir: str, size: str, code: str):
        self.root = os.path.join(bench_dir, ".cache")
        self.size = size
        self.world_rows = SIZES[size].world_rows
        self.key = f"{size}-{inputs_hash(size)}"
        self.world = os.path.join(self.root, f"world-{self.key}-{code}")
        self.tmp = os.path.join(self.root, "tmp")
        os.makedirs(self.tmp, exist_ok=True)

    def seed_dir(self, seed: int) -> str:
        return os.path.join(self.root, f"seed-{self.key}-{seed}")

    def _entries(self, prefix: str) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return [os.path.join(self.root, d) for d in os.listdir(self.root)
                if d.startswith(prefix)]

    def evict(self) -> None:
        """Drop world tables of this size built by other code or another
        generator, and all but the newest KEEP_SEED_DIRS seed entries."""
        for d in self._entries(f"world-{self.size}-"):
            if d != self.world:
                shutil.rmtree(d, ignore_errors=True)
        seeds = sorted(self._entries("seed-"), key=os.path.getmtime, reverse=True)
        for d in seeds[KEEP_SEED_DIRS:]:
            shutil.rmtree(d, ignore_errors=True)

    def scratch(self, name: str) -> str:
        """An emptied directory for one run's writes."""
        p = os.path.join(self.tmp, name)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p


#: raw rows generated and written per file, which bounds the memory a
#: large world build holds
WORLD_CHUNK = 50_000


def ensure_world(cache: Cache, spark) -> tuple[str, Rows, float]:
    """The read table: raw rows from WORLD_SEED, prepared by the code under
    test.  Returns (prepared dir, oracle rows, build seconds; 0 if cached)."""
    from openpoiservice_spark import prepare

    ok = os.path.join(cache.world, "OK")
    prepared = os.path.join(cache.world, "prepared")
    oracle = os.path.join(cache.world, "oracle.npz")
    if os.path.exists(ok):
        return prepared, Rows.load(oracle), 0.0
    t0 = time.perf_counter()
    shutil.rmtree(cache.world, ignore_errors=True)
    rng = np.random.default_rng(WORLD_SEED)
    parts = []
    for k, start in enumerate(range(0, cache.world_rows, WORLD_CHUNK)):
        n = min(WORLD_CHUNK, cache.world_rows - start)
        lon, lat = scatter(rng, n)
        ids = np.arange(10_000_000 + start, 10_000_000 + start + n, dtype=np.int64)
        raw = raw_frame(rng, ids, lon, lat)
        write_parquet(raw, os.path.join(world_raw_dir(cache), f"part-{k:03d}.parquet"))
        parts.append(Rows.from_raw(raw))
    rows = Rows(*(np.concatenate([getattr(r, a) for r in parts])
                  for a in ("osm_id", "lon", "lat", "cats", "w", "h", "user_bytes")))
    prepare.prepare(spark, world_raw_dir(cache), prepared, resume=False)
    rows.save(oracle)
    with open(ok, "w") as f:
        f.write("ok\n")
    return prepared, rows, time.perf_counter() - t0


def world_raw_dir(cache: Cache) -> str:
    return os.path.join(cache.world, "raw")


def world_sample(cache: Cache, rng: np.random.Generator, n: int,
                 columns: list[str] | None = None) -> pd.DataFrame:
    """`n` raw rows of the world, drawn by `rng` from its leading files
    (enough of them for twice `n` rows).  The world's rows are drawn
    independently of their position, so the leading files are a random
    subset of the table, and reading only them bounds the I/O of a seed's
    input generation."""
    tables, have = [], 0
    for name in sorted(os.listdir(world_raw_dir(cache))):
        if have >= 2 * n:
            break
        tables.append(pq.read_table(os.path.join(world_raw_dir(cache), name), columns=columns))
        have += tables[-1].num_rows
    table = pa.concat_tables(tables)
    pick = np.sort(rng.choice(table.num_rows, n, replace=False))
    return table.take(pa.array(pick)).to_pandas()


def world_head(cache: Cache, n: int) -> pd.DataFrame:
    """The world's first `n` raw rows."""
    first = os.path.join(world_raw_dir(cache), sorted(os.listdir(world_raw_dir(cache)))[0])
    return next(pq.ParquetFile(first).iter_batches(batch_size=n)).to_pandas()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def files_per_pcell(prepared: str) -> float:
    """Parquet files per partition directory of a prepared table."""
    data = os.path.join(prepared, "data")
    parts = [d for d in os.listdir(data) if d.startswith("pcell=")]
    files = sum(f.endswith(".parquet") for d in parts for f in os.listdir(os.path.join(data, d)))
    return files / max(len(parts), 1)


def seed_cached(cache: Cache, seed: int, name: str, make):
    """`make()` once per seed entry: its result (plain Python and numpy
    data) is pickled there, so a seed's geometries and oracle answers are
    computed by its first run only."""
    path = os.path.join(cache.seed_dir(seed), f"{name}.pkl")
    if os.path.exists(path):
        os.utime(cache.seed_dir(seed))
        with open(path, "rb") as f:
            return pickle.load(f)
    out = make()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


# ------------------------------------------------------------------ corpus

def _doc(rng: np.random.Generator) -> str:
    return " ".join(rng.choice(WORDS, int(rng.integers(30, 70))))


def _edit(rng: np.random.Generator, text: str) -> str:
    words = text.split()
    for _ in range(2):
        words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
    return " ".join(words)


def ensure_corpus(cache: Cache, size: Size, seed: int) -> dict:
    """Documents with planted exact and near duplicates, clustered
    embeddings with perturbed-copy queries, and a seeded sample of the read
    table's images with planted byte-identical copies."""
    d = os.path.join(cache.seed_dir(seed), "corpus")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        os.utime(cache.seed_dir(seed))
        with open(meta_path) as f:
            return json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    rng = np.random.default_rng([seed, 1])

    n = size.docs
    texts = [_doc(rng) for _ in range(n)]
    n_exact = n // 20
    n_near = n // 10
    src = rng.choice(n, n_exact + n_near, replace=False)
    dst = rng.choice(np.setdiff1d(np.arange(n), src), n_exact + n_near, replace=False)
    exact_pairs = []
    for s, t in zip(src[:n_exact], dst[:n_exact]):
        texts[t] = texts[s]
        exact_pairs.append(sorted((int(s), int(t))))
    for s, t in zip(src[n_exact:], dst[n_exact:]):
        texts[t] = _edit(rng, texts[s])
    write_parquet(pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts}),
                  os.path.join(d, "docs", "part-0.parquet"))

    centres = rng.normal(0, 1, (32, 64))
    emb = (centres[rng.integers(0, 32, size.vectors)]
           + rng.normal(0, 0.35, (size.vectors, 64))).astype(np.float32)
    write_parquet(pd.DataFrame({"vec_id": np.arange(size.vectors, dtype=np.int64),
                                "embedding": list(emb)}),
                  os.path.join(d, "emb", "part-0.parquet"))
    qsrc = rng.choice(size.vectors, size.queries, replace=False)
    qvec = (emb[qsrc] + rng.normal(0, 0.01, (size.queries, 64))).astype(np.float32)
    write_parquet(pd.DataFrame({"query_id": np.arange(size.queries, dtype=np.int64),
                                "qvec": list(qvec)}),
                  os.path.join(d, "queries", "part-0.parquet"))

    imgs = world_sample(cache, rng, size.images, ["image_id", "bytes", "fmt"])
    n_dup = max(size.images // 40, 2)
    dup_src = rng.choice(len(imgs), n_dup, replace=False)
    dups = imgs.iloc[dup_src].copy()
    dups["image_id"] = [f"dup-{i}" for i in range(n_dup)]
    write_parquet(pd.concat([imgs, dups], ignore_index=True),
                  os.path.join(d, "images", "part-0.parquet"))

    meta = {
        "exact_pairs": exact_pairs,
        "query_src": [int(x) for x in qsrc],
        "dup_pairs": [sorted([str(imgs.iloc[s]["image_id"]), f"dup-{i}"])
                      for i, s in enumerate(dup_src)],
        "n_images": int(len(imgs) + n_dup),
    }
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return meta


# ------------------------------------------------------------------ ingest

def ensure_updates(cache: Cache, size: Size, seed: int) -> dict:
    """A seeded slice of the read table's raw rows plus, per round, one
    streamed append file, one upsert file and a delete list.  Upsert and
    delete keys are disjoint across rounds."""
    d = os.path.join(cache.seed_dir(seed), "ingest")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        os.utime(cache.seed_dir(seed))
        with open(meta_path) as f:
            return json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    rng = np.random.default_rng([seed, 2])

    sl = world_sample(cache, rng, size.slice_rows)
    write_parquet(sl, os.path.join(d, "slice", "part-0.parquet"))

    live = Rows.from_raw(sl)
    order = rng.permutation(len(live))
    per = size.upserts + size.deletes
    rounds = []
    for r in range(size.rounds):
        ids = np.arange(90_000_000 + r * size.appends,
                        90_000_000 + (r + 1) * size.appends, dtype=np.int64)
        alon, alat = scatter(rng, size.appends)
        write_parquet(raw_frame(rng, ids, alon, alat),
                      os.path.join(d, f"append-{r}", "part-0.parquet"))

        keys = live.osm_id[order[r * per:(r + 1) * per]]
        up_ids, del_ids = keys[:size.upserts], keys[size.upserts:]
        base = sl.set_index(sl["caption"].str.extract(r"osm_id=(\d+)")[0].astype(np.int64))
        ups = base.loc[up_ids].reset_index(drop=True)
        lon, lat = unpack_lonlat(ups["phash"].to_numpy())
        moved = np.arange(len(ups)) % 3 == 0
        mlon, mlat = scatter(rng, int(moved.sum()))
        lon[moved], lat[moved] = mlon, mlat
        ups["phash"] = pack_lonlat(lon, lat)
        ups["caption"] = [caption(o, t) for o, t in
                          zip(up_ids, [[TAG_POOL[int(i)]] for i in
                                       rng.integers(0, len(TAG_POOL), len(ups))])]
        write_parquet(ups, os.path.join(d, f"upsert-{r}", "part-0.parquet"))
        rounds.append({"deletes": [int(x) for x in del_ids],
                       "moved": [int(x) for x in up_ids[moved]]})
    meta = {"rounds": rounds}
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return meta


def ingest_path(cache: Cache, seed: int, name: str) -> str:
    return os.path.join(cache.seed_dir(seed), "ingest", name)
