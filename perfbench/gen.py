"""Seeded input generators for the benchmark.

Two kinds of input:

- ``write_tables``: the ten star-schema tables the query catalog reads
  (TPC-H-like ``region`` .. ``lineitem``, the ``events`` stream, and the
  ``documents`` / ``embeddings`` corpora) at the row counts of the sf0.01
  tier (the correctness tier; ``bench.py`` reads sf0.1, ten times larger,
  whose warm-up alone outlasts one run's time budget), with the same
  column types, value domains and single-row-group layout. Every timestamp
  column (``o_orderdate``, ``l_shipdate``, ``events.ts``) is written the
  way the generated sf tiers store it in their parquet footers: INT64
  TIMESTAMP(MICROS), not adjusted to UTC. (FIXTURES.md lists
  ``timestamp[ns]`` / ``timestamp[ms]``; the files themselves carry
  microseconds, and the engine plans from the files.) Near-duplicate
  documents are planted so the dedup operators have work.
- ``Container``: a blob container of dated ``.zip`` snapshots for the
  ingest workload. It holds old snapshots (a few of them several MB),
  non-``.zip`` decoys, archives with decoy entries next to the ``.bak``
  payload and archives with no payload at all. ``drop`` adds the next,
  newest snapshot and returns the payload bytes it carries.

Both are pure functions of their seed: the same seed writes the same bytes.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import io
import json
import os
import shutil
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64


# Row counts of the sf0.01 tier; region and nation are fixed-size.
TABLE_ROWS = {
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500,
}


def _ts(days: np.ndarray, base: dt.datetime) -> pa.Array:
    micros = (days * 86_400_000_000).astype("int64")
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(micros + epoch, pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    # One row group per file, like the fixtures: scan parallelism then
    # comes from the engine's own repartitioning, not from the file layout.
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for _ in range(n):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    # Plant near-duplicates: ~5% of documents copy an earlier one and
    # differ from it by a single trailing token.
    for i in range(1, n):
        if rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts[i] = src[:-4] if src.endswith(" dup") else src + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 0.08, (10, EMBED_DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (n, EMBED_DIM))).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, seed: int) -> None:
    """Write all ten tables under ``out_dir`` as ``<name>.parquet``."""
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def money(lo: float, hi: float, k: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, k), 2)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(c)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, c), f64),
        "c_mktsegment": pa.array([SEGMENTS[k] for k in rng.integers(0, 5, c)], s)})
    m = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(m), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(m)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, m), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, m), f64)})
    p = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, p), rng.integers(0, 8, p))], s),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, p)], s),
        "p_type": pa.array([PART_TYPES[k] for k in rng.integers(0, 6, p)], s),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": pa.array(900.0 + rng.integers(0, 1000, p) / 10.0, f64)})
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": pa.array([("F", "O", "P")[k] for k in rng.integers(0, 3, o)], s),
        "o_totalprice": pa.array(money(1000.0, 500000.0, o), f64),
        "o_orderdate": _ts(rng.integers(0, 2405, o).astype(float), dt.datetime(1995, 1, 1)),
        "o_orderpriority": pa.array([PRIORITIES[k] for k in rng.integers(0, 5, o)], s)})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, m, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(money(900.0, 105000.0, li), f64),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0, f64),
        "l_returnflag": pa.array([("A", "N", "R")[k] for k in rng.integers(0, 3, li)], s),
        "l_linestatus": pa.array([("F", "O")[k] for k in rng.integers(0, 2, li)], s),
        "l_shipdate": _ts(rng.integers(1, 2500, li).astype(float), dt.datetime(1995, 1, 1))})
    e = n["events"]
    gaps = rng.exponential(30 * 86400 / e, e)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": _ts(np.cumsum(gaps) / 86400.0, dt.datetime(2024, 1, 1)),
        "user_id": pa.array(rng.integers(0, max(10, e // 66), e), i64),
        "event_type": pa.array([EVENT_TYPES[k] for k in rng.integers(0, 5, e)], s),
        "value": pa.array(np.round(rng.exponential(50.0, e) + 0.01, 2), f64),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)], s)})
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    for name in TABLES:
        _write(tables[name], os.path.join(out_dir, f"{name}.parquet"))


def ensure_tables(root: str, seed: int) -> str:
    """Generate the tables once per seed under ``root``; reuse after.

    Written to a temporary sibling and renamed, so an interrupted run never
    leaves a half-written table set behind.
    """
    out = os.path.join(root, f"tables-s{seed}-sf0.01")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    write_tables(tmp, seed)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def digest(path: str, suffix: str = "") -> str:
    """sha256 over the names and bytes of the files under ``path`` whose
    names end with ``suffix``."""
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            if not f.endswith(suffix):
                continue
            h.update(os.path.relpath(os.path.join(root, f), path).encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# --- ingest container ------------------------------------------------------

KB = 1 << 10
MB = 1 << 20
OLD_SNAPSHOTS = 30  # archives in the container before the first run
BIG_SNAPSHOTS = 2   # of which several-MB


class Container:
    """A blob container of dated snapshots, grown one archive at a time."""

    def __init__(self, path: str, seed: int):
        self.path = path
        self.rng = np.random.default_rng(seed)
        self.day = dt.date(2023, 1, 1)
        self.archives: dict[str, bytes | None] = {}  # name -> payload (None: no .bak)
        os.makedirs(path, exist_ok=True)
        # Fixed composition, seeded placement and sizes: every seed gives a
        # container of about the same bytes, so refresh cost (which scales
        # with the container) does not vary with the seed.
        kinds = np.array(["big"] * BIG_SNAPSHOTS + ["empty"] * 3 + ["decoys"] * 8
                         + ["plain"] * (OLD_SNAPSHOTS - BIG_SNAPSHOTS - 11))
        self.rng.shuffle(kinds)
        for kind in kinds:
            self._archive(self._size(kind == "big"), payload=kind != "empty",
                          decoys=kind == "decoys")
            if kind == "decoys":
                self._decoy()
        # The newest pre-existing snapshot always carries a payload, so the
        # first scheduled run loads something.
        self._archive(self._size(False), payload=True)

    def _size(self, big: bool) -> int:
        if big:
            return int(self.rng.integers(18 * MB // 10, 22 * MB // 10))
        return int(self.rng.integers(128 * KB, 384 * KB))

    def _bytes(self, size: int) -> bytes:
        # Low-entropy bytes: deflate shrinks them about 2x, like a real
        # database backup, so decompression does real work.
        return self.rng.integers(0, 16, size, dtype=np.uint8).tobytes()

    def _next_name(self) -> str:
        self.day += dt.timedelta(days=1)
        return f"backup_{self.day:%Y_%m_%d}"

    def _archive(self, size: int, payload: bool = True, decoys: bool = False) -> str:
        stem = self._next_name()
        name = f"{stem}.zip"
        buf = io.BytesIO()
        data = self._bytes(size) if payload else None
        stamp = (self.day.year, self.day.month, self.day.day, 2, 0, 0)

        def put(zf: zipfile.ZipFile, entry: str, content: bytes) -> None:
            # A fixed entry timestamp keeps the archive bytes a function of
            # the seed alone.
            info = zipfile.ZipInfo(entry, date_time=stamp)
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, content, compresslevel=1)

        with zipfile.ZipFile(buf, "w") as zf:
            if decoys:
                put(zf, "readme.txt", b"restore with RESTORE DATABASE\n")
                put(zf, f"{stem}.log", self._bytes(4 * KB))
            if payload:
                put(zf, f"{stem}.bak", data)
            else:
                put(zf, "empty_export.csv", b"id,value\n")
        tmp = os.path.join(self.path, f".{name}.part")
        with open(tmp, "wb") as fh:
            fh.write(buf.getvalue())
        os.replace(tmp, os.path.join(self.path, name))
        self.archives[name] = data
        return name

    def _decoy(self) -> None:
        stem = f"{self.day:%Y_%m_%d}"
        choice = int(self.rng.integers(0, 3))
        name = (f"backup_{stem}.bak", f"notes_{stem}.txt", f"manifest_{stem}.json")[choice]
        with open(os.path.join(self.path, name), "wb") as fh:
            fh.write(self._bytes(int(self.rng.integers(1 * KB, 64 * KB))))

    def drop(self, big: bool) -> tuple[str, bytes]:
        """Land the next snapshot: mostly small payloads, sometimes multi-MB."""
        name = self._archive(self._size(big), payload=True,
                             decoys=bool(self.rng.integers(0, 2)))
        return name, self.archives[name]

    def size_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(self.path, f))
                   for f in os.listdir(self.path))
