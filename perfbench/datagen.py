"""Seeded input generator for the benchmark.

Produces the ten TESTDATA.md tables (``region nation customer supplier
part orders lineitem events documents embeddings``) with the schemas and
value domains of the shipped test data, from a seed and a scale,
using numpy and pyarrow only (never the package under test).

* The same ``(seed, sf)`` gives byte-identical parquet files; every
  table draws from its own ``numpy`` stream keyed by ``(seed, table)``.
* ``replicate`` builds a k-times larger customer/orders set by
  key-offset replication of the seeded base rows, shifting every
  foreign key by the same offset (so joins stay consistent).
* Generated sets are cached under ``cache_dir`` keyed by the spec and a
  digest of this file's source (an edited generator never reuses a stale
  set); the manifest records row counts, bytes and the documents
  near-duplicate rate (share of documents that are an earlier document
  plus `` dup``).

Scales follow the shipped data: row counts at sf=1 are customer 150k,
supplier 10k, part 200k, orders 1.5M, lineitem 6M, events 1M,
documents 50k, embeddings 20k (with a floor of 500).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: rows at sf=1; region and nation are fixed-size
ROWS_AT_SF1 = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
#: share of documents that are a near-duplicate of an earlier document
NEAR_DUP_RATE = 0.05
EMBED_DIM = 64
N_LABELS = 10

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

with open(__file__, "rb") as _fh:
    #: part of every cache key, so that a changed generator regenerates
    GENERATOR_DIGEST = hashlib.sha256(_fh.read()).hexdigest()[:16]


@dataclass(frozen=True)
class Spec:
    """What to generate: a seed, a scale, the replication factor for
    customer/orders and the tables."""

    seed: int
    sf: float
    replicate: int = 1
    tables: tuple[str, ...] = TABLES

    def key(self) -> str:
        blob = json.dumps(
            [GENERATOR_DIGEST, self.seed, self.sf, self.replicate, list(self.tables)]
        )
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _rows(table: str, sf: float) -> int:
    n = max(1, round(ROWS_AT_SF1[table] * sf))
    return max(500, n) if table == "embeddings" else n


def _rng(seed: int, table: str, salt: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, TABLES.index(table), salt])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _region(spec, n_by):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })


def _nation(spec, n_by):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(spec, n_by):
    n = n_by["customer"]
    rng = _rng(spec.seed, "customer")
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    })


def _supplier(spec, n_by):
    n = n_by["supplier"]
    rng = _rng(spec.seed, "supplier")
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })


def _part(spec, n_by):
    n = n_by["part"]
    rng = _rng(spec.seed, "part")
    keys = np.arange(n, dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n)]
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n)]),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 2)),
    })


def _orders(spec, n_by, salt=0):
    n = n_by["orders"]
    rng = _rng(spec.seed, "orders", salt)
    days = rng.integers(0, 2405, n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_by["customer"], n).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(("F", "O", "P"))[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
        "o_orderdate": _ts(_EPOCH_1995 + days * _US_PER_DAY),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })


def _lineitem(spec, n_by):
    n = n_by["lineitem"]
    rng = _rng(spec.seed, "lineitem")
    days = 1 + rng.integers(0, 2499, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_by["orders"], n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_by["part"], n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_by["supplier"], n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) * 0.01, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) * 0.01, 2)),
        "l_returnflag": pa.array(np.array(("A", "N", "R"))[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(("F", "O"))[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(_EPOCH_1995 + days * _US_PER_DAY),
    })


def _events(spec, n_by):
    n = n_by["events"]
    rng = _rng(spec.seed, "events")
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
    n_users = max(1, round(n * 0.015))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(_EPOCH_2024 + ts),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(spec, n_by):
    """Random texts over the 30-word vocabulary (10-100 words each); a
    NEAR_DUP_RATE share of documents copies an earlier document's text
    and appends `` dup`` (a one-token edit)."""
    n = n_by["documents"]
    rng = _rng(spec.seed, "documents")
    lengths = rng.integers(10, 101, n)
    word_ids = rng.integers(0, len(WORDS), int(lengths.sum()))
    vocab = np.array(WORDS, dtype=object)
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(vocab[word_ids[pos:pos + ln]]))
        pos += ln
    n_dup = round(n * NEAR_DUP_RATE)
    dup_ids = np.sort(rng.choice(np.arange(1, n), size=n_dup, replace=False))
    for i in dup_ids:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    langs = np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(spec, n_by):
    """Unit vectors around ten label centroids (centroid norm ~0.07,
    per-coordinate noise sd 0.125 — the shipped data's geometry)."""
    n = n_by["embeddings"]
    rng = _rng(spec.seed, "embeddings")
    centroids = rng.normal(0.0, 0.07 / np.sqrt(EMBED_DIM), (N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n)
    x = centroids[labels] + rng.normal(0.0, 0.125, (n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}
#: key column → (table whose row count offsets it) for replication
_REPLICA_KEYS = {
    "customer": {"c_custkey": "customer"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
}


def _replicate(table: pa.Table, name: str, k: int, n_by: dict) -> pa.Table:
    """k copies of ``table`` with copy i's keys (and foreign keys) shifted
    by i × the base row count of the table they point into."""
    if k == 1 or name not in _REPLICA_KEYS:
        return table
    parts = []
    for i in range(k):
        cols = {}
        for c in table.column_names:
            col = table.column(c)
            ref = _REPLICA_KEYS[name].get(c)
            if ref is not None:
                col = pa.array(col.to_numpy() + i * n_by[ref])
            elif c == "c_name":
                col = pa.array(
                    [f"Customer#{j + i * n_by['customer']:09d}"
                     for j in range(len(table))]
                )
            cols[c] = col
        parts.append(pa.table(cols, schema=table.schema))
    return pa.concat_tables(parts)


def base_rows(spec: Spec) -> dict[str, int]:
    return {t: _rows(t, spec.sf) for t in ROWS_AT_SF1}


def build_table(spec: Spec, name: str, salt: int = 0) -> pa.Table:
    """One table of ``spec`` (``salt`` draws an alternative version —
    used for orders only)."""
    n_by = base_rows(spec)
    if name == "orders":
        table = _orders(spec, n_by, salt)
    else:
        table = _BUILDERS[name](spec, n_by)
    return _replicate(table, name, spec.replicate, n_by)


def write_table(table: pa.Table, path: str) -> int:
    """Deterministic parquet write (no pandas metadata, one row group
    per 1M rows, snappy); returns the file size."""
    table = table.replace_schema_metadata(None)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return os.path.getsize(path)


def near_dup_rate(docs: pa.Table) -> float:
    """Share of documents whose text is another document's text plus
    one or more `` dup`` suffix tokens."""
    texts = docs.column("text").to_pylist()
    seen = set(texts)
    hits = 0
    for t in texts:
        if t.endswith(" dup") and t[: -len(" dup")] in seen:
            hits += 1
    return hits / max(1, len(texts))


def generate(spec: Spec, cache_dir: str, extra_orders_salt: int | None = None) -> dict:
    """Generate (or reuse from ``cache_dir``) the tables of ``spec``.

    Returns the manifest: ``{"dir", "rows", "bytes", "near_dup_rate",
    "orders_v2"?}``. With ``extra_orders_salt`` a second orders version
    is written next to the set as ``orders_v2.parquet``."""
    key = spec.key() + ("" if extra_orders_salt is None else f"-o{extra_orders_salt}")
    out = os.path.join(cache_dir, key)
    manifest_path = os.path.join(out, "_manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        manifest["dir"] = out
        manifest["cached"] = True
        return manifest
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows, sizes, rate = {}, {}, None
    for name in spec.tables:
        table = build_table(spec, name)
        rows[name] = table.num_rows
        sizes[name] = write_table(table, os.path.join(tmp, f"{name}.parquet"))
        if name == "documents":
            rate = near_dup_rate(table)
    manifest = {
        "generator": GENERATOR_DIGEST, "seed": spec.seed, "sf": spec.sf,
        "replicate": spec.replicate, "rows": rows, "bytes": sizes,
        "near_dup_rate": rate,
    }
    if extra_orders_salt is not None:
        v2 = build_table(spec, "orders", salt=extra_orders_salt)
        manifest["orders_v2_bytes"] = write_table(
            v2, os.path.join(tmp, "orders_v2.parquet")
        )
    with open(os.path.join(tmp, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    manifest["dir"] = out
    manifest["cached"] = False
    return manifest
