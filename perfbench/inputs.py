"""Seeded input generator for the benchmark.

The engine derives its image table from ``orders.o_orderkey`` alone
(``synth.images``), so the large workloads need only a key column. Keys are
written as contiguous ranges whose start offsets the seed draws:

- every range starts on a multiple of ``KEY_PERIOD`` and is a multiple of it
  long, so every key-derived property (the 30% hot cluster ``key % 10 < 3``,
  the w/h/fmt cycles, the month/year grouping, the ``key % 7`` tag) has
  exactly the same distribution for every seed;
- keys stay in ``[KEY_LO, KEY_HI)``: image ids and item ids then keep a fixed
  digit count (so output bytes per image do not depend on the seed) and
  ``key * synth.A_LON`` stays far inside int64 (Spark's ANSI mode raises on
  overflow).

The query-mix fixture is generated with a fixed seed, so its expected
results can be recorded once; the benchmark seed only permutes query order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_PERIOD = 420  # lcm of the key-derived cycles: 10, 12 (month/year), 4, 7
KEY_LO, KEY_HI = 20_000_000, 100_000_000
ROWS_PER_FILE = 149_940  # 357 * KEY_PERIOD: one sf0.1 orders table per file

N_NATIONS, N_REGIONS = 25, 5
FIXTURE_SEED = 42
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS, LANG_P = ["en", "zh", "es", "fr", "de"], [0.4, 0.15, 0.15, 0.15, 0.15]
EMBED_DIM = 64


def _write(table: pa.Table, path: str) -> dict:
    # one row group, fixed codec: the bytes depend only on the table content
    pq.write_table(table, path, compression="snappy", row_group_size=len(table) or 1)
    return {"path": os.path.basename(path), "rows": len(table), "bytes": os.path.getsize(path)}


def write_nation(out_dir: str) -> dict:
    """The 25-row nation table the boundary grid derives from (same content
    and types as the driver fixture: region = nation % 5)."""
    keys = np.arange(N_NATIONS, dtype=np.int32)
    table = pa.table(
        {
            "n_nationkey": keys,
            "n_name": [f"NATION_{k}" for k in keys],
            "n_regionkey": (keys % N_REGIONS).astype(np.int32),
        }
    )
    return _write(table, os.path.join(out_dir, "nation.parquet"))


def key_starts(seed: int, n_files: int, rows_per_file: int) -> list[int]:
    """Seed-drawn, disjoint, sorted range starts inside ``[KEY_LO, KEY_HI)``."""
    if rows_per_file % KEY_PERIOD:
        raise ValueError(f"rows_per_file must be a multiple of {KEY_PERIOD}")
    lo = -(-KEY_LO // KEY_PERIOD) * KEY_PERIOD
    n_slots = (KEY_HI - lo) // rows_per_file
    if n_files > n_slots:
        raise ValueError(f"{n_files} files do not fit in {n_slots} key slots")
    slots = np.random.default_rng(seed).choice(n_slots, size=n_files, replace=False)
    return [lo + int(s) * rows_per_file for s in sorted(slots)]


def write_orders_keys(
    out_dir: str, seed: int, n_files: int, rows_per_file: int = ROWS_PER_FILE
) -> dict:
    """A multi-file ``orders.parquet/`` directory: one contiguous key range
    per file. Returns the manifest (files, rows, bytes, key starts)."""
    d = os.path.join(out_dir, "orders.parquet")
    os.makedirs(d, exist_ok=True)
    starts = key_starts(seed, n_files, rows_per_file)
    files = [
        _write(
            pa.table({"o_orderkey": np.arange(s, s + rows_per_file, dtype=np.int64)}),
            os.path.join(d, f"part-{i:05d}.parquet"),
        )
        for i, s in enumerate(starts)
    ]
    return {
        "seed": seed,
        "starts": starts,
        "rows": sum(f["rows"] for f in files),
        "bytes": sum(f["bytes"] for f in files),
        "files": len(files),
    }


def write_image_inputs(
    out_dir: str, seed: int, n_files: int, rows_per_file: int = ROWS_PER_FILE
) -> dict:
    """Everything ``synth.images`` / ``synth.boundaries`` read."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = write_orders_keys(out_dir, seed, n_files, rows_per_file)
    nation = write_nation(out_dir)
    manifest["rows_total"] = manifest["rows"] + nation["rows"]
    manifest["bytes_total"] = manifest["bytes"] + nation["bytes"]
    return manifest


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), size=max(1, len(words) // 20)):
                words[j] = "dup"
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), size=int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[k] for k in rng.choice(len(LANGS), size=n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, size=n).astype(np.int32),
        }
    )


def write_query_fixture(
    out_dir: str, n_orders: int = 1500, n_docs: int = 500, n_vecs: int = 500
) -> dict:
    """The small single-row-group tables the query mix reads (sf0.001 sizes:
    orders keys ``0..n_orders-1`` as in the driver fixture, plus nation,
    documents and embeddings). Fixed seed: the content never varies."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(FIXTURE_SEED)
    files = [
        _write(pa.table({"o_orderkey": np.arange(n_orders, dtype=np.int64)}),
               os.path.join(out_dir, "orders.parquet")),
        write_nation(out_dir),
        _write(_documents(rng, n_docs), os.path.join(out_dir, "documents.parquet")),
        _write(_embeddings(rng, n_vecs), os.path.join(out_dir, "embeddings.parquet")),
    ]
    return {
        "rows_total": sum(f["rows"] for f in files),
        "bytes_total": sum(f["bytes"] for f in files),
        "files": files,
    }
