"""Seeded, per-seed-cached inputs for the three workloads.

Each builder derives everything from ``seed`` (numpy PCG64), writes one
parquet file with pyarrow (no Spark involved, so building an input never
exercises the code under test) and records its row count and bytes in
``meta.json``. A directory with a ``meta.json`` whose seed, size and format
version match is a cache hit and is reused as is.
"""

from __future__ import annotations

import json
import shutil
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FORMAT = 1
KEEP_SEEDS = 4  # cached seeds kept per workload; older ones are pruned


def cached(root: Path, workload: str, seed: int, size: int, build) -> dict:
    """Return the meta of the cached input, building it first on a miss."""
    base = root / workload
    target = base / f"seed-{seed}-n{size}"
    meta_path = target / "meta.json"
    if meta_path.exists():
        meta = json.loads(meta_path.read_text())
        if meta.get("format") == FORMAT:
            meta_path.touch()
            return meta | {"dir": str(target), "cache_hit": True}
    shutil.rmtree(target, ignore_errors=True)
    target.mkdir(parents=True)
    meta = build(target, seed, size)
    meta.update(format=FORMAT, seed=seed, size=size)
    tmp = meta_path.with_suffix(".partial")
    tmp.write_text(json.dumps(meta, indent=1))
    tmp.replace(meta_path)  # the marker of a complete input, written last

    def last_used(p: Path) -> float:
        return (p / "meta.json").stat().st_mtime if (p / "meta.json").exists() else 0.0

    others = sorted((p for p in base.iterdir() if p != target), key=last_used)
    for stale in others[: max(len(others) - (KEEP_SEEDS - 1), 0)]:
        shutil.rmtree(stale, ignore_errors=True)
    return meta | {"dir": str(target), "cache_hit": False}


def _write(table: pa.Table, path: Path) -> dict:
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": path.stat().st_size}


# ---------------------------------------------------------------------------
# filter_job: the image+caption table, from the package's own generator
# ---------------------------------------------------------------------------

def build_images(target: Path, seed: int, size: int) -> dict:
    from gchq_data_quality_spark.sources.synthetic import IMAGES_SCHEMA, generate_rows

    rows = generate_rows(size, seed=seed)
    names = [f.name for f in IMAGES_SCHEMA.fields]
    arrow_types = {
        "bytes": pa.binary(), "w": pa.int32(), "h": pa.int32(), "phash": pa.int64(),
        "expected_keep": pa.bool_(),
    }
    schema = pa.schema([
        pa.field(f.name, arrow_types.get(f.name, pa.string()), nullable=f.nullable)
        for f in IMAGES_SCHEMA.fields
    ])
    table = pa.table({n: [getattr(r, n) for r in rows] for n in names}, schema=schema)
    return _write(table, target / "images.parquet") | {"file": "images.parquet"}


# ---------------------------------------------------------------------------
# rules_audit: an events-shaped table plus one array-of-struct column
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENT_TYPE_P = [0.36, 0.32, 0.16, 0.10, 0.06]


def build_events(target: Path, seed: int, size: int) -> dict:
    """``size`` events shaped like the sf0.1 ``events`` table plus an
    ``items`` array<struct<sku, qty>> column. Of the 10 audit rules, 7 fail
    on some rows (duplicate ids, 'error'/'signup' types, out-of-range
    values, timestamps outside 2024, bad item qty and sku) and 3 pass on
    every row, so the run collects samples for 7 rules."""
    rng = np.random.default_rng(seed)
    n = size
    event_id = np.arange(n, dtype=np.int64)
    rng.shuffle(event_id)
    dup = rng.random(n) < 0.002  # ~0.2% duplicated ids
    event_id[dup] = event_id[rng.integers(0, n, int(dup.sum()))]

    start = datetime(2024, 1, 1)
    offsets = rng.integers(-20 * 86400, 380 * 86400, n)  # straddles 2024
    ts = [start + timedelta(seconds=int(s)) for s in offsets]
    ts_null = rng.random(n) < 0.01

    kind = rng.choice(len(EVENT_TYPES), n, p=EVENT_TYPE_P)
    event_type = [EVENT_TYPES[k] for k in kind]
    purchase = kind == EVENT_TYPES.index("purchase")

    value = np.round(rng.gamma(2.0, 60.0, n), 2) + 0.01
    value[(rng.random(n) < 0.02) & ~purchase] *= -1
    value_null = (rng.random(n) < 0.03) & ~purchase

    n_items = rng.integers(0, 4, n)
    items_null = rng.random(n) < 0.02
    sku_no = rng.integers(0, 10000, int(n_items.sum()))
    sku_bad = rng.random(len(sku_no)) < 0.01
    sku_null = rng.random(len(sku_no)) < 0.01
    qty = rng.integers(1, 24, len(sku_no))  # the range rule allows 1..20
    items, pos = [], 0
    for i in range(n):
        k = int(n_items[i])
        if items_null[i]:
            items.append(None)
        else:
            items.append([
                {"sku": None if sku_null[j] else
                 (f"sku-{sku_no[j]}" if sku_bad[j] else f"SKU-{sku_no[j]:04d}"),
                 "qty": int(qty[j])}
                for j in range(pos, pos + k)
            ])
        pos += k

    table = pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array([None if m else t for t, m in zip(ts, ts_null, strict=True)],
                           pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(n // 50, 1), n), pa.int64()),
            "event_type": pa.array(event_type, pa.string()),
            "value": pa.array(value, pa.float64(), mask=value_null),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
            "items": pa.array(
                items, pa.list_(pa.struct([("sku", pa.string()), ("qty", pa.int32())]))
            ),
        }
    )
    return _write(table, target / "events.parquet") | {"file": "events.parquet"}


# ---------------------------------------------------------------------------
# neardup_dedup: documents with planted near-duplicate copies
# ---------------------------------------------------------------------------

LANGS = ["de", "en", "es", "fr", "zh"]


def _vocabulary(rng: np.random.Generator, n_words: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(3, 10, n_words)
    return ["".join(letters[rng.integers(0, 26, k)]) for k in lengths]


def build_documents(target: Path, seed: int, size: int) -> dict:
    """``size`` documents: base documents of 40-70 words drawn from a
    20k-word seeded vocabulary; ~12% of them get one planted copy and ~4% a
    second one, each copy with one character of one word replaced. Planted
    pairs sit at character-5-gram Jaccard >= ~0.93 and random pairs near 0.
    Row order and doc ids are a seeded permutation."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, 20_000)
    letters = "abcdefghijklmnopqrstuvwxyz"
    texts: list[str] = []
    while len(texts) < size:
        words = [vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(40, 71)))]
        texts.append(" ".join(words))
        r = rng.random()
        copies = 2 if r < 0.04 else 1 if r < 0.16 else 0
        for _ in range(copies):
            edited = list(words)
            w = int(rng.integers(0, len(edited)))
            c = int(rng.integers(0, len(edited[w])))
            new = letters[(letters.index(edited[w][c]) + int(rng.integers(1, 26))) % 26]
            edited[w] = edited[w][:c] + new + edited[w][c + 1 :]
            texts.append(" ".join(edited))
    texts = texts[:size]
    order = rng.permutation(size)
    doc_ids = rng.permutation(np.arange(size, dtype=np.int64) * 7 + 3)
    texts = [texts[i] for i in order]
    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), size)], pa.string()),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return _write(table, target / "documents.parquet") | {"file": "documents.parquet"}
