"""Seeded input generator for the benchmark workloads.

Every table is synthesized from ``--seed`` with NumPy and written with
pyarrow, one parquet file and one row group per table, so row counts,
schemas and file layout are the same for every seed; the seed varies
values, order, duplicates and lateness only. Schemas match the TPC-H-ish
star schema plus ``events``/``documents``/``embeddings`` that
``datasplash_spark.queries`` is written against (``events.ts`` is a
TIMESTAMP(MICROS) without time zone, the physical type ``load_table``
normalizes to session-zone TimestampType).

Outputs are cached per seed and sizes under
``<root>/.perfbench_cache/inputs``; a finished table is renamed into
place, so an interrupted run never leaves a half-written file behind.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import shutil
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts: fixed, independent of the seed. The relational tables
#: have TPC-H sf0.01's counts, a tenth of sf0.1: at that size the fixed
#: cost of build, Catalyst and scheduling dominates a pipeline, which is
#: what the relational pipelines measure, and a run fits its budget.
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
}
#: Curation corpus: base rows times the near-duplicate replication
#: factor, sf0.1's 5000 documents and 2000 vectors; at a tenth of that,
#: the fixed cost of building each kernel outweighed its executor work.
DOC_BASE, EMB_BASE, REPLICAS = 2500, 1000, 2
EMB_DIM = 64

#: Ingest stream: records per shard and shards per drain.
SHARD_ROWS, SHARDS = 1000, 5
#: Event-time span of one shard, and the dedup watermark delay.
SHARD_SPAN_S, WATERMARK_S = 600, 600
DUP_SHARE, LATE_SHARE, NESTED_SHARE = 0.05, 0.03, 0.3

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
EPOCH_US = {
    "1995-01-01": 788918400 * 10**6,
    "2024-01-01": 1704067200 * 10**6,
}
DAY_US = 86400 * 10**6


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _region(rng, n):
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({
        "r_regionkey": pa.array(range(n), pa.int32()),
        "r_name": names[:n],
    })


def _nation(rng, n):
    return pa.table({
        "n_nationkey": pa.array(range(n), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n)],
        "n_regionkey": pa.array([i % 5 for i in range(n)], pa.int32()),
    })


def _customer(rng, n):
    seg = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": seg[rng.integers(0, 5, n)],
    })


def _supplier(rng, n):
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def _part(rng, n):
    adj = ["small", "red", "large", "blue", "green", "shiny", "old", "new"]
    noun = ["ring", "widget", "bolt", "gear", "pipe", "valve", "panel", "spring"]
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    keys = np.arange(n)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": types[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })


def _orders(rng, n):
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(EPOCH_US["1995-01-01"] + rng.integers(0, 2404, n) * DAY_US),
        "o_orderpriority": prio[rng.integers(0, 5, n)],
    })


def _lineitem(rng, n):
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(EPOCH_US["1995-01-01"] + rng.integers(1, 2499, n) * DAY_US),
    })


def _event_times(rng, n) -> np.ndarray:
    """Distinct, increasing microsecond timestamps over 30 days."""
    gaps = rng.integers(1, 2 * (30 * DAY_US) // n, n)
    return EPOCH_US["2024-01-01"] + np.cumsum(gaps)


def _events(rng, n):
    users = n * 3 // 200
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(_event_times(rng, n)),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.gamma(2.0, 30.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _base_texts(rng, n) -> list[str]:
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:  # near-dup of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(WORDS, int(rng.integers(8, 100)))
            texts.append(" ".join(words))
    return texts


def _documents(rng, n):
    base = _base_texts(rng, DOC_BASE)
    langs = LANGS[rng.choice(5, DOC_BASE, p=LANG_P)]
    sources = [f"src{s}" for s in rng.integers(0, 20, DOC_BASE)]
    ids, texts, lang, source = [], [], [], []
    for r in range(REPLICAS):  # replica 0 verbatim, later ones near-dup siblings
        for i, t in enumerate(base):
            ids.append(r * DOC_BASE + i)
            texts.append(t if r == 0 else f"{t} {rng.choice(WORDS)} replica{r}")
            lang.append(langs[i])
            source.append(sources[i])
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": lang,
        "source": source,
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    base = rng.standard_normal((EMB_BASE, EMB_DIM))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    labels = rng.integers(0, 10, EMB_BASE)
    reps = [base] + [
        base + rng.normal(0.0, 0.002, base.shape) for _ in range(REPLICAS - 1)
    ]
    vecs = np.concatenate(reps).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(np.tile(labels, REPLICAS), pa.int32()),
    })


TABLES: dict[str, Callable] = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def _table_seed(seed: int, name: str) -> list[int]:
    return [seed, sorted(TABLES).index(name)]


def _seed_dir(cache: str, seed: int) -> str:
    """The cache directory of ``seed``, tagged with the sizes above so
    that inputs cached with other sizes are not reused."""
    sizes = (ROWS, DOC_BASE, EMB_BASE, REPLICAS, EMB_DIM, SHARD_ROWS, SHARDS,
             SHARD_SPAN_S, WATERMARK_S, DUP_SHARE, LATE_SHARE, NESTED_SHARE)
    tag = hashlib.sha256(repr(sizes).encode()).hexdigest()[:12]
    return os.path.join(cache, "inputs", f"seed-{seed}-{tag}")


def write_tables(cache: str, seed: int, names) -> str:
    """Write (or reuse) the parquet tables ``names`` for ``seed``;
    returns the directory that holds ``<name>.parquet``."""
    out = _seed_dir(cache, seed)
    os.makedirs(out, exist_ok=True)
    for name in names:
        path = os.path.join(out, f"{name}.parquet")
        if os.path.exists(path):
            continue
        rng = np.random.default_rng(_table_seed(seed, name))
        table = TABLES[name](rng, ROWS.get(name, 0))
        tmp = path + ".tmp"
        pq.write_table(table, tmp, row_group_size=max(table.num_rows, 1))
        os.replace(tmp, path)
    return out


# ---------------------------------------------------------------- ingest


#: Spark schema of the ingest messages; keys absent from a message read as null.
INGEST_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, source STRING, props MAP<STRING, BIGINT>"
)


def _iso(us: int) -> str:
    t = datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=int(us))
    return t.isoformat(timespec="microseconds")


def ingest_messages(seed: int) -> list[list[dict]]:
    """The ingest stream for ``seed``: ``SHARDS`` lists of messages in
    arrival order. Shard ``s`` covers event times
    ``[s, s+1) * SHARD_SPAN_S`` after 2024-01-01, shuffled and jittered
    back by up to half the watermark delay (out of order, never late).
    The seed picks which messages

    - are redelivered (an exact copy later in the same or the next shard);
    - are late: in shards after the first, stamped an hour before the
      shard, far behind the watermark (Spark drops them from the third
      shard on, since it filters late rows with the previous batch's
      watermark);
    - carry a nested ``props`` map, a ``value`` or a ``source`` key
      (messages have differing key sets).
    """
    rng = np.random.default_rng([seed, 1000])
    span_us, jitter_us = SHARD_SPAN_S * 10**6, WATERMARK_S * 10**6 // 2
    shards: list[list[dict]] = [[] for _ in range(SHARDS)]
    next_id = 0
    for s in range(SHARDS):
        start = EPOCH_US["2024-01-01"] + s * span_us
        n_fresh = SHARD_ROWS - int(SHARD_ROWS * DUP_SHARE)
        ts = start + rng.integers(0, span_us, n_fresh)
        ts -= rng.integers(0, jitter_us, n_fresh) * (rng.random(n_fresh) < 0.2)
        late = (rng.random(n_fresh) < LATE_SHARE) & (s > 0)
        ts[late] = start - 3600 * 10**6 + rng.integers(0, span_us, int(late.sum()))
        for i in range(n_fresh):
            msg = {
                "event_id": next_id,
                "ts": _iso(ts[i]),
                "user_id": int(rng.integers(0, 150)),
                "event_type": str(EVENT_TYPES[rng.integers(0, 5)]),
            }
            next_id += 1
            if rng.random() < 0.8:
                msg["value"] = round(float(rng.gamma(2.0, 30.0)), 2)
            if rng.random() < 0.5:
                msg["source"] = f"src{int(rng.integers(0, 8))}"
            if rng.random() < NESTED_SHARE:
                keys = rng.choice(["k", "depth", "retries"], int(rng.integers(1, 4)), replace=False)
                msg["props"] = {str(k): int(rng.integers(0, 100)) for k in keys}
            shards[s].append(msg)
        rng.shuffle(shards[s])
    # redeliveries: copies of earlier messages, same or next shard
    for s in range(SHARDS):
        for _ in range(SHARD_ROWS - len(shards[s])):
            src = s if s == 0 or rng.random() < 0.5 else s - 1
            pool = shards[src]
            shards[s].insert(int(rng.integers(0, len(shards[s]) + 1)),
                             dict(pool[int(rng.integers(0, len(pool)))]))
    return shards


def write_shards(cache: str, seed: int) -> list[str]:
    """Write (or reuse) the ingest shards for ``seed`` as JSON lines;
    returns their paths in arrival order."""
    out = os.path.join(_seed_dir(cache, seed), "ingest")
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for s, msgs in enumerate(ingest_messages(seed)):
            with open(os.path.join(tmp, f"part-{s:05d}.json"), "w") as f:
                for m in msgs:
                    f.write(json.dumps(m, separators=(",", ":")) + "\n")
        os.replace(tmp, out)
    return [os.path.join(out, n) for n in sorted(os.listdir(out))]
