"""Output checks: every result is compared with a reference computed
outside Spark, by row count and an order-insensitive value hash.

- Batch pipelines: the registry's DuckDB oracle (``oracle_sql()``) run
  over the same generated parquet.
- Ingest: :func:`expected_sink` replays the stream in plain Python
  (watermark, late rows and redeliveries included) and applies
  :func:`records.expected_batch` to each micro-batch.

None of this runs inside a timed region.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import os
from collections.abc import Iterable, Sequence
from dataclasses import dataclass

from . import records

#: Floats are compared after rounding to this many decimals: both
#: engines' oracles already round order-dependent aggregates coarser.
FLOAT_DECIMALS = 9


@dataclass(frozen=True)
class Digest:
    rows: int
    sha: str


def norm(v):
    """A canonical, engine-independent form of one value."""
    if hasattr(v, "asDict"):  # pyspark Row (struct)
        v = v.asDict(recursive=False)
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        v = round(v, FLOAT_DECIMALS) + 0.0  # + 0.0 folds -0.0 into 0.0
        return int(v) if v.is_integer() and abs(v) < 2**53 else v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    return v


def digest(columns: Sequence[str], rows: Iterable[Sequence]) -> Digest:
    """Row count plus a hash of the sorted, normalized rows, with the
    columns taken in name order (so column order does not matter)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return Digest(len(lines), h.hexdigest())


def oracle_digests(sf_dir: str, tables: Iterable[str], oracles: dict[str, str]) -> dict[str, Digest]:
    """Run each oracle SQL on DuckDB over the parquet tables in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
        out = {}
        for name, sql in oracles.items():
            rel = con.sql(sql)
            out[name] = digest(list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()


def _epoch_us(iso: str) -> int:
    dt = datetime.datetime.fromisoformat(iso).replace(tzinfo=datetime.timezone.utc)
    return int(dt.timestamp()) * 10**6 + dt.microsecond


def expected_sink(shards: list[list[dict]], watermark_s: int) -> list[Digest]:
    """Per micro-batch (one shard each) digest of the sink output.

    Replays ``dedup_stream``'s semantics on Spark: the watermark in
    effect during batch ``b`` is the max event time of batches before
    ``b`` minus ``watermark_s``; a message is dropped as late when its
    event time is behind the watermark of batch ``b - 1`` (Spark
    filters late rows with the previous batch's watermark), or as a
    redelivery when its ``event_id`` was admitted before. The inputs
    keep clear of both boundaries and of state eviction (see
    ``inputs.ingest_messages``), so a tie cannot decide the outcome."""
    seen: set = set()
    max_ts = None
    prev_wm = wm = None
    out = []
    for msgs in shards:
        late_wm, prev_wm = prev_wm, wm
        admitted = []
        for m in msgs:
            if late_wm is not None and _epoch_us(m["ts"]) < late_wm:
                continue
            if m["event_id"] in seen:
                continue
            seen.add(m["event_id"])
            admitted.append(m)
        batch_max = max(_epoch_us(m["ts"]) for m in msgs)
        max_ts = batch_max if max_ts is None else max(max_ts, batch_max)
        wm = max_ts - watermark_s * 10**6
        rows = records.expected_batch(admitted)
        cols = sorted(rows[0]) if rows else []
        out.append(digest(cols, [[r[c] for c in cols] for r in rows]))
    return out


def read_shard(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def sink_digests(out_dir: str) -> dict[int, Digest]:
    """Digest of each ``_batch_id=<n>`` partition the sink wrote."""
    import pyarrow.dataset as ds

    if not os.path.isdir(out_dir):
        return {}
    # the partition directories start with "_", which the default
    # ignore_prefixes would skip
    table = ds.dataset(
        out_dir, format="parquet", partitioning="hive", ignore_prefixes=[".", "_SUCCESS"]
    ).to_table()
    by_batch: dict[int, list] = {}
    cols = sorted(c for c in table.column_names if c != "_batch_id")
    for r in table.to_pylist():
        by_batch.setdefault(int(r["_batch_id"]), []).append([r[c] for c in cols])
    return {b: digest(cols, rows) for b, rows in by_batch.items()}
