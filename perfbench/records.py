"""Per-message functions of the ingest workload's object-mode pipeline.

They run inside Spark's Python workers, which import this module by
name, so it imports nothing heavy. ``expected_batch`` is the same
pipeline in plain Python, the reference the sink output is checked
against.
"""

from __future__ import annotations

#: Output columns of one micro-batch's pipeline, in Spark DDL.
OUTPUT_SCHEMA = (
    "bucket BIGINT, event_type STRING, n BIGINT, value_sum DOUBLE, "
    "n_nested BIGINT, n_keys BIGINT"
)


def present(msg: dict) -> dict:
    """Drop null fields, so messages keep their own key sets.
    ``PCollection.from_dataframe`` hands a null DOUBLE over as NaN
    (it converts through pandas), so NaN counts as absent too."""
    return {k: v for k, v in msg.items() if v is not None and v == v}


def not_error(msg: dict) -> bool:
    return msg["event_type"] != "error"


def bucket_key(msg: dict) -> tuple:
    return (msg["user_id"] % 16, msg["event_type"])


def fold(acc, msg: dict):
    """Reduce step: (count, value sum, nested-map count, key count)."""
    n, total, nested, keys = acc
    return (
        n + 1,
        total + msg.get("value", 0.0),
        nested + ("props" in msg),
        keys + len(msg),
    )


def zero():
    return (0, 0.0, 0, 0)


def merge(a, b):
    return tuple(x + y for x, y in zip(a, b))


COMBINER = {"init": zero, "reduce": fold, "combine": merge}


def to_row(kv) -> dict:
    (bucket, event_type), (n, total, nested, keys) = kv
    return {
        "bucket": bucket,
        "event_type": event_type,
        "n": n,
        "value_sum": round(total, 6),
        "n_nested": nested,
        "n_keys": keys,
    }


def expected_batch(msgs: list[dict]) -> list[dict]:
    """The pipeline above, in plain Python, over one batch's admitted messages."""
    accs: dict = {}
    for m in map(present, msgs):
        if not_error(m):
            k = bucket_key(m)
            accs[k] = fold(accs.get(k, zero()), m)
    return [to_row(kv) for kv in accs.items()]
