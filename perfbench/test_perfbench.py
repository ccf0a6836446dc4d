"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import check, inputs, metrics, records, trace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_metric_definitions():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == ["batch", "ingest"]
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == metrics.PER_LAYER
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"]) <= 0.25


def test_every_layer_metric_names_the_metric_it_should_move():
    for name in metrics.PER_LAYER:
        assert any(name.startswith(p) for p in metrics.TARGETS), name


def test_payload_shape():
    values = {k: 1.5 for k in metrics.END_TO_END}
    line = metrics.payload(True, 3, 0, values, metrics.END_TO_END)
    p = json.loads(line)
    assert "\n" not in line
    assert set(p) == {"correct", "attempted", "failed", "metrics"}
    assert set(p["metrics"]) == set(metrics.END_TO_END)
    for name, m in p["metrics"].items():
        assert m == {"value": 1.5, "unit": metrics.END_TO_END[name][0]}
    with pytest.raises(KeyError):
        metrics.payload(True, 1, 0, {}, metrics.END_TO_END)


def test_digest_ignores_row_and_column_order_but_not_values():
    a = check.digest(["x", "y"], [(1, 2.0), (3, 4.5)])
    assert a == check.digest(["y", "x"], [(4.5, 3), (2.0, 1)])
    assert a != check.digest(["x", "y"], [(1, 2.0), (3, 4.6)])
    assert a.rows == 2


def test_a_corrupted_expected_hash_fails_the_pipeline_check():
    from perfbench import workloads

    class Result:
        columns = ["x"]

        def collect(self):
            return [(1,), (2,)]

    wl = workloads.BatchWorkload(("q",), ())
    ctx = workloads.Context(spark=None, work="", seconds=0, cpus=1)
    prep = {"fns": {"q": lambda spark, sf_dir: Result()}, "sf_dir": "",
            "expected": {"q": check.digest(["x"], [(1,), (2,)])}}
    out = workloads.Outcome()
    wl._one(ctx, prep, out, "q", False, "warm")
    assert (out.attempted, out.failures) == (1, [])
    prep["expected"]["q"] = check.Digest(2, "0" * 64)
    wl._one(ctx, prep, out, "q", False, "warm")
    assert out.attempted == 2 and len(out.failures) == 1


def test_norm_unifies_engine_representations():
    import datetime
    import decimal

    assert check.norm(decimal.Decimal("1.50")) == check.norm(1.5)
    assert check.norm(2.0) == check.norm(2) == 2
    assert check.norm(-0.0) == check.norm(0.0)
    assert check.norm({"b": 1, "a": [1, 2]}) == (("a", (1, 2)), ("b", 1))
    ts = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    assert check.norm(ts) == "2024-01-01T00:00:00"


def test_expected_sink_drops_redeliveries_and_late_rows_with_a_lagging_watermark():
    def msg(i, minute, **kw):
        return {"event_id": i, "ts": f"2024-01-01T{minute // 60:02d}:{minute % 60:02d}:00",
                "user_id": 1, "event_type": "view", **kw}

    shards = [
        [msg(0, 60), msg(1, 70)],
        [msg(2, 80), msg(3, 5), msg(1, 70)],  # 3: late but admitted (no watermark yet)
        [msg(4, 90), msg(5, 1), msg(2, 80)],  # 5: late, 2: redelivered
    ]
    got = check.expected_sink(shards, watermark_s=600)
    want = [
        records.expected_batch([shards[0][0], shards[0][1]]),
        records.expected_batch([shards[1][0], shards[1][1]]),
        records.expected_batch([shards[2][0]]),
    ]
    assert [g.rows for g in got] == [1, 1, 1]
    for g, w in zip(got, want):
        cols = sorted(w[0])
        assert g == check.digest(cols, [[r[c] for c in cols] for r in w])


def test_ingest_inputs_are_seeded_and_fixed_in_size():
    a, b = inputs.ingest_messages(3), inputs.ingest_messages(3)
    c = inputs.ingest_messages(4)
    assert a == b and a != c
    assert [len(s) for s in a] == [len(s) for s in c] == [inputs.SHARD_ROWS] * inputs.SHARDS
    keysets = {frozenset(m) for s in a for m in s}
    assert len(keysets) > 1  # messages have differing key sets


def test_tables_keep_schema_and_size_across_seeds(tmp_path):
    import pyarrow.parquet as pq

    names = ("events", "documents")
    d1 = inputs.write_tables(str(tmp_path / "a"), 1, names)
    d2 = inputs.write_tables(str(tmp_path / "b"), 2, names)
    for n in names:
        f1, f2 = (pq.ParquetFile(os.path.join(d, f"{n}.parquet")) for d in (d1, d2))
        assert f1.schema_arrow == f2.schema_arrow
        assert f1.metadata.num_rows == f2.metadata.num_rows
        assert f1.metadata.num_row_groups == f2.metadata.num_row_groups == 1
    ts = pq.ParquetFile(os.path.join(d1, "events.parquet")).schema.column(1)
    assert ts.name == "ts" and ts.physical_type == "INT64"
    assert "timeUnit=microseconds" in str(ts.logical_type)
    assert "isAdjustedToUTC=false" in str(ts.logical_type)


def test_metric_value_parses_status_store_strings():
    assert trace.metric_value("1,234") == 1234
    assert trace.metric_value("2.0 KiB") == 2048
    assert trace.metric_value("total (min, med, max)\n1.5 s (0.1 s, 0.5 s, 0.9 s)") == 1.5
    assert trace.metric_value("15 ms") == pytest.approx(0.015)


def test_self_time_subtracts_children():
    s = trace.Span
    spans = [s(1, "a", "x", 0, 10 * 10**9, None, 1), s(2, "b", "y", 2 * 10**9, 5 * 10**9, 1, 1)]
    assert trace.self_times(spans) == {1: 7.0, 2: 3.0}


def test_run_refuses_a_directory_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert "correct" not in r.stdout


def test_per_pass_divides_totals_but_not_ratios():
    totals = {
        "scheduler.jobs": 10, "executor.run_s": 3.0,
        "pipeline.load_table_hit_ratio": 0.75, "executor.busy_frac": 0.4,
    }
    got = metrics.per_pass(totals, 2)
    assert got == {
        "scheduler.jobs": 5, "executor.run_s": 1.5,
        "pipeline.load_table_hit_ratio": 0.75, "executor.busy_frac": 0.4,
    }
    ratios = [k for k, (unit, _) in metrics.PER_LAYER.items() if unit == "ratio"]
    assert all(metrics.per_pass({k: 0.5}, 3) == {k: 0.5} for k in ratios)


def test_wall_is_the_sum_of_step_medians():
    from perfbench import workloads

    out = workloads.Outcome()
    for a, b in ((1.0, 2.0), (1.2, 9.0), (1.1, 2.2)):  # pass 2 has a slow step b
        out.step("a", a)
        out.step("b", b)
    assert out.wall_s == pytest.approx(1.1 + 2.2)
