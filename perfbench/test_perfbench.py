"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.append(os.path.dirname(HERE))

import gen  # noqa: E402
import measure  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

SMALL = gen.Sizes(customer=30, supplier=5, part=40, orders=200, events=300,
                  documents=20, embeddings=10)


def _digests(path: str) -> dict[str, str]:
    return {name: hashlib.sha256(open(os.path.join(path, name), "rb").read()).hexdigest()
            for name in sorted(os.listdir(path))}


# --- seeded inputs -------------------------------------------------------------

def test_same_seed_gives_identical_input_files(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"), 7, SMALL)
    b = gen.write_tables(str(tmp_path / "b"), 7, SMALL)
    assert a == b
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))


def test_generator_command_writes_the_named_tables(tmp_path, capsys):
    gen.main([str(tmp_path), "7", "region", "nation"])
    stats = json.loads(capsys.readouterr().out)
    assert sorted(os.listdir(tmp_path)) == ["nation.parquet", "region.parquet"]
    assert stats == {"region": {"rows": 5, "bytes": os.path.getsize(tmp_path / "region.parquet")},
                     "nation": {"rows": 25, "bytes": os.path.getsize(tmp_path / "nation.parquet")}}


def test_other_seed_gives_other_values_of_the_same_shape():
    a, b = gen.build_tables(7, SMALL), gen.build_tables(8, SMALL)
    assert {n: t.schema for n, t in a.items()} == {n: t.schema for n, t in b.items()}
    assert {n: t.num_rows for n, t in a.items()} == {n: t.num_rows for n, t in b.items()}
    assert not a["lineitem"].equals(b["lineitem"])


def test_tables_have_the_fixture_row_counts_and_keys():
    t = gen.build_tables(1, SMALL)
    assert {n: t[n].num_rows for n in gen.TABLES} == SMALL.rows()
    li = t["lineitem"].to_pandas()
    assert li.l_orderkey.between(0, SMALL.orders - 1).all()
    assert li.l_partkey.between(0, SMALL.part - 1).all()
    docs = t["documents"].to_pandas()
    assert (docs.n_chars == docs.text.str.len()).all()


def test_same_seed_gives_identical_telemetry_plan():
    a, b = gen.telemetry_plan(3, 4, 12), gen.telemetry_plan(3, 4, 12)
    assert [(r.intensity, r.mix, r.status) for r in a.runs + a.edge] == \
           [(r.intensity, r.mix, r.status) for r in b.runs + b.edge]
    assert a.backfill == b.backfill


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("runs", [3, 4, 8])
def test_telemetry_calls_are_fixed_by_counts(seed, runs):
    plan = gen.telemetry_plan(seed, runs, 12)
    statuses = [r.status for r in plan.runs]
    assert statuses == [r.status for r in gen.telemetry_plan(seed + 100, runs, 12).runs]
    # new hours are most of the timed calls; the last repeats one
    assert statuses == ["success"] * (runs - 1) + ["skipped"]
    assert [(r.status, r.rows) for r in plan.edge] == [("failure", 0)]
    kept = sum(r.rows for r in plan.runs) + plan.backfill_rows
    assert kept == len(plan.kept)
    # one row per hour in the sink
    assert len({r["timestamp"].replace(minute=0) for r in plan.kept}) == len(plan.kept)


def test_telemetry_plan_needs_a_majority_of_new_hours():
    with pytest.raises(ValueError):
        gen.telemetry_plan(1, 2, 12)


def test_rollup_check_accepts_correct_rounding_only():
    rows = [{"timestamp": gen.NOW, "overall_intensity": 100.0, "fuel_gas_perc": 10.25,
             "fuel_nuclear_perc": 0.0, "fuel_wind_perc": 1.0, "fuel_solar_perc": 2.0},
            {"timestamp": gen.NOW, "overall_intensity": 101.0, "fuel_gas_perc": 10.0,
             "fuel_nuclear_perc": 0.0, "fuel_wind_perc": 1.0, "fuel_solar_perc": 2.0}]
    want = gen.expected_rollup(rows)[gen.NOW.date().isoformat()]
    good = {"samples": 2, "avg_intensity": 101.0, "avg_clean_energy_perc": 3.0,
            "avg_gas_perc": 10.1}
    assert gen.rollup_matches(good, want)
    assert not gen.rollup_matches({**good, "samples": 3}, want)
    assert not gen.rollup_matches({**good, "avg_gas_perc": 10.3}, want)


# --- tail percentile --------------------------------------------------------------

@pytest.mark.parametrize("n", [11, 14, 20, 33, 40, 100, 1000])
def test_tail_percentile_leaves_ten_samples_beyond(n):
    samples = [float(i) for i in range(n)]
    p, value = measure.tail_percentile(samples)
    rank = math.ceil(p * n / 100)
    assert value == sorted(samples)[rank - 1]
    assert n - rank >= 10
    # the next percentile up would leave fewer than ten
    assert n - math.ceil((p + 1) * n / 100) < 10


def test_tail_percentile_known_points():
    assert measure.tail_percentile(list(range(40)))[0] == 75
    assert measure.tail_percentile(list(range(100)))[0] == 90
    assert measure.tail_percentile(list(range(1000)))[0] == 99


def test_tail_percentile_refuses_ten_or_fewer_samples():
    with pytest.raises(ValueError):
        measure.tail_percentile([1.0] * 10)


# --- spans ------------------------------------------------------------------------

def _tracer(spans):
    t = measure.Tracer()
    t.spans = [measure.Span(*s) for s in spans]
    return t


def test_self_time_subtracts_the_union_of_direct_children():
    t = _tracer([
        ("op", 0.0, 10.0, None, "a"),
        ("build", 1.0, 4.0, 0, "a"),
        ("loop", 2.0, 3.0, 1, "a"),       # grandchild: only build loses it
        ("run", 3.5, 6.0, 0, "a"),        # overlaps build by 0.5
    ])
    self_t = t.self_times()
    assert self_t["op"] == pytest.approx(10.0 - 5.0)   # union [1, 6]
    assert self_t["build"] == pytest.approx(3.0 - 1.0)
    assert self_t["loop"] == pytest.approx(1.0)
    assert self_t["run"] == pytest.approx(2.5)


def test_self_time_sums_spans_of_one_name():
    t = _tracer([("x", 0.0, 1.0, None, None), ("x", 5.0, 7.0, None, None)])
    assert t.self_times()["x"] == pytest.approx(3.0)


def test_tracer_records_parents_and_ops():
    t = measure.Tracer()
    t.op = "p1:q"
    with t.span("outer"):
        with t.span("inner"):
            assert t.inside("out")
    assert [(s.name, s.parent, s.op) for s in t.spans] == [
        ("outer", None, "p1:q"), ("inner", 0, "p1:q")]
    assert not t.inside("outer")
    off = measure.Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_union_length():
    assert measure.union_length([]) == 0.0
    assert measure.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert measure.union_length([(0, 10), (2, 3)]) == pytest.approx(10.0)


# --- REST parsing -----------------------------------------------------------------

def test_rest_times_parse_with_and_without_milliseconds():
    with_ms = measure.parse_rest_time("2026-10-17T03:41:20.123GMT")
    without = measure.parse_rest_time("2026-10-17T03:41:20GMT")
    assert with_ms - without == pytest.approx(0.123)
    assert measure.parse_rest_time(None) is None


def test_sql_metric_values_parse():
    assert measure.parse_metric_value("1,024") == 1024
    assert measure.parse_metric_value("12.5 KiB") == 12.5 * 1024
    assert measure.parse_metric_value(
        "total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB "
        "(stage 3.0: task 7))") == 2 * 1024 * 1024


# --- oracle compare -----------------------------------------------------------------

def test_compare_is_order_insensitive_and_catches_value_drift():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    b = pd.DataFrame({"v": [1.25, 0.5], "k": [2, 1]})
    assert oracle.compare(a, b) is None
    assert "rows" in oracle.compare(a, b.head(1))
    assert "values" in oracle.compare(a, b.assign(v=[1.25, 0.51]))
    assert "columns" in oracle.compare(a, b.rename(columns={"v": "w"}))


def test_tie_round_down_only_at_exact_half_ties():
    assert oracle.tie_round_down(1, 8) == 0.0012    # mean 0.00125
    assert oracle.tie_round_down(1, 3) is None      # 0.003333...
    assert oracle.tie_round_down(2, 8) is None      # 0.0025, no fifth decimal
    assert oracle.tie_round_down(None, 0) is None


def _events_con(rows):
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
                "event_type VARCHAR, value DOUBLE)")
    con.executemany("INSERT INTO events VALUES (?, ?, ?, ?, ?)", rows)
    return con


def test_user_sessions_defect_explains_only_whole_second_gaps():
    from datetime import datetime
    con = _events_con([
        (0, datetime(2024, 1, 1, 0, 0, 0, 900000), 1, "view", 1.0),
        # 30 min 0.05 s later: a new session, unless gaps are whole seconds
        (1, datetime(2024, 1, 1, 0, 30, 0, 950000), 1, "view", 1.0)])
    from flight_data_pipeline_spark.plans import registry
    registry.load_all()
    want = con.execute(registry.ORACLE_SQL["user_sessions"]).fetchdf()
    assert want["n_sessions"].tolist() == [2]
    engine = pd.DataFrame({"user_id": [1], "n_sessions": [1], "n_events": [2],
                           "avg_session_secs": [1800.0]})
    explains = oracle.KNOWN_DEFECTS["user_sessions"].explains
    assert oracle.compare(engine, want) is not None
    assert explains(engine, want, con)
    assert not explains(engine.assign(n_events=[3]), want, con)


def test_daily_rollup_defect_explains_only_a_rounded_down_tie():
    from datetime import datetime
    day = datetime(2024, 1, 1, 12)
    # eight values summing to 0.01: the mean 0.00125 is a tie at four decimals
    con = _events_con([(i, day, i, "purchase", 0.01 if i == 0 else 0.0) for i in range(8)])
    from flight_data_pipeline_spark.plans import registry
    registry.load_all()
    want = con.execute(registry.ORACLE_SQL["daily_rollup"]).fetchdf()
    assert want["avg_value"].tolist() == [0.0013]
    explains = oracle.KNOWN_DEFECTS["daily_rollup"].explains
    down = want.assign(avg_value=[0.0012], avg_purchase_value=[0.0012])
    assert explains(down, want, con)
    assert not explains(want.assign(avg_value=[0.0011]), want, con)
    assert not explains(want.assign(n_events=[9]), want, con)


# --- workload coverage -----------------------------------------------------------

def test_read_workloads_cover_exactly_the_bench_headliners():
    import bench
    union = [q for c in workloads.READ_CATALOGUES for q in c]
    assert len(union) == len(set(union)), "a headliner sits in two workloads"
    assert set(union) == set(bench.HEADLINE)


def test_read_mix_ops_are_headliners_with_oracles():
    from flight_data_pipeline_spark.plans import registry
    registry.load_all()
    ops = workloads.READ_MIX.ops
    assert len(ops) == len(set(ops))
    assert set(ops) <= {q for c in workloads.READ_CATALOGUES for q in c}
    assert set(ops) <= set(registry.ORACLE_SQL)
