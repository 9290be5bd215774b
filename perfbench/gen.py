"""Seeded input generation for the benchmark workloads.

Every input a workload reads is derived from ``--seed`` here; the engine
only ever sees the files this module writes. The same seed and sizes give
byte-identical tables (checked by ``test_perfbench.py``).

Two kinds of input:

* ``write_tables`` writes the ten star-schema and extension tables
  (``region`` ... ``embeddings``) as one parquet file each, with the
  column names, physical types and value distributions of the
  ``FIXTURES.md`` section 2 tables. Row counts come from a ``Sizes``
  record, so each workload picks its own scale.
* ``telemetry_plan`` builds the raw API payloads of the reference's
  hourly job (``FIXTURES.md`` section 1 shapes), with a seeded share of
  dirty values, repeated hours and empty payloads, together with the
  status and row count each run is expected to produce.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
LANGS = ("en", "es", "zh", "de", "fr")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window")
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH = datetime(1970, 1, 1)


@dataclass(frozen=True)
class Sizes:
    """Row counts of the generated tables (region and nation are fixed)."""
    customer: int
    supplier: int
    part: int
    orders: int
    events: int
    documents: int
    embeddings: int

    @property
    def lineitem(self) -> int:
        return 4 * self.orders

    def rows(self) -> dict[str, int]:
        out = {"region": len(REGIONS), "nation": 25}
        for name in TABLES[2:]:
            out[name] = getattr(self, name)
        return out


def _rng(seed: int, table: str) -> np.random.Generator:
    """One independent stream per table, so resizing one table leaves
    every other table's values unchanged."""
    return np.random.default_rng([seed, TABLES.index(table)])


def _days_us(first: str, last: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = (datetime.fromisoformat(first) - _EPOCH).days
    hi = (datetime.fromisoformat(last) - _EPOCH).days
    return rng.integers(lo, hi + 1, n).astype(np.int64) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple, n: int, p=None) -> list:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def build_tables(seed: int, sizes: Sizes) -> dict[str, pa.Table]:
    """The ten tables as Arrow tables (in memory)."""
    n = sizes.rows()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": list(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _pick(r, SEGMENTS, n["customer"])})

    r = _rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"])})

    r = _rng(seed, "part")
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(r, PART_ADJ, np_),
                                               _pick(r, PART_NOUN, np_))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, np_)],
        "p_type": _pick(r, PART_TYPES, np_),
        "p_size": pa.array(r.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1)})

    r = _rng(seed, "orders")
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": _pick(r, ("O", "F", "P"), no),
        "o_totalprice": _money(r, 1000.0, 500000.0, no),
        "o_orderdate": _ts(_days_us("1995-01-01", "2001-08-01", no, r)),
        "o_orderpriority": _pick(r, PRIORITIES, no)})

    r = _rng(seed, "lineitem")
    nl = n["lineitem"]
    qty = r.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(r.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(18.0, 2100.0, nl), 2),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(r, ("N", "R", "A"), nl),
        "l_linestatus": _pick(r, ("F", "O"), nl),
        "l_shipdate": _ts(_days_us("1995-01-02", "2001-11-04", nl, r))})

    r = _rng(seed, "events")
    ne = n["events"]
    start = int((datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 1_000_000
    ts = np.sort(r.integers(start, start + 30 * _DAY_US, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, max(1, ne * 3 // 200), ne), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, ne),
        "value": np.round(r.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]})

    r = _rng(seed, "documents")
    nd = n["documents"]
    texts = [" ".join(_pick(r, VOCAB, int(k))) for k in r.integers(10, 100, nd)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": _pick(r, LANGS, nd, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})

    r = _rng(seed, "embeddings")
    nv = n["embeddings"]
    vec = r.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, nv), pa.int32())})
    return t


def write_tables(out_dir: str, seed: int, sizes: Sizes,
                 names: tuple[str, ...] = TABLES) -> dict[str, dict[str, int]]:
    """Write ``<table>.parquet`` files of the tables ``names`` under
    ``out_dir``; returns the rows and on-disk bytes of each."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name, table in build_tables(seed, sizes).items():
        if name not in names:
            continue
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        stats[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return stats


# --- telemetry payloads ------------------------------------------------------

FUELS = ("gas", "nuclear", "wind", "solar")
# pinned "now" for run_pipeline, after every generated window
NOW = datetime(2025, 12, 20, 12, 0, tzinfo=timezone.utc)
_FIRST_HOUR = datetime(2025, 12, 8, 0, 0, tzinfo=timezone.utc)


@dataclass
class TelemetryRun:
    """One single-window run_pipeline call and what it must produce."""
    intensity: str
    mix: str
    status: str
    rows: int


@dataclass
class TelemetryPlan:
    runs: list[TelemetryRun]              # timed, in order
    edge: list[TelemetryRun]              # run after the timed passes
    backfill: list[tuple[str, str, str]]  # (window_key, intensity, mix)
    backfill_rows: int                    # rows the backfill appends
    kept: list[dict] = field(default_factory=list)  # every row in the sink

    @property
    def offered(self) -> int:
        return len(self.runs) + len(self.backfill)


def _iso(ts: datetime, style: int) -> str:
    if style == 0:
        return ts.strftime("%Y-%m-%dT%H:%MZ")
    return ts.strftime("%Y-%m-%dT%H:%M+00:00")


def _intensity_payload(start: str, actual, forecast) -> str:
    return json.dumps({"data": [{"from": start, "to": None,
                                 "intensity": {"actual": actual, "forecast": forecast}}]})


def _mix_payload(percs: dict[str, float], as_dict: bool, upper: str | None) -> str:
    mix = [{"fuel": f.upper() if f == upper else f, "perc": p}
           for f, p in percs.items()]
    return json.dumps({"data": {"generationmix": mix} if as_dict
                       else [{"generationmix": mix}]})


def _window(rng: np.random.Generator, hour: datetime, minute: int, dirty: bool,
            style: int):
    """Payload pair for one half-hour window plus the row it yields."""
    forecast = int(rng.integers(50, 400))
    kind = int(rng.integers(0, 4)) if dirty else -1
    actual = {0: -10, 1: 1500, 2: None, 3: 0}.get(kind, int(rng.integers(50, 400)))
    percs = {f: round(float(rng.uniform(0, 60)), 1) for f in FUELS}
    if dirty and rng.random() < 0.5:
        percs["solar"] = float(rng.choice([-5.0, 150.0]))
    ts = hour + timedelta(minutes=minute)
    intensity = _intensity_payload(_iso(ts, style), actual, forecast)
    mix = _mix_payload(percs, as_dict=bool(rng.random() < 0.3),
                       upper=FUELS[int(rng.integers(0, 4))] if rng.random() < 0.3 else None)
    row = {"timestamp": ts,
           "overall_intensity": float(actual if actual else forecast),
           **{f"fuel_{f}_perc": p for f, p in percs.items()}}
    return intensity, mix, row


def telemetry_plan(seed: int, runs: int, backfill: int) -> TelemetryPlan:
    """Seeded payloads for ``runs`` timed single-window calls, one edge
    call and a ``backfill`` of windows, with every call's expected status.

    The calls and their order are fixed by the counts, not by the seed,
    so every seed does the same work (a call's cost depends on what the
    sink already holds). The timed calls are the hourly job's normal
    traffic: each but the last ingests a new hour (``success``, one row),
    and the last re-runs an hour already ingested (``skipped``), as a
    re-run of the job within the hour does. About a third of the windows
    carry out-of-range values (kept and flagged, so still ``success``).
    The edge call sends an empty payload (``failure``, no row); it runs
    outside the timed passes. The seed picks the hours and values. The
    backfill, in seeded order, re-sends a fifth of its windows' hours
    from the ingested ones (skipped), sends both half-hours of a sixth
    (the earlier one is kept), an empty payload for a tenth (dropped) and
    one new half-hour for the rest."""
    if runs < 3:
        raise ValueError("a telemetry plan needs at least 3 runs")
    rng = np.random.default_rng([seed, len(TABLES)])
    n_new = runs - 1
    hours = [_FIRST_HOUR + timedelta(hours=int(h))
             for h in rng.choice(72, n_new + backfill, replace=False)]
    plan_runs: list[TelemetryRun] = []
    seen: dict[datetime, dict] = {}
    for i in range(runs):
        hour = hours[i] if i < n_new else list(seen)[int(rng.integers(0, len(seen)))]
        intensity, mix, row = _window(
            rng, hour, int(rng.choice([0, 30])), dirty=bool(rng.random() < 0.35),
            style=int(rng.integers(0, 2)))
        if hour in seen:
            plan_runs.append(TelemetryRun(intensity, mix, "skipped", 0))
        else:
            seen[hour] = row
            plan_runs.append(TelemetryRun(intensity, mix, "success", 1))
    edge = [TelemetryRun(json.dumps({"data": []}), _mix_payload({"gas": 1.0}, False, None),
                         "failure", 0)]

    windows: list[tuple[str, str, str]] = []
    added: dict[datetime, dict] = {}
    new_hours = hours[n_new:]
    n_overlap, n_pair, n_empty = backfill // 5, backfill // 6, backfill // 10
    kinds = (["overlap"] * n_overlap + ["pair"] * n_pair + ["empty"] * n_empty
             + ["single"] * (backfill - n_overlap - n_pair - n_empty))
    for i, kind in enumerate(kinds[j] for j in rng.permutation(len(kinds))):
        if kind == "empty":
            windows.append((f"w{i}", json.dumps({"data": []}),
                            _mix_payload({"gas": 1.0}, False, None)))
            continue
        hour = list(seen)[int(rng.integers(0, len(seen)))] if kind == "overlap" else new_hours[i]
        minutes = [0, 30] if kind == "pair" else [int(rng.choice([0, 30]))]
        for m in minutes:
            intensity, mix, row = _window(rng, hour, m, dirty=bool(rng.random() < 0.35),
                                          style=int(rng.integers(0, 2)))
            windows.append((f"w{i}m{m}", intensity, mix))
            if hour not in seen and hour not in added:
                added[hour] = row
    order = rng.permutation(len(windows))
    windows = [windows[i] for i in order]
    return TelemetryPlan(plan_runs, edge, windows, len(added),
                         list(seen.values()) + list(added.values()))


def _round_half_up(x: float, places: int) -> float:
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def expected_rollup(rows: list[dict]) -> dict[str, dict]:
    """The daily cleanliness rollup of ``rows``: per ISO day, the sample
    count and the unrounded means the engine rounds."""
    days: dict[str, list[dict]] = {}
    for r in rows:
        days.setdefault(r["timestamp"].date().isoformat(), []).append(r)
    out = {}
    for day, rs in days.items():
        n = len(rs)
        out[day] = {
            "samples": n,
            "avg_intensity": sum(r["overall_intensity"] for r in rs) / n,
            "avg_clean_energy_perc": sum(r["fuel_wind_perc"] + r["fuel_solar_perc"]
                                         for r in rs) / n,
            "avg_gas_perc": sum(r["fuel_gas_perc"] for r in rs) / n,
        }
    return out


ROLLUP_PLACES = {"avg_intensity": 0, "avg_clean_energy_perc": 1, "avg_gas_perc": 1}


def rollup_matches(got: dict, want: dict) -> bool:
    """True when a rounded engine rollup row is a correct rounding of the
    expected means: equal to the half-up rounding, or (when the mean sits
    within float noise of a rounding tie) to either neighbour."""
    if got["samples"] != want["samples"]:
        return False
    for col, places in ROLLUP_PLACES.items():
        unit = 10.0 ** -places
        if abs(got[col] - _round_half_up(want[col], places)) < unit / 100:
            continue
        if abs(got[col] - want[col]) > unit / 2 + 1e-9:
            return False
    return True


def main(argv=None) -> int:
    """Write the read workload's tables (all, or the ones named):
    ``gen.py OUT_DIR SEED [TABLE ...]``; prints their rows and bytes as
    JSON. The benchmark runs this in a child process, so the generator's
    memory never shows in the measured process's peak RSS."""
    import sys

    import workloads
    out_dir, seed, *names = (argv if argv is not None else sys.argv[1:])
    print(json.dumps(write_tables(out_dir, int(seed), workloads.READ_MIX.sizes,
                                  tuple(names) or TABLES)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
