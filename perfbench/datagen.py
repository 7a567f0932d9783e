"""Seeded input generators for the benchmark.

Two families of inputs:

* ``write_tables`` — the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that the query registry reads.  The
  layout (column names, types, value domains, one row group per file,
  5% near-duplicate documents that are an earlier text plus `` dup``,
  unit-norm 64-d embeddings with 10 labels) follows the test data
  described in TESTDATA.md and FIXTURES.md §B.  These tables are
  built once per checkout from a fixed seed: they are the database the
  workloads query, not a per-run input.
* ``musemotion_rows`` / ``write_csv`` / ``etl_inputs`` — the dirty
  headerless MuseMotion CSV (11 logical + 4 junk fields, FIXTURES.md
  §A1) and the per-run update files, generated from the run's seed.
  The generator also computes the answers the engine must reproduce:
  dashboard KPIs and the last-wins snapshot after every update.
"""

from __future__ import annotations

import decimal
import hashlib
import os
import random
import re
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["red", "new", "hot", "old", "large", "small", "blue", "cold"]
_NOUNS = ["bolt", "gear", "ring", "widget", "anvil", "gizmo", "plate", "rod"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01", "D")


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (TESTDATA.md sizes)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    a = (np.datetime64(lo, "D") - _EPOCH_1995).astype(int)
    b = (np.datetime64(hi, "D") - _EPOCH_1995).astype(int)
    return (_EPOCH_1995 + rng.integers(a, b + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P).tolist()),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n).astype(np.int32)
    vecs = centers[labels] * 0.35 + rng.normal(0.0, 1.0, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def build_tables(sf: float, seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    """Every registry table at scale ``sf``, deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    i32, i64 = np.int32, np.int64
    nc, ns, np_, no, nl, ne = (n[t] for t in ("customer", "supplier", "part", "orders", "lineitem", "events"))
    users = max(1, round(15_000 * sf))
    # events: increasing timestamps over 30 days with microsecond jitter
    gaps = rng.exponential(30 * 86_400e6 / ne, ne)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    return {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=i32)), "r_name": _REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=i32)),
                "n_name": [f"NATION_{k}" for k in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc, dtype=i64)),
                "c_name": [f"Customer#{k:09d}" for k in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(i32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
                "c_mktsegment": rng.choice(_SEGMENTS, nc).tolist(),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns, dtype=i64)),
                "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
                "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(i32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(np_, dtype=i64)),
                "p_name": [
                    f"{_COLORS[a]} {_NOUNS[b]}"
                    for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
                ],
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, np_)],
                "p_type": rng.choice(_PTYPES, np_).tolist(),
                "p_size": pa.array(rng.integers(1, 51, np_).astype(i32)),
                "p_retailprice": pa.array(np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no, dtype=i64)),
                "o_custkey": pa.array(rng.integers(0, nc, no).astype(i64)),
                "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
                "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", no)),
                "o_orderpriority": rng.choice(_PRIORITIES, no).tolist(),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl).astype(i64)),
                "l_partkey": pa.array(rng.integers(0, np_, nl).astype(i64)),
                "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(i64)),
                "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(i32)),
                "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
                "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
                "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
                "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
                "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", nl)),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(ne, dtype=i64)),
                "ts": pa.array(ts),
                "user_id": pa.array(rng.integers(0, users, ne).astype(i64)),
                "event_type": rng.choice(_EVENT_TYPES, ne).tolist(),
                "value": pa.array(np.round(np.maximum(rng.exponential(50.0, ne), 0.01), 2)),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
            }
        ),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def write_tables(sf: float, out_dir: str, seed: int = TABLE_SEED) -> None:
    """Write one single-row-group parquet file per table into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)


# ---------------------------------------------------------------------------
# MuseMotion CSV (FIXTURES.md §A1) and its expected cleaned form
# ---------------------------------------------------------------------------

_MAKES = [
    "TESLA", "NISSAN", "CHEVROLET", "FORD", "BMW", "KIA", "TOYOTA", "VOLKSWAGEN", "JEEP",
    "HYUNDAI", "RIVIAN", "VOLVO", "AUDI", "CHRYSLER", "MERCEDES-BENZ", "PORSCHE", "MITSUBISHI",
    "MINI", "POLESTAR", "SUBARU", "LEXUS", "FIAT", "HONDA", "LINCOLN", "CADILLAC", "MAZDA",
    "JAGUAR", "SMART", "GENESIS", "LUCID", "DODGE", "LAND ROVER", "FISKER", "ALFA ROMEO",
    "BENTLEY", "WHEEGO",
]
_MODEL_WORDS = ["MODEL Y", "MODEL 3", "LEAF", "BOLT EV", "MUSTANG MACH-E", "I3", "NIRO", "PRIUS PRIME",
                "ID.4", "GRAND CHEROKEE", "IONIQ 5", "R1S", "XC90", "E-TRON", "PACIFICA", "EQS"]
_CITIES = ["Seattle", "Bellevue", "Redmond", "Kirkland", "Tacoma", "Olympia", "Spokane", "Everett",
           "Renton", "Bothell", "Vancouver", "Sammamish", "Issaquah", "Yakima", "Bremerton", "Lynnwood"]
_VTYPES = ["Battery Electric Vehicle (BEV)", "Plug-in Hybrid Electric Vehicle (PHEV)"]
_ELIG = [
    "Clean Alternative Fuel Vehicle Eligible",
    "Not eligible due to low battery range",
    "Eligibility unknown as battery range has not been researched",
]
_UTILS = [
    "PUGET SOUND ENERGY INC",
    "CITY OF SEATTLE - (WA)",
    "BONNEVILLE POWER ADMINISTRATION",
    "CITY OF TACOMA - (WA)",
    "PACIFICORP",
    "AVISTA CORP",
]


def _vin(rng: random.Random) -> str:
    return "".join(rng.choice("0123456789ABCDEFGHJKLMNPRSTUVWXYZ") for _ in range(10))


def _dirty_row(rng: random.Random, vin: str, version: int) -> list[str]:
    """One raw 15-field record; ``version`` becomes the vehicle_id."""
    make = _MAKES[0] if rng.random() < 0.4 else rng.choice(_MAKES[1:])
    city = rng.choice(_CITIES)
    city = rng.choice([city, city.upper(), f"  {city} ", city.lower()])
    if rng.random() < 0.005:
        city = rng.choice(["", "nan", "None", "  "])
    year = str(rng.randint(2008, 2026))
    if rng.random() < 0.02:
        year = rng.choice(["N/A", "", "20x1", " 2019 "])
    rng_ = str(rng.choice([0, 0, 0, rng.randint(6, 340)]))
    if rng.random() < 0.02:
        rng_ = rng.choice(["nan", "", "unknown"])
    lon, lat = -124.0 + rng.random() * 7.0, 45.5 + rng.random() * 3.5
    loc = f"POINT ({lon:.5f} {lat:.5f})"
    if rng.random() < 0.03:
        loc = rng.choice(["", "POINT ()", "None", "POINT (-122.3"])
    k = rng.choice([1, 1, 2, 3])
    util = rng.choice(["|", "||"]).join(rng.sample(_UTILS, k))
    junk = rng.choice([["", "", "", ""], [vin, "", "", ""], [")", "0", "", ""], ["", "", "0", ""]])
    model = rng.choice(_MODEL_WORDS)
    if rng.random() < 0.01:
        model = rng.choice(["nan", "None", ""])
    return [vin, city, year, make, model, rng.choice(_VTYPES), rng.choice(_ELIG), rng_,
            str(version), loc, util, *junk]


_WS = re.compile(r"^\s+|\s+$")


def _clean_text(v: str) -> str | None:
    t = _WS.sub("", v)
    return None if t in ("nan", "None", "") else t


def _clean_int(v: str) -> int | None:
    t = _WS.sub("", v)
    return int(t) if re.fullmatch(r"[+-]?\d+", t) else None


#: cleaned columns :func:`clean_row` reproduces, in tuple order
CHECKED_COLUMNS = ("vin", "city", "year", "make", "model", "electric_range", "vehicle_id")


def clean_row(raw: list[str]) -> tuple | None:
    """The :data:`CHECKED_COLUMNS` projection of one raw record after
    cleaning, or None when the cleaning layer drops it (null vin or
    city).  Mirrors operators.etl.clean_musemotion for those columns."""
    vin, city = _clean_text(raw[0]), _clean_text(raw[1])
    if vin is None or city is None:
        return None
    return (vin, city, _clean_int(raw[2]), _clean_text(raw[3]), _clean_text(raw[4]),
            _clean_int(raw[7]), _clean_int(raw[8]))


def _csv_field(v: str) -> str:
    return f'"{v}"' if ("," in v or '"' in v) else v


def write_csv(path: str, rows: list[list[str]]) -> int:
    """Write headerless CSV; returns the bytes written."""
    with open(path, "w", newline="") as fh:
        for r in rows:
            fh.write(",".join(_csv_field(v) for v in r) + "\n")
    return os.path.getsize(path)


def musemotion_rows(seed: int, n: int, dup_frac: float = 0.2) -> list[list[str]]:
    """``n`` raw records; ``dup_frac`` of them repeat an earlier VIN as
    an identical record, so every last-wins choice yields the same row."""
    rng = random.Random(seed)
    rows: list[list[str]] = []
    for i in range(n):
        if rows and rng.random() < dup_frac:
            rows.append(list(rows[rng.randrange(len(rows))]))
        else:
            rows.append(_dirty_row(rng, _vin(rng), 100_000_000 + i))
    return rows


def _round_half_up(x: float, places: int) -> float:
    q = decimal.Decimal(1).scaleb(-places)
    return float(decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP))


def kpis(clean: list[tuple]) -> dict | None:
    """Dashboard KPI row (operators.etl.kpi_summary) over cleaned rows."""
    if not clean:
        return None
    years = [r[2] for r in clean if r[2] is not None]
    ranges = [r[5] for r in clean if r[5] is not None]
    return {
        "total_vehicles": len(clean),
        "avg_year": _round_half_up(sum(years) / len(years), 1) if years else None,
        "avg_electric_range": _round_half_up(sum(ranges) / len(ranges), 2) if ranges else None,
    }


def _counts(rows: list[tuple], i: int) -> dict:
    out: dict = {}
    for r in rows:
        out[r[i]] = out.get(r[i], 0) + 1
    return out


def filter_options(clean: list[tuple]) -> dict[str, list[str]]:
    """Sorted distinct non-null city/model/make values (the sidebar)."""
    return {c: sorted({r[i] for r in clean if r[i] is not None}) for c, i in
            (("city", 1), ("model", 4), ("make", 3))}


def dashboard_choices(seed: int, clean: list[tuple], n: int) -> list[dict]:
    """``n`` seeded sidebar selections, each with its expected KPI row
    and chart counts.

    A selection narrows ``city`` and ``make`` to a few observed values;
    every selection is non-empty so each refresh runs all four widgets.
    """
    rng = random.Random(seed * 7919 + 1)
    cities = sorted({r[1] for r in clean})
    makes = sorted({r[3] for r in clean if r[3] is not None})
    out = []
    while len(out) < n:
        choice = {"city": rng.sample(cities, min(len(cities), rng.randint(3, 8))),
                  "make": rng.sample(makes, min(len(makes), rng.randint(2, 6)))}
        cs, ms = set(choice["city"]), set(choice["make"])
        sel = [r for r in clean if r[1] in cs and r[3] in ms]
        if sel:
            out.append({"choice": choice, "kpis": kpis(sel),
                        "by_make": _counts(sel, 3), "by_city": _counts(sel, 1)})
    return out


def snapshot_digest(rows: dict[str, tuple]) -> dict:
    """Row count, distinct VINs and an order-free checksum of a snapshot
    keyed by VIN (values are :func:`clean_row` tuples)."""
    acc = 0
    for r in rows.values():
        acc ^= int.from_bytes(hashlib.blake2b(repr(r).encode(), digest_size=8).digest(), "big")
    return {"rows": len(rows), "distinct_vins": len(rows), "checksum": f"{acc:016x}"}


def etl_inputs(seed: int, out_dir: str, n_rows: int, n_batches: int, batch_rows: int) -> dict:
    """Write the load CSV and ``n_batches`` update CSVs; return paths,
    input byte counts and the expected final snapshot digest.

    Each update file holds distinct VINs: half re-version existing
    vehicles (new vehicle_id, city, range), half are new vehicles.
    Later files win, as the stream merges them in file order.
    """
    rng = random.Random(seed + 104_729)
    os.makedirs(os.path.join(out_dir, "updates"), exist_ok=True)
    base = musemotion_rows(seed, n_rows)
    load_csv = os.path.join(out_dir, "load.csv")
    in_bytes = write_csv(load_csv, base)
    snap: dict[str, tuple] = {}
    for r in base:
        c = clean_row(r)
        if c is not None:
            snap[c[0]] = c
    update_paths, update_bytes = [], 0
    version = 200_000_000
    for b in range(n_batches):
        vins = rng.sample(sorted(snap), batch_rows // 2) if snap else []
        vins += [_vin(rng) for _ in range(batch_rows - len(vins))]
        batch, seen = [], set()
        for v in vins:
            if v in seen:
                continue
            seen.add(v)
            version += 1
            batch.append(_dirty_row(rng, v, version))
        path = os.path.join(out_dir, "updates", f"batch_{b:04d}.csv")
        update_bytes += write_csv(path, batch)
        # the file stream takes files oldest first: one second apart keeps
        # batch order equal to file order
        stamp = time.time() - n_batches + b
        os.utime(path, (stamp, stamp))
        update_paths.append(path)
        for r in batch:
            c = clean_row(r)
            if c is not None:
                snap[c[0]] = c
    return {
        "load_csv": load_csv,
        "load_rows": len(base),
        "input_bytes": in_bytes + update_bytes,
        "update_paths": update_paths,
        "expected": snapshot_digest(snap),
    }
