"""Seeded input generator for the benchmark.

Everything the program reads is generated here from the workload seed, so
the same seed gives byte-identical inputs:

* OCO-3 CO2 granule-days as ``.npz`` archives (the package's ``npz``
  decoder format) plus the targets JSON, for ``granule_batch``;
* the star-schema/text/vector parquet tables the catalog queries read,
  for ``catalog_mix``.

Granule days carry the FIXTURES.md edge cases on every day: same-target
runs separated by 1 sounding (merged into one region) and by 2 soundings
(kept apart), an unknown target, a region with zero good soundings, a
region with fewer than 4 good soundings (forces the nearest fallback of
linear gridding) and a region whose footprints straddle its target's bbox
edge. The rest of the day is filler soundings between 120-sounding
SAM/Target runs over the known targets, with ~30% bad QF and ~1% fill
values in ``xco2``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np

FILL = -999999.0
MODE_TARGET, MODE_SAM = 2, 4  # any other sounding is mode 0
RUN_LEN = 120
N_TARGETS = 10
BBOX_HALF = 0.4  # degrees; a 0.8 x 0.8 degree target box
FOOTPRINT_HALF = 0.02  # degrees; about one 40x40 mesh cell
UNKNOWN_TARGET = "unknown0099"
# Targets reserved for one edge case each, so their post-QF slice presence
# is decided by that case alone.
ZERO_GOOD_TARGET = "target0008"
FEW_GOOD_TARGET = "target0009"
MERGE_TARGET = "target0000"
STRADDLE_TARGET = "target0001"


def target_ids() -> list[str]:
    return [f"target{i:04d}" for i in range(N_TARGETS)]


def make_targets(rng: np.random.Generator) -> dict:
    """Targets JSON in the reference layout: {id: {name, bbox{...}}}."""
    out = {}
    for tid in target_ids():
        cx = float(np.round(rng.uniform(-120.0, 120.0), 3))
        cy = float(np.round(rng.uniform(-50.0, 60.0), 3))
        out[tid] = {
            "name": f"Site {tid[-2:]}",
            "bbox": {
                "min_lon": cx - BBOX_HALF, "min_lat": cy - BBOX_HALF,
                "max_lon": cx + BBOX_HALF, "max_lat": cy + BBOX_HALF,
            },
        }
    return out


def _center(targets: dict, tid: str) -> tuple[float, float]:
    b = targets[tid]["bbox"]
    return (b["min_lon"] + b["max_lon"]) / 2, (b["min_lat"] + b["max_lat"]) / 2


def _day_layout(rng: np.random.Generator, n_runs: int) -> list[tuple]:
    """Ordered segments of one granule-day. Each is ``("gap", n)`` (filler
    soundings, mode 0) or ``("run", mode, tid, n, kind)``."""
    known = target_ids()
    common = [t for t in known if t not in (ZERO_GOOD_TARGET, FEW_GOOD_TARGET)]
    half = RUN_LEN // 2
    edge = [
        # same target, 1-sounding gap: one region (CO2 merge margin is < 2)
        [("run", MODE_SAM, MERGE_TARGET, half, "plain"), ("gap", 1),
         ("run", MODE_SAM, MERGE_TARGET, half, "plain")],
        # same target, 2-sounding gap: two regions
        [("run", MODE_TARGET, MERGE_TARGET, half, "plain"), ("gap", 2),
         ("run", MODE_TARGET, MERGE_TARGET, half, "plain")],
        [("run", MODE_SAM, UNKNOWN_TARGET, RUN_LEN, "plain")],
        [("run", MODE_SAM, ZERO_GOOD_TARGET, RUN_LEN, "zero_good")],
        [("run", MODE_TARGET, FEW_GOOD_TARGET, RUN_LEN, "few_good")],
        [("run", MODE_SAM, STRADDLE_TARGET, RUN_LEN, "straddle")],
    ]
    blocks = list(edge)
    for _ in range(max(0, n_runs - len(edge))):
        mode = MODE_SAM if rng.random() < 0.6 else MODE_TARGET
        blocks.append([("run", mode, str(rng.choice(common)), RUN_LEN, "plain")])
    order = rng.permutation(len(blocks))
    out: list[tuple] = []
    for i in order:
        out.append(("gap", int(rng.integers(20, 60))))
        out.extend(blocks[i])
    out.append(("gap", int(rng.integers(20, 60))))
    return out


def granule_day(
    rng: np.random.Generator, targets: dict, day: dt.date, n_runs: int
) -> dict[str, np.ndarray]:
    """Arrays of one OCO-3 CO2 granule-day (FIXTURES.md table 1)."""
    layout = _day_layout(rng, n_runs)
    n = sum(seg[1] if seg[0] == "gap" else seg[3] for seg in layout)
    lon = np.empty(n)
    lat = np.empty(n)
    mode = np.zeros(n, np.int8)
    tid = np.empty(n, dtype="<U12")
    good = rng.random(n) >= 0.3
    pos = 0
    for seg in layout:
        if seg[0] == "gap":
            k = seg[1]
            lon[pos:pos + k] = rng.uniform(-180, 180, k)
            lat[pos:pos + k] = rng.uniform(-60, 70, k)
            tid[pos:pos + k] = "none"
            pos += k
            continue
        _, m, t, k, kind = seg
        if t == UNKNOWN_TARGET:
            cx, cy = rng.uniform(-150, 150), rng.uniform(-50, 60)
        else:
            cx, cy = _center(targets, t)
        if kind == "straddle":
            cx += BBOX_HALF  # swath centred on the east bbox edge
        else:
            cx += rng.uniform(-0.1, 0.1)
            cy += rng.uniform(-0.1, 0.1)
        # a jittered 12-wide swath at about 1.5 footprints spacing
        i = np.arange(k)
        lon[pos:pos + k] = cx + (i % 12 - 5.5) * 0.03 + rng.normal(0, 0.004, k)
        lat[pos:pos + k] = cy + (i // 12 - (k // 12) / 2) * 0.03 + rng.normal(0, 0.004, k)
        mode[pos:pos + k] = m
        tid[pos:pos + k] = t
        if kind == "zero_good":
            good[pos:pos + k] = False
        elif kind == "few_good":
            good[pos:pos + k] = False
            good[pos + rng.choice(k, 3, replace=False)] = True
        pos += k
    xco2 = 410.0 + 3.0 * np.sin(lon / 7.0) + rng.normal(0, 0.8, n)
    fill = rng.random(n) < 0.01
    fill &= ~((tid == FEW_GOOD_TARGET) & good)  # keep the 3 good values real
    xco2[fill] = FILL
    theta = rng.uniform(0, np.pi / 2, n)
    corners = np.stack([theta + q * np.pi / 2 for q in range(4)], 1) + np.pi / 4
    r = FOOTPRINT_HALF * np.sqrt(2)
    midnight = np.datetime64(day.isoformat() + "T00:00:00", "us")
    base_id = int(day.strftime("%Y%m%d")) * 1_000_000
    return {
        "sounding_idx": np.arange(n, dtype=np.int64),
        "sounding_id": base_id + np.arange(n, dtype=np.int64),
        "time": np.full(n, midnight),
        "latitude": lat.astype(np.float32),
        "longitude": lon.astype(np.float32),
        "vertex_latitude": (lat[:, None] + r * np.sin(corners)).astype(np.float32),
        "vertex_longitude": (lon[:, None] + r * np.cos(corners)).astype(np.float32),
        "operation_mode": mode,
        "target_id": tid,
        "target_name": np.char.add("name_", tid),
        "xco2_quality_flag": (~good).astype(np.int8),
        "xco2": xco2,
        "xco2_uncertainty": rng.uniform(0.3, 0.8, n),
    }


def granule_name(day: dt.date) -> str:
    return f"oco3_LtCO2_{day.strftime('%y%m%d')}_B11000_r01.npz"


@dataclass
class GranuleSet:
    targets_path: str
    targets: dict
    paths: list[str]
    days: list[dt.date]
    soundings: int
    bytes: int

    def sizes(self) -> dict:
        return {
            "granules": len(self.paths),
            "days": len(set(self.days)),
            "soundings": self.soundings,
            "bytes": self.bytes,
            "targets": len(self.targets),
        }


def write_granules(out_dir: str, seed: int, days: list[dt.date], n_runs: int) -> GranuleSet:
    """Write one granule of ``n_runs`` SAM/Target runs per day in ``days``,
    plus ``targets.json``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    targets = make_targets(rng)
    tpath = os.path.join(out_dir, "targets.json")
    with open(tpath, "w") as fh:
        json.dump(targets, fh, indent=1)
    paths, gdays, total, nbytes = [], [], 0, 0
    for d in days:
        arrays = granule_day(rng, targets, d, n_runs)
        path = os.path.join(out_dir, granule_name(d))
        np.savez(path, **arrays)
        paths.append(path)
        gdays.append(d)
        total += len(arrays["sounding_idx"])
        nbytes += os.path.getsize(path)
    return GranuleSet(tpath, targets, paths, gdays, total, nbytes)


def region_spans(arr: dict[str, np.ndarray], margin: int = 2) -> list[tuple]:
    """Regions of one granule as (mode, target_id, start, stop_excl),
    derived from the arrays alone: per mode pass, maximal runs of
    consecutive soundings with one target id, merged with the previous run
    of the same id when fewer than ``margin`` soundings separate them."""
    out = []
    mode, tid = arr["operation_mode"], arr["target_id"]
    for m in (MODE_SAM, MODE_TARGET):
        idx = np.flatnonzero(mode == m)
        regions: list[list] = []
        prev = None
        for i in idx:
            t = tid[i]
            if prev is not None and regions[-1][1] == t and i - prev - 1 < margin:
                regions[-1][3] = i + 1
            else:
                regions.append([m, t, i, i + 1])
            prev = i
        out.extend(tuple(r) for r in regions)
    return out


def expected_slices(paths: list[str], targets: dict) -> set[tuple]:
    """(target_id, qf, day) slices a target-focused run must store,
    computed in numpy from the granule arrays: a region of a known target
    yields a ``pre`` slice, and a ``post`` slice when its span holds at
    least one good sounding."""
    out = set()
    for p in paths:
        with np.load(p) as z:
            arr = {k: z[k] for k in ("operation_mode", "target_id", "xco2_quality_flag", "time")}
        day = arr["time"][0].astype("datetime64[D]").item()
        for _, t, s, e in region_spans(arr):
            if t not in targets:
                continue
            out.add((str(t), "pre", day))
            if (arr["xco2_quality_flag"][s:e] == 0).any():
                out.add((str(t), "post", day))
    return out


# ---------------------------------------------------------------------------
# Catalog tables (TESTDATA.md schema, sf0.001-sized)
# ---------------------------------------------------------------------------

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "de", "zh"]
COLORS = "red blue green black white small big hot cold dark light pale old new tiny huge".split()
NOUNS = "widget bolt gear ring plate screw nut spring".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


@dataclass
class CatalogScale:
    customers: int = 150
    suppliers: int = 10
    parts: int = 200
    orders: int = 1500
    lineitems: int = 6000
    events: int = 1000
    users: int = 15
    documents: int = 500
    embeddings: int = 500
    dim: int = 64


def _days(rng, n, lo: str, hi: str) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((b - a) / np.timedelta64(1, "D"))
    return (a + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _documents(rng, n: int) -> list[str]:
    """Random-word documents; every tenth is a near-duplicate copy of an
    earlier document with one or two words replaced, so the near-dup and
    graph queries find families (a fixed share keeps their cost steady
    across seeds)."""
    docs: list[str] = []
    for i in range(n):
        if i % 10 == 9:
            words = docs[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 90))))
        docs.append(" ".join(words))
    return docs


def write_catalog_tables(out_dir: str, seed: int, scale: CatalogScale = CatalogScale()) -> dict:
    """Write the ten catalog tables as parquet files under ``out_dir``;
    returns their row counts and total bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    s = scale
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": REGIONS,
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": np.arange(s.customers, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
            "c_nationkey": pa.array(rng.integers(0, 25, s.customers).astype(np.int32)),
            "c_acctbal": money(-999, 9999, s.customers),
            "c_mktsegment": list(rng.choice(SEGMENTS, s.customers)),
        },
        "supplier": {
            "s_suppkey": np.arange(s.suppliers, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
            "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers).astype(np.int32)),
            "s_acctbal": money(-999, 9999, s.suppliers),
        },
        "part": {
            "p_partkey": np.arange(s.parts, dtype=np.int64),
            "p_name": [f"{rng.choice(COLORS)} {rng.choice(NOUNS)}" for _ in range(s.parts)],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, s.parts)],
            "p_type": list(rng.choice(PART_TYPES, s.parts)),
            "p_size": pa.array(rng.integers(1, 51, s.parts).astype(np.int32)),
            "p_retailprice": np.round(900 + (np.arange(s.parts) % 1000) / 10, 2),
        },
        "orders": {
            "o_orderkey": np.arange(s.orders, dtype=np.int64),
            "o_custkey": rng.integers(0, s.customers, s.orders).astype(np.int64),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], s.orders)),
            "o_totalprice": money(1000, 500000, s.orders),
            "o_orderdate": _days(rng, s.orders, "1995-01-01", "2001-08-01"),
            "o_orderpriority": list(rng.choice(PRIORITIES, s.orders)),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, s.orders, s.lineitems).astype(np.int64),
            "l_partkey": rng.integers(0, s.parts, s.lineitems).astype(np.int64),
            "l_suppkey": rng.integers(0, s.suppliers, s.lineitems).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, s.lineitems).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, s.lineitems).astype(np.float64),
            "l_extendedprice": money(900, 105000, s.lineitems),
            "l_discount": np.round(rng.integers(0, 11, s.lineitems) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, s.lineitems) / 100, 2),
            "l_returnflag": list(rng.choice(["A", "N", "R"], s.lineitems)),
            "l_linestatus": list(rng.choice(["F", "O"], s.lineitems)),
            "l_shipdate": _days(rng, s.lineitems, "1995-01-02", "2001-11-04"),
        },
    }
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    tables["events"] = {
        "event_id": np.arange(s.events, dtype=np.int64),
        "ts": t0 + np.sort(rng.integers(0, span_us, s.events)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, s.users, s.events).astype(np.int64),
        "event_type": list(rng.choice(EVENT_TYPES, s.events)),
        "value": np.round(rng.exponential(50.0, s.events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)],
    }
    texts = _documents(rng, s.documents)
    tables["documents"] = {
        "doc_id": np.arange(s.documents, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(LANGS, s.documents, p=[0.4, 0.15, 0.15, 0.15, 0.15])),
        "source": [f"src{i % 20}" for i in range(s.documents)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    labels = rng.integers(0, 10, s.embeddings)
    centers = rng.normal(0, 1, (10, s.dim))
    vec = centers[labels] + rng.normal(0, 1.2, (s.embeddings, s.dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(s.embeddings, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }
    sizes = {"rows": {}, "bytes": 0}
    for name, cols in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.table(cols), path)
        sizes["rows"][name] = len(next(iter(cols.values())))
        sizes["bytes"] += os.path.getsize(path)
    return sizes
