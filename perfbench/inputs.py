"""Seeded input generation for every workload.

Everything the program receives is made here from one integer seed: the ten
parquet tables the query registry reads, the dashboard op order and chatbot
questions, the JSON-stat batches and events slices of ``warehouse_load``,
and the duplicate-bearing curation corpus. The same seed gives byte-identical
files (``digest`` hashes them, and the self-tests check it).

The tables follow the schemas and value ranges of the engine's fixture data
(FIXTURES.md section 1) at the 0.01 scale of its correctness gate, because
the benchmark must run from a plain checkout that holds no fixture files.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the relational tables (the engine's sf0.01 shape).
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
}
N_DOCUMENTS = 1000
N_EMBEDDINGS = 1000
EMBEDDING_DIM = 64

# Curation corpus: share of rows that copy another row exactly, and share
# that copy another row with small edits (word swaps / vector noise).
EXACT_DUP_SHARE = 0.08
NEAR_DUP_SHARE = 0.12

VOCAB = (
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window energy"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "green")
PART_NOUN = ("ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "valve")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# Chatbot questions: the intent route needs a "rising" word and a GEP word.
INTENT_QUESTIONS = (
    "Which country has the fastest rising gross electricity production?",
    "Where is GEP increasing the most?",
    "Which geo shows growing gross electricity output?",
    "Fastest rising GEP trend please",
)
SEMANTIC_QUESTIONS = (
    "final energy consumption in households",
    "transport energy use declining",
    "industry consumption trend over the years",
    "which nation is stable in other sectors",
    "electricity production rising slope",
    "household consumption growth percentage",
)

# warehouse_load: JSON-stat cube shape and the seeded properties varied.
WL_GEOS = tuple(f"G{i:02d}" for i in range(25))
WL_MAX_LATE_GEOS = 4
WL_INDICATORS = ("GEP", "FC_E", "FC_IND_E", "FC_TRA_E", "FC_OTH_CP_E", "FC_OTH_HH_E")
WL_FIRST_YEAR = 2010
WL_EVENTS_PER_SLICE = 2000


@dataclass
class WarehouseBatch:
    """One incremental load: payloads for ``decode_jsonstat`` plus what the
    warehouse must hold afterwards."""

    payloads: list[tuple[str, dict]]  # (dataset_code, JSON-stat payload)
    late: tuple[str, dict]  # late-arriving cells, loaded by append
    batch_rows: int  # distinct rows the merge batch loads after cleaning
    expected: dict  # full warehouse content after this batch: key -> value
    decoded_bytes: int  # Arrow size of the decoded batch (write-amp base)
    events_dir: str  # events slice drained after the load
    events_distinct: int  # rows dedup_stream must emit for that slice


@dataclass
class Inputs:
    seed: int
    data_dir: str  # the ten parquet tables
    rows: dict[str, int]
    dashboard_orders: list[list[int]] = field(default_factory=list)
    questions: list[str] = field(default_factory=list)
    curation_orders: list[list[int]] = field(default_factory=list)
    warehouse: list[WarehouseBatch] = field(default_factory=list)


def _ts(start: str, seconds: np.ndarray) -> pd.Series:
    base = np.datetime64(start, "us")
    return pd.Series(base + (seconds * 1_000_000).astype("int64").astype("timedelta64[us]"))


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table.replace_schema_metadata(None), path)


def _relational(rng: np.random.Generator, out: str) -> dict[str, int]:
    n = SIZES
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(
        pd.DataFrame({"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}),
        f"{out}/region.parquet",
        pa.schema([("r_regionkey", i32), ("r_name", s)]),
    )
    nk = np.arange(25, dtype="int32")
    _write(
        pd.DataFrame({"n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk],
                      "n_regionkey": (nk % 5).astype("int32")}),
        f"{out}/nation.parquet",
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]),
    )
    c = n["customer"]
    _write(
        pd.DataFrame({
            "c_custkey": np.arange(c), "c_name": [f"Customer#{k:09d}" for k in range(c)],
            "c_nationkey": rng.integers(0, 25, c).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
            "c_mktsegment": rng.choice(SEGMENTS, c),
        }),
        f"{out}/customer.parquet",
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]),
    )
    su = n["supplier"]
    _write(
        pd.DataFrame({
            "s_suppkey": np.arange(su), "s_name": [f"Supplier#{k:09d}" for k in range(su)],
            "s_nationkey": rng.integers(0, 25, su).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, su), 2),
        }),
        f"{out}/supplier.parquet",
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]),
    )
    p = n["part"]
    _write(
        pd.DataFrame({
            "p_partkey": np.arange(p),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, p), rng.choice(PART_NOUN, p))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
            "p_type": rng.choice(PART_TYPES, p),
            "p_size": rng.integers(1, 51, p).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1),
        }),
        f"{out}/part.parquet",
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]),
    )
    o = n["orders"]
    span = (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int)
    _write(
        pd.DataFrame({
            "o_orderkey": np.arange(o), "o_custkey": rng.integers(0, c, o),
            "o_orderstatus": rng.choice(("F", "O", "P"), o),
            "o_totalprice": np.round(rng.uniform(1000, 500000, o), 2),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, span + 1, o) * 86400),
            "o_orderpriority": rng.choice(PRIORITIES, o),
        }),
        f"{out}/orders.parquet",
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]),
    )
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype("float64")
    _write(
        pd.DataFrame({
            "l_orderkey": rng.integers(0, o, li), "l_partkey": rng.integers(0, p, li),
            "l_suppkey": rng.integers(0, su, li), "l_linenumber": rng.integers(1, 8, li).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, li), 2),
            "l_discount": rng.integers(0, 11, li) / 100,
            "l_tax": rng.integers(0, 9, li) / 100,
            "l_returnflag": rng.choice(("A", "N", "R"), li),
            "l_linestatus": rng.choice(("F", "O"), li),
            "l_shipdate": _ts("1995-01-02", rng.integers(0, span + 95, li) * 86400),
        }),
        f"{out}/lineitem.parquet",
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                   ("l_linestatus", s), ("l_shipdate", ts)]),
    )
    ev = _events(rng, n["events"], dup_share=0.0, start="2024-01-01")
    _write(ev, f"{out}/events.parquet", EVENTS_SCHEMA)
    return {"region": 5, "nation": 25, **n}


EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
])


def _events(rng: np.random.Generator, n: int, dup_share: float, start: str,
            first_id: int = 0) -> pd.DataFrame:
    """Time-ordered events over 30 days; ``dup_share`` of the rows repeat an
    earlier row's payload and timestamp under a fresh event id (the
    duplicates ``dedup_stream`` must drop)."""
    secs = np.sort(rng.uniform(0, 30 * 86400, n))
    df = pd.DataFrame({
        "event_id": np.arange(first_id, first_id + n),
        "ts": _ts(start, secs),
        "user_id": rng.integers(0, 150, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(60.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n_dup = int(n * dup_share)
    if n_dup:
        dst = rng.choice(np.arange(1, n), n_dup, replace=False)
        src = np.array([rng.integers(0, d) for d in dst])
        for col in ("ts", "event_type", "value", "props"):
            df.loc[dst, col] = df.loc[src, col].to_numpy()
        df = df.sort_values(["ts", "event_id"], ignore_index=True)
    return df


def _corpus(rng: np.random.Generator, out: str) -> None:
    """Documents and embeddings with a seeded share of exact and near
    duplicates: the work the curation jobs exist to find."""
    nd = N_DOCUMENTS
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(20, 90)))) for _ in range(nd)]
    kinds = rng.random(nd)
    for i in range(1, nd):
        j = int(rng.integers(0, i))
        if kinds[i] < EXACT_DUP_SHARE:
            texts[i] = texts[j]
        elif kinds[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            words = texts[j].split()
            for pos in rng.choice(len(words), max(1, len(words) // 20), replace=False):
                words[pos] = str(rng.choice(VOCAB))
            texts[i] = " ".join(words)
    _write(
        pd.DataFrame({
            "doc_id": np.arange(nd), "text": texts, "lang": rng.choice(LANGS, nd, p=LANG_P),
            "source": [f"src{k % 20}" for k in range(nd)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }),
        f"{out}/documents.parquet",
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                   ("source", pa.string()), ("n_chars", pa.int64())]),
    )
    ne = N_EMBEDDINGS
    vecs = rng.normal(size=(ne, EMBEDDING_DIM))
    kinds = rng.random(ne)
    for i in range(1, ne):
        j = int(rng.integers(0, i))
        if kinds[i] < EXACT_DUP_SHARE:
            vecs[i] = vecs[j]
        elif kinds[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            vecs[i] = vecs[j] + rng.normal(scale=0.02, size=EMBEDDING_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    table = pa.table({
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, ne).astype("int32"), pa.int32()),
    })
    pq.write_table(table, f"{out}/embeddings.parquet")


def _cube(dataset: str, years: list[int], geos, values: dict, with_unit: bool) -> dict:
    """Dense JSON-stat cube over (indicator, geo[, unit], time); ``values``
    maps (indicator, geo, year) -> value, and absent cells are nulls."""
    inds = list(WL_INDICATORS) + ["XXX"]  # XXX is outside the allow-list
    dims = ["nrg_bal", "geo"] + (["unit"] if with_unit else []) + ["time"]
    cats = {
        "nrg_bal": {"index": {c: i for i, c in enumerate(inds)},
                    "label": {c: f"Indicator {c}" for c in inds}},
        "geo": {"index": {g: i for i, g in enumerate(geos)},
                "label": {g: f"Country {g}" for g in geos[:-1]}},  # last: label fallback
        "unit": {"index": {"GWH": 0}, "label": {"GWH": "Gigawatt-hour"}},
        "time": {"index": {str(y): i for i, y in enumerate(years)},
                 "label": {str(y): str(y) for y in years}},
    }
    sizes = [len(inds), len(geos)] + ([1] if with_unit else []) + [len(years)]
    flat = {}
    for (ind, geo, yr), v in values.items():
        ii, gi, ti = inds.index(ind), geos.index(geo), years.index(yr)
        idx = (ii * len(geos) + gi) * len(years) + ti  # the unit dim has size 1
        flat[str(idx)] = v
    return {"id": dims, "size": sizes,
            "dimension": {d: {"category": cats[d]} for d in dims},
            "value": dict(sorted(flat.items(), key=lambda kv: int(kv[0])))}


def _warehouse(rng: np.random.Generator, out: str, n_batches: int, update_share: float,
               dup_share: float, null_share: float, late_geos: int) -> list[WarehouseBatch]:
    """The incremental loads of a run, one per pass into the same
    warehouse. Batch b brings year FIRST+b (new) and a revision of year
    FIRST+b-1 in which ``update_share`` of the cells change value;
    ``dup_share`` of the cells are repeated verbatim in a third payload;
    ``null_share`` of the cells are absent from the sparse value map. Each
    batch is followed by late-arriving cells for ``late_geos`` new geos in
    the oldest year, loaded by append, which leaves a second file in that
    partition until the pass compacts it."""
    datasets = (("nrg_cb_e", True), ("ten00124", False))  # ten00124 has no unit
    current: dict[tuple[str, str, str, int], float] = {}  # (dataset, geo, ind, yr)
    expected: dict = {}
    batches = []
    geos = list(WL_GEOS)
    for b in range(n_batches):
        years = [WL_FIRST_YEAR + b] if b == 0 else [WL_FIRST_YEAR + b - 1, WL_FIRST_YEAR + b]
        payloads, batch_keys = [], set()
        arrow_rows = []
        for ds, with_unit in datasets:
            vals = {}
            for ind in list(WL_INDICATORS) + ["XXX"]:
                for g in geos:
                    for yr in years:
                        if rng.random() < null_share:
                            continue
                        old = current.get((ds, g, ind, yr))
                        if old is not None and rng.random() >= update_share:
                            v = old
                        else:
                            v = float(np.round(rng.uniform(100, 50000), 2))
                        vals[(ind, g, yr)] = v
            payloads.append((ds, _cube(ds, years, geos, vals, with_unit)))
            for (ind, g, yr), v in vals.items():
                if ind in WL_INDICATORS:
                    key = (ds, g, ind, yr)
                    current[key] = v
                    batch_keys.add(key)
                    arrow_rows.append((ds, g, ind, "GWH" if with_unit else None, yr, v))
            if ds == "nrg_cb_e":
                dup = {k: v for k, v in vals.items() if rng.random() < dup_share}
                if dup:
                    payloads.append((ds, _cube(ds, years, geos, dup, with_unit)))
        for key in batch_keys:
            expected[key] = current[key]
        lgs = [f"L{b:02d}{i}" for i in range(late_geos)]
        lvals = {(ind, g, WL_FIRST_YEAR): float(np.round(rng.uniform(100, 50000), 2))
                 for ind in WL_INDICATORS for g in lgs}
        late = ("nrg_cb_e", _cube("nrg_cb_e", [WL_FIRST_YEAR], lgs + ["LZZ"], lvals, True))
        for (ind, g, yr), v in lvals.items():
            expected[("nrg_cb_e", g, ind, yr)] = v
        ev_dir = f"{out}/b{b}"
        os.makedirs(ev_dir, exist_ok=True)
        ev = _events(rng, WL_EVENTS_PER_SLICE, dup_share=dup_share,
                     start=f"2024-{1 + b % 12:02d}-01", first_id=b * WL_EVENTS_PER_SLICE)
        _write(ev, f"{ev_dir}/events.parquet", EVENTS_SCHEMA)
        distinct = len(ev.drop_duplicates(["ts", "event_type", "value", "props"]))
        nbytes = pa.Table.from_pylist(
            [dict(zip(("dataset_code", "country_code", "indicator_code", "unit_code",
                       "year", "value"), r)) for r in arrow_rows]
        ).nbytes
        batches.append(WarehouseBatch(
            payloads=payloads, late=late, batch_rows=len(batch_keys),
            expected=dict(expected), decoded_bytes=int(nbytes),
            events_dir=ev_dir, events_distinct=distinct,
        ))
    return batches


def generate(seed: int, out: str, passes: int = 8) -> Inputs:
    """Write every input for ``seed`` under ``out`` and return the handles:
    op orders and warehouse batches for ``passes`` passes. Each stream of
    draws has its own generator, so the first k passes' inputs do not
    depend on ``passes``."""
    seeds = np.random.default_rng(seed).integers(1 << 62, size=6)
    data = f"{out}/tables"
    os.makedirs(data, exist_ok=True)
    rows = _relational(np.random.default_rng(seeds[0]), data)
    _corpus(np.random.default_rng(seeds[1]), data)
    rows.update(documents=N_DOCUMENTS, embeddings=N_EMBEDDINGS)
    inp = Inputs(seed=seed, data_dir=data, rows=rows)

    q_rng = np.random.default_rng(seeds[2])
    inp.questions = [str(q_rng.choice(INTENT_QUESTIONS)), str(q_rng.choice(SEMANTIC_QUESTIONS))]
    d_rng, c_rng = np.random.default_rng(seeds[3]), np.random.default_rng(seeds[4])
    inp.dashboard_orders = [d_rng.permutation(64).tolist() for _ in range(passes)]
    inp.curation_orders = [c_rng.permutation(64).tolist() for _ in range(passes)]

    wl_rng = np.random.default_rng(seeds[5])
    props = wl_rng.uniform(size=4)
    inp.warehouse = _warehouse(
        wl_rng, f"{out}/events", passes,
        update_share=0.10 + 0.20 * props[0], dup_share=0.02 + 0.08 * props[1],
        null_share=0.02 + 0.08 * props[2], late_geos=1 + int(props[3] * WL_MAX_LATE_GEOS),
    )
    return inp


def digest(inp: Inputs, out: str) -> str:
    """SHA-256 over every generated file and the in-memory inputs, in a
    fixed order: equal digests mean byte-identical inputs."""
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(out)):
        for name in sorted(files):
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, out).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    h.update(json.dumps([inp.questions, inp.dashboard_orders, inp.curation_orders]).encode())
    for b in inp.warehouse:
        h.update(json.dumps([b.payloads, b.late, b.batch_rows, b.decoded_bytes,
                             b.events_distinct, sorted(map(str, b.expected.items()))]).encode())
    return h.hexdigest()
