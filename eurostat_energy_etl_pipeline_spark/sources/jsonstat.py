"""Eurostat JSON-stat dense-cube source adapter (S1-S5).

One pure-Python kernel, `decode_document`, turns a parsed payload into
observation tuples: row-major unravel of each flat cell index (last
dimension fastest), label resolution with fallback to the code (S4), the
indicator allow-list (P8/J2), year -> date (P3) and the float value (P2).
Both ingest paths share it, so there is one decode to keep correct:

- `decode_jsonstat` (single document): the payload is already a dict in
  driver memory, so the kernel runs there and the rows enter Spark as an
  Arrow local relation. The plan is a `LocalTableScan`: executing the
  frame, as often as a load re-reads its batch, starts no Python worker.
- `spark.read.format("jsonstat")` (sources/jsonstat_datasource.py, many
  documents): the same kernel runs executor-side, one input partition
  per document.

The HTTP fetch itself (S1) stays driver-side by design: the payload is
KB-scale. `fetch_jsonstat` is the (requests-based) integration point;
`decode_jsonstat` is pure and testable against the frozen fixture
(FIXTURES.md §3.1).
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from datetime import date
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DateType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

REQUIRED_KEYS = ("dimension", "value", "size")

# Reference indicator allow-list (/root/reference/etl/main.py:53-64,111-113)
DEFAULT_INDICATORS = ("GEP", "FC_E", "FC_IND_E", "FC_TRA_E", "FC_OTH_CP_E", "FC_OTH_HH_E")

OBSERVATION_COLUMNS = (
    "dataset_code",
    "country_code",
    "country_name",
    "indicator_code",
    "indicator_label",
    "unit_code",
    "unit_label",
    "time",
    "value",
)

OBSERVATION_SCHEMA = StructType(
    [
        StructField(
            c,
            DateType() if c == "time" else DoubleType() if c == "value" else StringType(),
        )
        for c in OBSERVATION_COLUMNS
    ]
)
_ARROW_SCHEMA = to_arrow_schema(OBSERVATION_SCHEMA)


def validate(payload: dict[str, Any]) -> bool:
    """S2: response-shape guard (/root/reference/etl/main.py:79-81)."""
    return all(k in payload for k in REQUIRED_KEYS)


def find_indicator_dim(
    payload: dict[str, Any], indicators=DEFAULT_INDICATORS
) -> str | None:
    """S5: detect which dimension carries the indicator codes
    (/root/reference/etl/main.py:67-72)."""
    for dim in payload["id"]:
        index = payload["dimension"][dim]["category"]["index"]
        if any(code in index for code in indicators):
            return dim
    return None


def fetch_jsonstat(url: str) -> dict[str, Any]:
    """S1: driver-side HTTP GET (the payload is KB-scale)."""
    import requests  # local import: optional dependency

    return requests.get(url, timeout=60).json()


def _codes_by_position(payload: dict[str, Any], dim: str) -> dict[int, str]:
    index = payload["dimension"][dim]["category"]["index"]
    if isinstance(index, list):  # JSON-stat also allows list form
        return dict(enumerate(index))
    return {pos: code for code, pos in index.items()}


def decode_document(
    payload: dict[str, Any], dataset_code: str, indicators=DEFAULT_INDICATORS
) -> Iterator[tuple]:
    """Decode one JSON-stat document into observation tuples, in
    OBSERVATION_COLUMNS order (the reference's per-cell loop,
    etl/main.py:84-125).

    Yields nothing when the payload fails validation or lacks an
    indicator, geo or time dimension (S2's empty-result contract)."""
    if not validate(payload):
        return
    dims: list[str] = payload["id"]
    sizes: list[int] = payload["size"]
    ind_dim = find_indicator_dim(payload, indicators)
    if ind_dim is None or "geo" not in dims or "time" not in dims:
        return

    # Row-major unravel, last dim fastest (etl/main.py:97-102):
    # coord_d = (flat // prod(sizes[d+1:])) % sizes[d]
    axes = {
        d: (
            math.prod(sizes[i + 1 :]),
            sizes[i],
            _codes_by_position(payload, d),
            payload["dimension"][d]["category"].get("label", {}),
        )
        for i, d in enumerate(dims)
    }
    allow = set(indicators)
    unit_dim = "unit" if "unit" in dims else None

    def code_label(d: str, flat: int) -> tuple[str, str]:
        stride, size, codes, labels = axes[d]
        c = codes[(flat // stride) % size]
        return c, labels.get(c, c)  # label falls back to code (etl/main.py:118)

    for k, v in payload["value"].items():
        flat = int(k)
        ind_code, ind_label = code_label(ind_dim, flat)
        if ind_code not in allow:
            continue
        geo_code, geo_label = code_label("geo", flat)
        time_code, _ = code_label("time", flat)
        unit_code, unit_label = (
            code_label(unit_dim, flat) if unit_dim else (None, None)
        )
        yield (
            dataset_code,
            geo_code,
            geo_label,
            ind_code,
            ind_label,
            unit_code,
            unit_label,
            date(int(time_code), 1, 1),
            float(v),
        )


def decode_jsonstat(
    spark: SparkSession,
    payload: dict[str, Any],
    dataset_code: str,
    indicators=DEFAULT_INDICATORS,
) -> DataFrame:
    """Decode a JSON-stat dense cube into observation rows.

    `decode_document` runs on the driver and its rows ship as an Arrow
    local relation (`LocalTableScan`, no Python-worker stage). Returns an
    empty DataFrame with the declared schema when the payload fails
    validation or lacks an indicator, geo or time dimension (S2)."""
    rows = list(decode_document(payload, dataset_code, indicators))
    columns = zip(*rows) if rows else [()] * len(OBSERVATION_COLUMNS)
    table = pa.table(dict(zip(OBSERVATION_COLUMNS, columns)), schema=_ARROW_SCHEMA)
    return spark.createDataFrame(table, OBSERVATION_SCHEMA)


# Frozen §3.1 golden payload (FIXTURES.md) — a 2x3x2 dense cube with a sparse
# value map, an out-of-allowlist indicator ('XXX'), and a geo ('ZZ') whose
# label is absent (exercising the label->code fallback). This is the payload
# the declared query q71 decodes under the driver's oracle gate; tests pin
# the same rows independently (tests/test_jsonstat.py).
GOLDEN_FIXTURE: dict = {
    "id": ["nrg_bal", "geo", "time"],
    "size": [2, 3, 2],
    "dimension": {
        "nrg_bal": {
            "category": {
                "index": {"GEP": 0, "XXX": 1},
                "label": {"GEP": "Gross electricity production", "XXX": "Other"},
            }
        },
        "geo": {
            "category": {
                "index": {"DE": 0, "FR": 1, "ZZ": 2},
                "label": {"DE": "Germany", "FR": "France"},
            }
        },
        "time": {
            "category": {
                "index": {"2022": 0, "2023": 1},
                "label": {"2022": "2022", "2023": "2023"},
            }
        },
    },
    "value": {
        "0": 100.5,
        "1": 101.0,
        "2": 200.0,
        "3": 201.5,
        "4": 300.0,
        "6": 999.0,
        "7": 998.0,
        "10": 42.0,
    },
}
