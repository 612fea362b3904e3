"""Output checks. Every result is canonicalized with the repo's differential
harness (``tests/harness.py``, used read-only: columns sorted by name,
floats rounded, rows sorted) and hashed. A result is correct when it equals
its reference: the DuckDB oracle's result where the op has one, otherwise
the op's first result in the same run (or, for concurrent clients, its
sequential result). A hash mismatch falls back to the harness's tolerant
value comparison, so a float that rounds across the 6th decimal on one
side is not reported as wrong."""

from __future__ import annotations

import hashlib
import threading

import pandas as pd

from tests import harness


class _Frame:
    """Adapter: ``harness.compare`` takes anything with ``toPandas``."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 - harness protocol
        return self._pdf


def to_frame(result) -> pd.DataFrame:
    """Normalize an op's result to a DataFrame: pandas results as-is,
    chatbot answers as one row per hit plus the mode and answer text."""
    if not isinstance(result, dict):
        return result
    rows = pd.DataFrame(result.get("rows") or [])  # rag.chatbot.answer_question
    rows["__mode"] = result["mode"]
    rows["__answer"] = result["answer"]
    if rows.empty:
        rows = pd.DataFrame({"__mode": [result["mode"]], "__answer": [result["answer"]]})
    return rows


def digest(pdf: pd.DataFrame) -> str:
    canon = harness.canonicalize(pdf)
    h = hashlib.sha256("\x1f".join(canon.columns).encode())
    h.update(pd.util.hash_pandas_object(canon, index=False).to_numpy().tobytes())
    return h.hexdigest()


def mismatch(result: pd.DataFrame, reference: pd.DataFrame) -> list[str]:
    """Empty when ``result`` equals ``reference`` after canonicalization."""
    if digest(result) == digest(reference):
        return []
    return harness.compare(_Frame(result), reference) or []


class References:
    """Reference results per op: oracle results given up front, otherwise
    the first result seen. Thread-safe, so concurrent clients can share it."""

    def __init__(self, oracle: dict[str, pd.DataFrame] | None = None) -> None:
        self.oracle = dict(oracle or {})
        self.first: dict[str, pd.DataFrame] = {}
        self._lock = threading.Lock()

    def check(self, key: str, result) -> list[str]:
        frame = to_frame(result)
        ref = self.oracle.get(key)
        if ref is None:
            with self._lock:
                ref = self.first.setdefault(key, frame)
            if ref is frame:
                return []
        return mismatch(frame, ref)
