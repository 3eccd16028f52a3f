"""Correctness gate: every op's output against an independent oracle.

The gate runs after the timed section. An op that raised, or whose
output differs from its oracle, is marked failed and counts in
``failed``/``attempted`` of the result line; nothing is dropped.

Row results (the stream's committed output) compare as row multisets
against a DuckDB oracle over the same generated files, with the
registry's parity rule from ``scripts/check_parity.py``: columns sorted
by name, order-insensitive, values compared by ``repr`` after decimals
become floats.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from scripts.check_parity import _key


@dataclass
class Op:
    """One unit a user waits for, as the timed loop recorded it."""

    workload: str
    name: str
    latency_s: float
    rows_in: int = 0
    output: Any = None
    error: str | None = None
    layer: dict[str, float] = field(default_factory=dict)
    problem: str | None = None

    @property
    def failed(self) -> bool:
        return self.error is not None or self.problem is not None


def row_multiset(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name and rows as sorted parity keys."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(_key([r[i] for i in order]) for r in rows)


def compare_rows(got: tuple[list[str], list[tuple]],
                 want: tuple[list[str], list[tuple]]) -> str | None:
    """None when the (columns, rows) result ``got`` is the multiset
    ``want`` (an oracle's answer through ``row_multiset``, computed once
    per input), else a one-line description of the first difference."""
    g_cols, g_rows = row_multiset(*got)
    w_cols, w_rows = want
    if g_cols != w_cols:
        return f"columns differ: got {g_cols} want {w_cols}"
    if len(g_rows) != len(w_rows):
        return f"row counts differ: got {len(g_rows)} want {len(w_rows)}"
    for a, b in zip(g_rows, w_rows):
        if a != b:
            return f"value mismatch: got {a} want {b}"
    return None


def apply(ops: list[Op], check: Callable[[Op], str | None]) -> None:
    """Run ``check`` on every op that completed; an exception inside
    the check is itself a failed check."""
    for op in ops:
        if op.error is not None:
            continue
        try:
            op.problem = check(op)
        except Exception as exc:  # noqa: BLE001 - any oracle crash fails the op
            op.problem = f"oracle check raised {type(exc).__name__}: {exc}"
        op.output = None  # release the collected rows


def summary(ops: list[Op]) -> tuple[int, int]:
    """(attempted, failed) over ``ops``."""
    return len(ops), sum(op.failed for op in ops)
