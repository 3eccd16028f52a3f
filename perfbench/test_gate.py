"""The correctness gate counts a wrong op result as failed.

    python3 -m pytest perfbench/test_gate.py -q

Runs without a Spark session: the oracle side is DuckDB over event
files generated exactly as a benchmark run generates them.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gate  # noqa: E402
import workloads  # noqa: E402


def test_wrong_stream_output_counts_in_failed_frac(tmp_path):
    wl = workloads.make("event_stream", str(tmp_path), seed=3)
    wl.n_events, wl.n_files = 2_000, 3
    wl.generate()
    cols, rows = workloads.stream_oracle(wl.events_dir)
    n = cols.index("n")
    committed = {
        "right": (cols, rows),
        "off_by_one": (cols, [(*rows[0][:n], rows[0][n] + 1, *rows[0][n + 1:]),
                              *rows[1:]]),
        "reordered": (cols, list(reversed(rows))),  # order is not checked
        "row_missing": (cols, rows[1:]),
    }
    wl.committed = committed.__getitem__
    wl.outputs = {k: (k, wl.events_dir) for k in committed}
    ops = [gate.Op("event_stream", f"batch-{i}", 0.1, output=k)
           for i, k in enumerate(committed)]
    gate.apply(ops, wl.check)
    assert [op.failed for op in ops] == [False, True, False, True]
    assert "value mismatch" in ops[1].problem
    assert "row counts differ" in ops[3].problem
    assert gate.summary(ops) == (4, 2)


def test_raised_op_and_crashing_oracle_count_as_failed():
    def check(op):
        if op.name == "crash":
            raise RuntimeError("oracle unavailable")
        return None

    ops = [
        gate.Op("w", "ok", 0.1, output=1),
        gate.Op("w", "raised", 0.1, error="ValueError: boom"),
        gate.Op("w", "crash", 0.1, output=1),
    ]
    gate.apply(ops, check)
    assert [op.failed for op in ops] == [False, True, True]
    assert "oracle check raised RuntimeError" in ops[2].problem
    assert gate.summary(ops) == (3, 2)


def test_compare_rows_sorts_columns_and_normalises_decimals():
    from decimal import Decimal

    got = (["b", "a"], [(Decimal("1.50"), "x")])
    want = gate.row_multiset(["a", "b"], [("x", 1.5)])
    assert gate.compare_rows(got, want) is None
    other = gate.row_multiset(["a", "c"], [("x", 1.5)])
    assert gate.compare_rows(got, other).startswith("columns differ")
