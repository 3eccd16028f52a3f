"""Codegen health check: run the invoice-extract family and fail if
whole-stage codegen falls back (janino 64 KB method limit).

Spark logs ``WholeStageCodegenExec: ... Code grows beyond 64 KB`` (or
``Cannot compile``/``hugeMethodLimit``) to stderr on fallback; this
script executes the plans and greps its own captured JVM stderr.

Usage: python scripts/check_codegen.py  → exit 0 iff zero fallbacks.
"""

from __future__ import annotations

import os
import re
import sys

QUERIES = [
    "invoice_extract_golden",
    "invoice_extract_errors",
    "consolidation_pipeline",
    "validation_valid",
    "validation_errors",
    "money_parse_golden",
]

FALLBACK_RE = re.compile(
    r"grows beyond 64 KB|Cannot compile|hugeMethodLimit|"
    r"Found too long generated codes|fallback to the interpreter mode",
    re.IGNORECASE,
)


def main() -> int:
    # Redirect fd 2 (shared with the JVM) into a file we can read
    # afterwards (NamedTemporaryFile, removed on exit — no /tmp litter
    # and no mktemp name race).
    import tempfile

    log_file = tempfile.NamedTemporaryFile(
        prefix="codegen_log_", delete=False
    )
    log_path = log_file.name
    log_file.close()
    saved_stderr = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_TRUNC)
    os.dup2(log_fd, 2)
    try:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "8g")
            .getOrCreate()
        )
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        import __spark_entry__ as entry

        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
        qs = entry.queries()
        for name in QUERIES:
            qs[name](spark, sf_dir).collect()
        spark.stop()
    finally:
        os.dup2(saved_stderr, 2)
        os.close(saved_stderr)
        os.close(log_fd)

    with open(log_path, errors="replace") as f:
        log = f.read()
    os.unlink(log_path)
    hits = [ln for ln in log.splitlines() if FALLBACK_RE.search(ln)]
    print(f"codegen fallback lines: {len(hits)}")
    for ln in hits[:20]:
        print("  " + ln[:300])
    return 1 if hits else 0


if __name__ == "__main__":
    sys.exit(main())
