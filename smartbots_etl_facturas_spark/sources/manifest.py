"""S5/S6 — file-manifest lookup and listing.

The reference lists Drive files newest-first
(oauth_google_drive_adapter.py:96-111) and finds one by exact name.
The J5 idempotent skip (a ``(file_name, modified_time)`` with a
COMPLETED ``file_log`` entry is not processed again) is
``sinks.audit.AuditWriter.completed_files``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def find_file(manifest: DataFrame, name: str, name_col: str = "file_name") -> DataFrame:
    """S6 — exact-name lookup, first match."""
    return manifest.filter(F.col(name_col) == name).limit(1)


def newest_first(manifest: DataFrame, ts_col: str = "modified_time") -> DataFrame:
    """S5/O1 — ordered listing, newest first."""
    return manifest.orderBy(F.desc(ts_col))
