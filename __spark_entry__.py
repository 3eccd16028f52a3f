"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is one operator from SURVEY.md §2 (or a
scale-extension from BASELINE.json's north star), implemented with the
engine library ``smartbots_etl_facturas_spark`` and verified against
the matching ``oracle_sql()`` DuckDB statement at sf=0.01.

Conventions that keep Spark and DuckDB hash-identical:
- every aggregate / computed column is aliased to the SAME name on
  both sides;
- raw double columns are cast to decimal FIRST (faithful: source
  values carry ≤4 decimal digits), all arithmetic stays in decimal
  with no scale narrowing (Spark rounds HALF_UP, DuckDB truncates),
  and results are cast to DOUBLE only in the final projection;
- DuckDB-side decimal→double casts of wide sums go through VARCHAR
  (DuckDB double-rounds when the scaled integer exceeds 2^53);
- counts are cast to BIGINT on the DuckDB side (its SUM(int) widens
  to HUGEINT otherwise);
- window/dedup orderings are TOTAL orders (explicit tie-breaks) —
  lineitem contains duplicate (orderkey, linenumber) pairs;
- no query relies on output row order; LIMIT queries use a total
  deterministic ORDER BY (tie-broken by key) on both sides.
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from smartbots_etl_facturas_spark.functions.dates import excel_serial_to_date, parse_date_multi
from smartbots_etl_facturas_spark.functions.money import parse_money
from smartbots_etl_facturas_spark.operators.ordered import (
    dedup_first_wins,
    drop_all_null_rows,
    filter_nonblank_key,
    filter_summary_rows,
    take_while,
)
from smartbots_etl_facturas_spark.streaming.sessions import sessionize
from smartbots_etl_facturas_spark.operators.dedup import (
    cluster_representatives,
    cosine_neardup_pairs,
    hamming_distance,
    minhash_lsh_pairs,
    neardup_clusters,
    ngram_jaccard_pairs,
    simhash,
)
from smartbots_etl_facturas_spark.functions.text import (
    BPE_ISH_PATTERN,
    bpe_ish_token_count,
    token_count,
    tokens,
)
from smartbots_etl_facturas_spark.sources.multimodal import extract_image_features
from smartbots_etl_facturas_spark.operators.asof import asof_join
from smartbots_etl_facturas_spark.operators.skew import salted_agg
from smartbots_etl_facturas_spark.operators.rangejoin import bucketed_range_join
from smartbots_etl_facturas_spark.operators.reconcile import reconcile
from smartbots_etl_facturas_spark.operators.pq import cosine_topk_ivfpq
from smartbots_etl_facturas_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
)
from smartbots_etl_facturas_spark.operators.rollup import (
    derived_total,
    per_file_counts,
    run_report,
    status_counts,
)
from smartbots_etl_facturas_spark.operators.upsert import (
    PK,
    audit_actions,
    upsert_full,
    upsert_insert_only,
)
from smartbots_etl_facturas_spark.functions.cleaning import (
    clean_string,
    int_display_cast,
    normalize_currency,
    strip_prefix,
)
from smartbots_etl_facturas_spark.operators.validation import split_valid, with_validation
from smartbots_etl_facturas_spark.plans.invoices import invoice_view, invoices_cte
from smartbots_etl_facturas_spark.operators.ranking import (
    global_order_index,
    ntile_from_rank,
)
from smartbots_etl_facturas_spark.sources.manifest import find_file, newest_first

DEC = "decimal(18,2)"


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Consolidation scenario frames (J1/J2/J3/J4 exercised on lineitem):
#   existing  = master rows  (l_linenumber >= 3)
#   incoming  = new batch    (l_linenumber <= 4, carrier re-labelled INC-)
# overlap at linenumbers 3-4 proves "existing wins" insert-only semantics.
# ---------------------------------------------------------------------------

def _existing(spark, sf_dir):
    return invoice_view(_read(spark, sf_dir, "lineitem")).filter(F.col("l_linenumber") >= 3)


def _incoming(spark, sf_dir):
    inv = invoice_view(_read(spark, sf_dir, "lineitem")).filter(F.col("l_linenumber") <= 4)
    return inv.withColumn(
        "carrier_name", F.concat(F.lit("INC-"), F.col("l_suppkey").cast("string"))
    )


_EXISTING_SQL = "existing AS (SELECT * FROM invoices WHERE l_linenumber >= 3)"
_INCOMING_SQL = ("incoming AS (SELECT * REPLACE ('INC-' || CAST(l_suppkey AS VARCHAR)"
                 " AS carrier_name) FROM invoices WHERE l_linenumber <= 4)")

_VALID_PRED_SQL = """NOT (invoice_number IS NULL OR trim(invoice_number) = '')
    AND NOT (reference_number IS NULL OR trim(reference_number) = '')
    AND NOT (carrier_name IS NULL OR trim(carrier_name) = '')
    AND NOT (total_amount < 0)
    AND NOT (abs(total_amount - (coalesce(net_amount, 0) + coalesce(tax_amount, 0))) > 1)"""

_ERROR_REASON_SQL = """CASE
    WHEN invoice_number IS NULL OR trim(invoice_number) = '' THEN 'invoice_number no puede estar vacío'
    WHEN reference_number IS NULL OR trim(reference_number) = '' THEN 'reference_number no puede estar vacío'
    WHEN carrier_name IS NULL OR trim(carrier_name) = '' THEN 'carrier_name no puede estar vacío'
    WHEN total_amount < 0 THEN 'total_amount no puede ser negativo'
    WHEN abs(total_amount - (coalesce(net_amount, 0) + coalesce(tax_amount, 0))) > 1
         THEN 'total_amount no coincide con net + tax'
    END"""


# --- J1 ---------------------------------------------------------------------

def q_upsert_insert_only(spark, sf_dir):
    """J1 insert-only upsert (consolidate_invoices.py:475-515)."""
    result = upsert_insert_only(_existing(spark, sf_dir), _incoming(spark, sf_dir), PK)
    return result.select(
        "invoice_number", "reference_number", "carrier_name",
        F.col("total_amount").cast("double").alias("total_amount"),
    )


SQL_UPSERT_INSERT_ONLY = f"""
WITH {invoices_cte()},
{_EXISTING_SQL},
{_INCOMING_SQL}
SELECT invoice_number, reference_number, carrier_name,
       CAST(total_amount AS DOUBLE) AS total_amount
FROM existing
UNION ALL
SELECT i.invoice_number, i.reference_number, i.carrier_name,
       CAST(i.total_amount AS DOUBLE) AS total_amount
FROM incoming i
WHERE NOT EXISTS (SELECT 1 FROM existing e
                  WHERE e.invoice_number = i.invoice_number
                    AND e.reference_number = i.reference_number)
"""


# --- J2 ---------------------------------------------------------------------

def q_upsert_full_status(spark, sf_dir):
    """J2 full upsert with NEW/UPDATED/UNCHANGED (entities.py:101-111)."""
    inv = invoice_view(_read(spark, sf_dir, "lineitem"))
    existing = inv.filter(F.col("l_linenumber") >= 3)
    incoming = inv.filter(F.col("l_linenumber") <= 4).withColumn(
        "carrier_name",
        F.when(F.col("l_partkey") % 3 == 0,
               F.concat(F.lit("MOD-"), F.col("l_suppkey").cast("string")))
        .otherwise(F.col("carrier_name")),
    )
    merged = upsert_full(existing, incoming, PK, compare_cols=["carrier_name", "total_amount"])
    return merged.select(
        "invoice_number", "reference_number", "carrier_name",
        F.col("total_amount").cast("double").alias("total_amount"), "status",
    )


SQL_UPSERT_FULL = f"""
WITH {invoices_cte()},
{_EXISTING_SQL},
incoming AS (SELECT * REPLACE (CASE WHEN l_partkey % 3 = 0
                 THEN 'MOD-' || CAST(l_suppkey AS VARCHAR)
                 ELSE carrier_name END AS carrier_name)
             FROM invoices WHERE l_linenumber <= 4)
SELECT coalesce(i.invoice_number, e.invoice_number) AS invoice_number,
       coalesce(i.reference_number, e.reference_number) AS reference_number,
       CASE WHEN e.invoice_number IS NULL
              OR (i.invoice_number IS NOT NULL
                  AND ((i.carrier_name IS DISTINCT FROM e.carrier_name)
                       OR (i.total_amount IS DISTINCT FROM e.total_amount)))
            THEN i.carrier_name ELSE e.carrier_name END AS carrier_name,
       CAST(CASE WHEN e.invoice_number IS NULL
              OR (i.invoice_number IS NOT NULL
                  AND ((i.carrier_name IS DISTINCT FROM e.carrier_name)
                       OR (i.total_amount IS DISTINCT FROM e.total_amount)))
            THEN i.total_amount ELSE e.total_amount END AS DOUBLE) AS total_amount,
       CASE WHEN e.invoice_number IS NULL THEN 'NEW'
            WHEN i.invoice_number IS NULL THEN 'UNCHANGED'
            WHEN (i.carrier_name IS DISTINCT FROM e.carrier_name)
                 OR (i.total_amount IS DISTINCT FROM e.total_amount) THEN 'UPDATED'
            ELSE 'UNCHANGED' END AS status
FROM incoming i
FULL OUTER JOIN existing e
  ON i.invoice_number = e.invoice_number AND i.reference_number = e.reference_number
"""


# --- J3/J4/A1/A2 ------------------------------------------------------------

_RECONCILE_SELECT_SQL = """
SELECT CAST(CAST(st.t AS VARCHAR) AS DOUBLE) AS source_total,
       CAST(CAST(rt.t AS VARCHAR) AS DOUBLE) AS result_total,
       CAST(CAST(abs(st.t - rt.t) AS VARCHAR) AS DOUBLE) AS variance,
       m.missing_pk_count,
       m.missing_pk_count = 0 AS no_data_loss,
       abs(st.t - rt.t) <= 1 AS amounts_match,
       (m.missing_pk_count = 0 AND abs(st.t - rt.t) <= 1) AS reconciled
FROM st, rt, m
"""


def q_reconciliation(spark, sf_dir):
    """J3/J4/A1/A2 — zero-data-loss + amount variance (±1 exclusive)
    of the incoming batch against its insert-only upsert (J1)."""
    existing, incoming = _existing(spark, sf_dir), _incoming(spark, sf_dir)
    result = upsert_insert_only(existing, incoming, PK)
    return reconcile(incoming, result, PK, amount_type="decimal(27,6)")


SQL_RECONCILIATION = f"""
WITH {invoices_cte()},
{_EXISTING_SQL},
{_INCOMING_SQL},
result AS (
  SELECT * FROM existing
  UNION ALL
  SELECT * FROM incoming i
  WHERE NOT EXISTS (SELECT 1 FROM existing e
                    WHERE e.invoice_number = i.invoice_number
                      AND e.reference_number = i.reference_number)),
m AS (SELECT CAST(count(*) AS BIGINT) AS missing_pk_count FROM incoming s
      WHERE NOT EXISTS (SELECT 1 FROM result r
                        WHERE r.invoice_number = s.invoice_number
                          AND r.reference_number = s.reference_number)),
st AS (SELECT coalesce(sum(CAST(total_amount AS DECIMAL(27,6))), 0) AS t FROM incoming),
rt AS (SELECT coalesce(sum(CAST(total_amount AS DECIMAL(27,6))), 0) AS t FROM result r
       WHERE EXISTS (SELECT 1 FROM incoming s
                     WHERE s.invoice_number = r.invoice_number
                       AND s.reference_number = r.reference_number))
{_RECONCILE_SELECT_SQL}
"""


def q_reconciliation_broken(spark, sf_dir):
    """Reconciliation failure path: simulated data loss must trip both
    the anti-join check and the variance check."""
    existing, incoming = _existing(spark, sf_dir), _incoming(spark, sf_dir)
    result = upsert_insert_only(existing, incoming, PK)
    broken = result.filter(~(F.col("l_orderkey") % 101 == 0))
    return reconcile(incoming, broken, PK, amount_type="decimal(27,6)")


SQL_RECONCILIATION_BROKEN = f"""
WITH {invoices_cte()},
{_EXISTING_SQL},
{_INCOMING_SQL},
result0 AS (
  SELECT * FROM existing
  UNION ALL
  SELECT * FROM incoming i
  WHERE NOT EXISTS (SELECT 1 FROM existing e
                    WHERE e.invoice_number = i.invoice_number
                      AND e.reference_number = i.reference_number)),
result AS (SELECT * FROM result0 WHERE NOT (l_orderkey % 101 = 0)),
m AS (SELECT CAST(count(*) AS BIGINT) AS missing_pk_count FROM incoming s
      WHERE NOT EXISTS (SELECT 1 FROM result r
                        WHERE r.invoice_number = s.invoice_number
                          AND r.reference_number = s.reference_number)),
st AS (SELECT coalesce(sum(CAST(total_amount AS DECIMAL(27,6))), 0) AS t FROM incoming),
rt AS (SELECT coalesce(sum(CAST(total_amount AS DECIMAL(27,6))), 0) AS t FROM result r
       WHERE EXISTS (SELECT 1 FROM incoming s
                     WHERE s.invoice_number = r.invoice_number
                       AND s.reference_number = r.reference_number))
{_RECONCILE_SELECT_SQL}
"""


_SCRATCH_ROOT: str | None = None


def _scratch_dir(prefix: str) -> str:
    """Per-process scratch dir for queries that must materialize
    tables (publish/audit sinks, golden XLSX files). Removed at
    interpreter exit — the returned DataFrames read from it LAZILY,
    so cleanup cannot happen inside the query call itself; parking
    every run under one atexit-reaped root keeps repeated harness and
    bench invocations from accumulating disk garbage."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="spark_entry_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


# --- flagship: the whole reference pipeline in one plan ---------------------

def q_flagship_consolidation(spark, sf_dir):
    """P1→P9/P10→U4→J1 chain: project, validate+split, first-wins dedup,
    insert-only upsert (the reference's essence as one Catalyst plan)."""
    existing = _existing(spark, sf_dir)
    incoming = invoice_view(_read(spark, sf_dir, "lineitem"), dirty=True)
    # lineitem holds duplicate (orderkey, linenumber) pairs — first-wins
    # dedup with a total order so the surviving row is deterministic
    incoming = dedup_first_wins(
        incoming, PK, ["l_partkey", "l_suppkey", "net_amount", "tax_amount"]
    )
    valid, _errors = split_valid(with_validation(incoming))
    result = upsert_insert_only(existing, valid.drop("error_reason", "valid"), PK)
    return result.select(
        "invoice_number", "reference_number", "carrier_name", "source_file",
        F.col("total_amount").cast("double").alias("total_amount"),
    )


SQL_FLAGSHIP = f"""
WITH {invoices_cte(name="invoices_dirty", dirty=True)},
{invoices_cte()},
{_EXISTING_SQL},
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY invoice_number, reference_number
                                 ORDER BY l_partkey, l_suppkey, net_amount, tax_amount) AS rn
    FROM invoices_dirty)
  WHERE rn = 1),
valid_incoming AS (SELECT * FROM deduped WHERE {_VALID_PRED_SQL})
SELECT invoice_number, reference_number, carrier_name, source_file,
       CAST(total_amount AS DOUBLE) AS total_amount
FROM existing
UNION ALL
SELECT i.invoice_number, i.reference_number, i.carrier_name, i.source_file,
       CAST(i.total_amount AS DOUBLE) AS total_amount
FROM valid_incoming i
WHERE NOT EXISTS (SELECT 1 FROM existing e
                  WHERE e.invoice_number = i.invoice_number
                    AND e.reference_number = i.reference_number)
"""


# --- P9/P10 -----------------------------------------------------------------

def q_validation_valid(spark, sf_dir):
    inv = invoice_view(_read(spark, sf_dir, "lineitem"), dirty=True)
    valid, _ = split_valid(with_validation(inv))
    return valid.select(
        "invoice_number", "reference_number",
        F.col("total_amount").cast("double").alias("total_amount"),
    )


SQL_VALIDATION_VALID = f"""
WITH {invoices_cte(dirty=True)}
SELECT invoice_number, reference_number, CAST(total_amount AS DOUBLE) AS total_amount
FROM invoices WHERE {_VALID_PRED_SQL}
"""


def q_validation_errors(spark, sf_dir):
    inv = invoice_view(_read(spark, sf_dir, "lineitem"), dirty=True)
    _, errors = split_valid(with_validation(inv))
    return errors.select("invoice_number", "reference_number", "error_reason")


SQL_VALIDATION_ERRORS = f"""
WITH {invoices_cte(dirty=True)}
SELECT invoice_number, reference_number, {_ERROR_REASON_SQL} AS error_reason
FROM invoices WHERE NOT ({_VALID_PRED_SQL})
"""


# --- F1/F2/F3 golden scalar functions ---------------------------------------

GOLDEN_MONEY = [
    (0, "1.234.567"), (1, "$12.345"), (2, "1234,56"), (3, "1,234.56"),
    (4, "50000"), (5, "123.45"), (6, "1.234,56"), (7, "999"),
    (8, "  $ 1.000.000  "), (9, "N/A"), (10, None), (11, "12.3456"),
    (12, "0,5"), (13, "1,234,567.89"),
]


def q_money_parse_golden(spark, sf_dir):
    """F1 locale-aware money parse (transformers.py:70-101 semantics)."""
    df = spark.createDataFrame(GOLDEN_MONEY, "idx long, raw string")
    parsed = parse_money(F.col("raw"))
    return df.select(
        "idx", parsed.cast("double").alias("parsed"), parsed.isNotNull().alias("parse_ok")
    )


_MONEY_VALUES = ", ".join(
    f"({i}, {'NULL' if s is None else repr(s)})" for i, s in GOLDEN_MONEY
)

SQL_MONEY_PARSE = f"""
WITH raw(idx, s0) AS (VALUES {_MONEY_VALUES}),
cleaned AS (SELECT CAST(idx AS BIGINT) AS idx,
                   replace(replace(trim(s0), '$', ''), ' ', '') AS s FROM raw),
norm AS (SELECT idx,
  CASE
    WHEN contains(s, '.') AND contains(s, ',')
         AND strpos(reverse(s), '.') < strpos(reverse(s), ',')
      THEN replace(s, ',', '')
    WHEN contains(s, '.') AND contains(s, ',')
      THEN replace(replace(s, '.', ''), ',', '.')
    WHEN contains(s, ',') AND length(s) - length(replace(s, ',', '')) = 1
      THEN replace(s, ',', '.')
    WHEN length(s) - length(replace(s, '.', '')) > 1
      THEN replace(s, '.', '')
    WHEN length(s) - length(replace(s, '.', '')) = 1
         AND regexp_matches(s, '^[^.]*\\..{{3}}$')
      THEN replace(s, '.', '')
    ELSE s END AS n FROM cleaned)
SELECT idx, CAST(TRY_CAST(n AS DECIMAL(18,2)) AS DOUBLE) AS parsed,
       TRY_CAST(n AS DECIMAL(18,2)) IS NOT NULL AS parse_ok
FROM norm
"""

GOLDEN_DATES = [
    (0, "15-02-2026"), (1, "2026-02-15"), (2, "15/02/2026"),
    (3, "31-13-2026"), (4, "INVALID-DATE"), (5, None), (6, "01-01-1999"),
    (7, "29/02/2024"), (8, "29/02/2023"),
]


def q_date_parse_golden(spark, sf_dir):
    """F2 multi-format date parse (transformers.py:57-68)."""
    df = spark.createDataFrame(GOLDEN_DATES, "idx long, raw string")
    return df.select("idx", parse_date_multi(F.col("raw")).alias("parsed"))


_DATE_VALUES = ", ".join(
    f"({i}, {'NULL' if s is None else repr(s)})" for i, s in GOLDEN_DATES
)

SQL_DATE_PARSE = f"""
WITH raw(idx, s) AS (VALUES {_DATE_VALUES})
SELECT CAST(idx AS BIGINT) AS idx,
       coalesce(CAST(try_strptime(trim(s), '%d-%m-%Y') AS DATE),
                CAST(try_strptime(trim(s), '%Y-%m-%d') AS DATE),
                CAST(try_strptime(trim(s), '%d/%m/%Y') AS DATE)) AS parsed
FROM raw
"""

GOLDEN_SERIALS = [(0, 45000), (1, 1), (2, 60), (3, None), (4, 25569)]


def q_excel_serial_golden(spark, sf_dir):
    """F3 Excel 1900-epoch serial decode (calamine_extractor.py:122-128)."""
    df = spark.createDataFrame(GOLDEN_SERIALS, "idx long, serial int")
    return df.select("idx", excel_serial_to_date(F.col("serial")).alias("d"))


_SERIAL_VALUES = ", ".join(
    f"({i}, {'NULL' if n is None else n})" for i, n in GOLDEN_SERIALS
)

SQL_EXCEL_SERIAL = f"""
WITH raw(idx, serial) AS (VALUES {_SERIAL_VALUES})
SELECT CAST(idx AS BIGINT) AS idx, DATE '1899-12-30' + CAST(serial AS INTEGER) AS d
FROM raw
"""


# --- U4 / P8 order-sensitive ------------------------------------------------

def q_dedup_first_wins(spark, sf_dir):
    """U4 first-wins dedup on an explicit (total) order."""
    li = _read(spark, sf_dir, "lineitem")
    order = ["l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"]
    first = dedup_first_wins(li, ["l_orderkey"], order)
    return first.select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")


SQL_DEDUP_FIRST_WINS = """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM (SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber, l_partkey, l_suppkey,
                                         l_extendedprice, l_quantity) AS rn
      FROM lineitem)
WHERE rn = 1
"""


def q_take_while(spark, sf_dir):
    """P8 take-while: per order, stop at the first low-quantity line
    (positional break semantics, official_format_extractor.py:255-264)."""
    li = _read(spark, sf_dir, "lineitem")
    kept = take_while(li, "l_linenumber", F.col("l_quantity") < 3, ["l_orderkey"])
    return kept.select("l_orderkey", "l_linenumber", "l_quantity")


SQL_TAKE_WHILE = """
SELECT l_orderkey, l_linenumber, l_quantity
FROM (SELECT l_orderkey, l_linenumber, l_quantity,
             min(CASE WHEN l_quantity < 3 THEN l_linenumber END)
               OVER (PARTITION BY l_orderkey) AS stop_at
      FROM lineitem)
WHERE stop_at IS NULL OR l_linenumber < stop_at
"""


# --- A3/A4/A5 report aggregations -------------------------------------------

def q_status_counts(spark, sf_dir):
    """A3 upsert counters (dtos.py:9-18)."""
    return status_counts(q_upsert_full_status(spark, sf_dir))


SQL_STATUS_COUNTS = f"""
WITH merged AS ({SQL_UPSERT_FULL})
SELECT CAST(sum(CASE WHEN status = 'NEW' THEN 1 ELSE 0 END) AS BIGINT) AS inserted,
       CAST(sum(CASE WHEN status = 'UPDATED' THEN 1 ELSE 0 END) AS BIGINT) AS updated,
       CAST(sum(CASE WHEN status = 'UNCHANGED' THEN 1 ELSE 0 END) AS BIGINT) AS unchanged,
       CAST(count(*) AS BIGINT) AS total_processed
FROM merged
"""


def q_per_file_counts(spark, sf_dir):
    """A4 per-file valid/error counts keyed by provenance."""
    inv = with_validation(invoice_view(_read(spark, sf_dir, "lineitem"), dirty=True))
    return per_file_counts(inv)


SQL_PER_FILE_COUNTS = f"""
WITH {invoices_cte(dirty=True)}
SELECT source_file,
       CAST(count(*) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN {_VALID_PRED_SQL} THEN 1 ELSE 0 END) AS BIGINT) AS rows_valid,
       CAST(sum(CASE WHEN NOT ({_VALID_PRED_SQL}) THEN 1 ELSE 0 END) AS BIGINT) AS rows_error
FROM invoices
GROUP BY source_file
"""


def q_run_report(spark, sf_dir):
    """A5 run rollup + SUCCESS/PARTIAL/ERROR derivation."""
    return run_report(q_per_file_counts(spark, sf_dir))


SQL_RUN_REPORT = f"""
WITH per_file AS ({SQL_PER_FILE_COUNTS})
SELECT CAST(count(*) AS BIGINT) AS total_files,
       CAST(sum(rows_total) AS BIGINT) AS total_records,
       CAST(sum(rows_valid) AS BIGINT) AS total_valid,
       CAST(sum(rows_error) AS BIGINT) AS total_errors,
       CAST(sum(CASE WHEN rows_error > 0 THEN 1 ELSE 0 END) AS BIGINT) AS error_files,
       CASE WHEN count(*) = 0 THEN 'NO_FILES'
            WHEN sum(CASE WHEN rows_error > 0 THEN 1 ELSE 0 END) = 0 THEN 'SUCCESS'
            WHEN sum(CASE WHEN rows_error > 0 THEN 1 ELSE 0 END) < count(*) THEN 'PARTIAL'
            ELSE 'ERROR' END AS run_status
FROM per_file
"""


# --- A6 derived total -------------------------------------------------------

def q_derived_total(spark, sf_dir):
    """A6 component-sum with explicit-total override
    (official_format_extractor.py:478-494). All components are exact
    decimals built from faithful raw-column casts."""
    li = _read(spark, sf_dir, "lineitem")
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(8,4)")
    tax = F.col("l_tax").cast("decimal(8,4)")
    qty = F.col("l_quantity").cast("decimal(8,2)")
    components = [
        ep,
        ep * disc,
        F.when(F.col("l_linenumber") % 2 == 0, qty * 100),
        F.when(F.col("l_partkey") % 5 == 0, F.lit(50)),
        qty * 10,
        F.when(F.col("l_suppkey") % 3 == 0, tax * 1000),
    ]
    override = F.when(F.col("l_linenumber") % 3 == 0, ep * 2).otherwise(F.lit(0))
    return li.select(
        "l_orderkey", "l_linenumber",
        derived_total(override, components).cast("double").alias("derived_total"),
    )


SQL_DERIVED_TOTAL = """
WITH t AS (
  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS ep,
         CAST(l_discount AS DECIMAL(8,4)) AS disc,
         CAST(l_tax AS DECIMAL(8,4)) AS tax,
         CAST(l_quantity AS DECIMAL(8,2)) AS qty
  FROM lineitem)
SELECT l_orderkey, l_linenumber,
  CAST(CASE WHEN (CASE WHEN l_linenumber % 3 = 0 THEN ep * 2 ELSE 0 END) > 0
       THEN (CASE WHEN l_linenumber % 3 = 0 THEN ep * 2 ELSE 0 END)
       ELSE coalesce(ep, 0)
          + coalesce(ep * disc, 0)
          + coalesce(CASE WHEN l_linenumber % 2 = 0 THEN qty * 100 END, 0)
          + coalesce(CASE WHEN l_partkey % 5 = 0 THEN 50 END, 0)
          + coalesce(qty * 10, 0)
          + coalesce(CASE WHEN l_suppkey % 3 = 0 THEN tax * 1000 END, 0)
       END AS DOUBLE) AS derived_total
FROM t
"""


# --- J5 idempotent ingestion ------------------------------------------------

def q_idempotency_pending(spark, sf_dir):
    """J5 processed-file skip on (file_name, modified_time)
    (consolidate_invoices.py:235-240; sqlite_tracker.py:232-240),
    through the pipeline's own path: the processed files are logged
    COMPLETED in a scratch file_log by ``AuditWriter.log_files``, and
    the manifest is anti-joined against ``completed_files()``."""
    from smartbots_etl_facturas_spark.sinks.audit import AuditWriter

    orders = _read(spark, sf_dir, "orders")
    manifest = orders.groupBy(F.col("o_orderpriority").alias("file_name")).agg(
        F.max("o_orderdate").cast("date").alias("modified_time")
    )
    processed = manifest.filter(F.col("file_name").rlike("^[13]")).withColumn(
        "modified_time",
        F.when(F.col("file_name").startswith("3"), F.date_sub(F.col("modified_time"), 1))
        .otherwise(F.col("modified_time")),
    )
    audit = AuditWriter(spark, _scratch_dir("idempotency_audit_"))
    audit.log_files("idempotency_pending", [  # a 5-row dim: the collect is bounded
        {"file_name": r.file_name, "file_modified_time": r.modified_time}
        for r in processed.collect()
    ])
    done = spark.createDataFrame(sorted(audit.completed_files()),
                                 "file_name string, file_modified_time string")
    return manifest.join(
        done,
        (manifest.file_name == done.file_name)
        & (manifest.modified_time.cast("string") == done.file_modified_time),
        "left_anti",
    )


SQL_IDEMPOTENCY_PENDING = """
WITH manifest AS (
  SELECT o_orderpriority AS file_name, CAST(max(o_orderdate) AS DATE) AS modified_time
  FROM orders GROUP BY 1),
processed AS (
  SELECT file_name,
         CASE WHEN file_name LIKE '3%' THEN modified_time - 1 ELSE modified_time END AS modified_time,
         'COMPLETED' AS status
  FROM manifest WHERE file_name LIKE '1%' OR file_name LIKE '3%')
SELECT m.file_name, m.modified_time
FROM manifest m
WHERE NOT EXISTS (SELECT 1 FROM processed p
                  WHERE p.status = 'COMPLETED'
                    AND p.file_name = m.file_name
                    AND p.modified_time = m.modified_time)
"""


# --- Spark-native analytical surface (SURVEY §2.4 extensions) ---------------

def q_regional_revenue(spark, sf_dir):
    """TPC-H Q5 shape — the one join topology no other registered
    query exercises: TWO dimension paths (orders→customer and
    lineitem→supplier) meeting on a SAME-NATION constraint, closed
    through nation→region with a region filter. All four dims
    broadcast (supplier/nation/region tiny; Catalyst pushes the
    region filter through the broadcast chain so non-ASIA rows die at
    the join, never reaching the aggregation); the only shuffles are
    the fact-fact orderkey join and the final 25-key group. Exact
    decimal revenue, cast to double once at the end (the
    pricing_summary determinism recipe)."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    supplier = F.broadcast(_read(spark, sf_dir, "supplier"))
    nation = F.broadcast(_read(spark, sf_dir, "nation"))
    region = F.broadcast(_read(spark, sf_dir, "region"))
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(8,4)")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.sum(ep * (1 - disc)).cast("double").alias("revenue"))
    )


SQL_REGIONAL_REVENUE = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
GROUP BY n_name
"""


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: the canonical wide aggregation."""
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") <= F.lit("1998-09-02").cast("date")
    )
    cnt = F.count(F.lit(1))
    qty = F.col("l_quantity").cast("decimal(12,2)")
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(8,4)")
    tax = F.col("l_tax").cast("decimal(8,4)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.sum(ep).cast("double").alias("sum_base_price"),
        F.sum(ep * (1 - disc)).cast("double").alias("sum_disc_price"),
        F.sum(ep * (1 - disc) * (1 + tax)).cast("double").alias("sum_charge"),
        (F.sum(qty).cast("double") / cnt).alias("avg_qty"),
        (F.sum(ep).cast("double") / cnt).alias("avg_price"),
        (F.sum(disc).cast("double") / cnt).alias("avg_disc"),
        cnt.alias("count_order"),
    )


SQL_PRICING_SUMMARY = """
WITH t AS (
  SELECT l_returnflag, l_linestatus,
         CAST(l_quantity AS DECIMAL(12,2)) AS qty,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS ep,
         CAST(l_discount AS DECIMAL(8,4)) AS disc,
         CAST(l_tax AS DECIMAL(8,4)) AS tax
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02')
SELECT l_returnflag, l_linestatus,
       CAST(sum(qty) AS DOUBLE) AS sum_qty,
       CAST(sum(ep) AS DOUBLE) AS sum_base_price,
       -- decimal→double via VARCHAR: DuckDB's direct cast double-rounds
       -- when the scaled integer exceeds 2^53; strtod rounds once like Spark
       CAST(CAST(sum(ep * (1 - disc)) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
       CAST(CAST(sum(ep * (1 - disc) * (1 + tax)) AS VARCHAR) AS DOUBLE) AS sum_charge,
       CAST(sum(qty) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(ep) AS DOUBLE) / count(*) AS avg_price,
       CAST(sum(disc) AS DOUBLE) / count(*) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM t
GROUP BY l_returnflag, l_linestatus
"""


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3-shaped shipping priority: selective filters on BOTH
    fact inputs (date pushdown to the scans), customer dim broadcast,
    orders⋈lineitem left to AQE, top-10 by revenue with a total
    order. The canonical 3-way join + agg + top-k plan shape."""
    cutoff = F.lit("1998-03-15").cast("date")
    cust = _read(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") < cutoff
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") > cutoff
    ).select(
        "l_orderkey",
        (F.col("l_extendedprice").cast("decimal(12,2)")
         * (1 - F.col("l_discount").cast("decimal(8,4)"))).alias("amt"),
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"),
                 "o_orderpriority")
        .agg(F.sum("amt").cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.col("l_orderkey"))
        .limit(10)
    )


SQL_SHIPPING_PRIORITY = """
SELECT l.l_orderkey,
       CAST(o.o_orderdate AS DATE) AS o_orderdate,
       o.o_orderpriority,
       CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l.l_discount AS DECIMAL(8,4)))) AS VARCHAR)
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND CAST(o.o_orderdate AS DATE) < DATE '1998-03-15'
  AND CAST(l.l_shipdate AS DATE) > DATE '1998-03-15'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_top_customers(spark, sf_dir):
    """Star join through customer→nation→region + top-k by revenue.
    nation/region are broadcast (small dims); customer join left to AQE."""
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    nation = F.broadcast(_read(spark, sf_dir, "nation"))
    region = F.broadcast(_read(spark, sf_dir, "region"))
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("c_custkey", "c_name", "n_name", "r_name")
        .agg(
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), F.col("c_custkey"))
        .limit(10)
    )


SQL_TOP_CUSTOMERS = """
SELECT c.c_custkey, c.c_name, n.n_name, r.r_name,
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey
LIMIT 10
"""


def q_window_rank(spark, sf_dir):
    """Window ranking: top-3 orders per customer (deterministic tie-break)."""
    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


SQL_WINDOW_RANK = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
WHERE rn <= 3
"""


def q_window_lead_lag(spark, sf_dir):
    """Offset window functions: per-customer order timeline with the
    previous order's date (lag) and the day gap to the next order
    (lead) — one window sort per customer partition, no self-join."""
    orders = _read(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        F.lag(F.col("o_orderdate").cast("date")).over(w).alias("prev_date"),
        F.datediff(
            F.lead(F.col("o_orderdate").cast("date")).over(w),
            F.col("o_orderdate").cast("date"),
        ).cast("long").alias("days_to_next"),
    )


SQL_WINDOW_LEAD_LAG = """
SELECT o_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       lag(CAST(o_orderdate AS DATE)) OVER w AS prev_date,
       CAST(date_diff('day', CAST(o_orderdate AS DATE),
                      lead(CAST(o_orderdate AS DATE)) OVER w) AS BIGINT)
         AS days_to_next
FROM orders WHERE o_custkey % 50 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_array_stats(spark, sf_dir):
    """Higher-order array functions over the embedding vectors:
    per-vector min/max/mean/l2 via aggregate/transform folds —
    JVM-side lambda evaluation inside whole-stage codegen, the
    pattern every vector feature column reuses."""
    emb = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 20 == 0)
    v = F.col("embedding")
    total = F.aggregate(v, F.lit(0.0), lambda a, x: a + x.cast("double"))
    sq = F.aggregate(v, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double"))
    return emb.select(
        "vec_id",
        F.array_min(v).cast("double").alias("v_min"),
        F.array_max(v).cast("double").alias("v_max"),
        (total / F.size(v)).alias("v_mean"),
        F.sqrt(sq).alias("v_l2"),
        F.size(v).cast("long").alias("dim"),
    )


SQL_ARRAY_STATS = """
SELECT vec_id,
       CAST(list_min(embedding) AS DOUBLE) AS v_min,
       CAST(list_max(embedding) AS DOUBLE) AS v_max,
       list_sum(CAST(embedding AS DOUBLE[])) / len(embedding) AS v_mean,
       sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                             CAST(embedding AS DOUBLE[]))) AS v_l2,
       CAST(len(embedding) AS BIGINT) AS dim
FROM embeddings WHERE vec_id % 20 = 0
"""


def q_levenshtein_match(spark, sf_dir):
    """Fuzzy string matching: supplier-name pairs within edit distance
    4 (JVM levenshtein over a prefix-blocked self-join). HONESTY NOTE:
    on this corpus every supplier shares the 'Supplier' prefix, so the
    block is degenerate and this runs as an exact all-pairs scorer over
    the bounded sample — a ground-truth tier, like ann_bruteforce. At
    real scale, edit-distance candidate generation needs a
    deletion-neighborhood or q-gram index (the minhash_lsh_pairs
    discipline), not a prefix block."""
    s = _read(spark, sf_dir, "supplier").filter(F.col("s_suppkey") % 3 == 0).select(
        "s_suppkey", F.col("s_name").alias("name"),
        F.substring("s_name", 1, 8).alias("blk"),
    )
    a = s.select(F.col("s_suppkey").alias("key_a"), F.col("name").alias("name_a"), "blk")
    b = s.select(F.col("s_suppkey").alias("key_b"), F.col("name").alias("name_b"), "blk")
    return (
        a.join(b, "blk")
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= 4)
        .select("key_a", "key_b", "name_a", "name_b", "dist")
    )


SQL_LEVENSHTEIN_MATCH = """
WITH s AS (SELECT s_suppkey, s_name AS name, substr(s_name, 1, 8) AS blk
           FROM supplier WHERE s_suppkey % 3 = 0)
SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
       a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
FROM s a JOIN s b ON a.blk = b.blk AND a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.name, b.name) <= 4
"""


def q_rollup_sales(spark, sf_dir):
    """ROLLUP hierarchy totals with grouping id (engine surface the
    reference lacks; SURVEY §2.4 note)."""
    li = _read(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("sum_base_price"),
        F.count(F.lit(1)).alias("n_rows"),
    )


SQL_ROLLUP_SALES = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_grouping_sets_sales(spark, sf_dir):
    """Explicit GROUPING SETS (the general form ROLLUP/CUBE
    specialize): three hand-picked grouping combinations —
    (flag, status), (flag), (status) — computed in ONE pass with
    grouping_id disambiguation, completing the multi-dimensional
    aggregation family next to rollup_sales/cube_sales."""
    li = _read(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("v_li_gs")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_base_price,
               count(*) AS n_rows
        FROM v_li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus))
    """)


SQL_GROUPING_SETS_SALES = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_base_price,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                        (l_returnflag), (l_linestatus))
"""


def q_distinct_parts(spark, sf_dir):
    """Distinct aggregation per group."""
    li = _read(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


SQL_DISTINCT_PARTS = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


def read_events(spark, sf_dir):
    """Load events with ``ts`` normalized to LongType nanos-since-epoch
    (the contract every downstream bucket/window/as-of computation and
    every DuckDB oracle — all written against ``epoch_ns(ts)`` — uses).

    The driver has shipped this table with two physical types across
    rounds: TIMESTAMP(NANOS) (readable only as raw longs via
    ``nanosAsLong``) and timestamp[us] (read as TIMESTAMP_NTZ). Both
    are naive UTC wall clocks; normalize either to the same nanos long
    so bucket arithmetic stays integer-exact and tz-independent."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(ev.dtypes).get("ts")
    if ts_type == "timestamp_ntz":
        # naive wall clock == UTC instant. timestampdiff on NTZ
        # operands is pure wall-clock arithmetic — no session-timezone
        # dependence, so no global conf needs mutating (an earlier
        # version pinned spark.sql.session.timeZone here, leaking an
        # execution-order dependence into unrelated tz-sensitive
        # queries run later in the same session)
        ev = ev.withColumn(
            "ts",
            (F.expr("timestampdiff(MICROSECOND, "
                    "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
             * F.lit(1000)).cast("long"),
        )
    elif ts_type == "timestamp":
        # instant type: unix_micros reads the absolute epoch directly
        # (tz-independent by construction)
        ev = ev.withColumn(
            "ts", (F.unix_micros(F.col("ts")) * F.lit(1000)).cast("long")
        )
    return ev


def q_events_hourly(spark, sf_dir):
    """Tumbling 1-hour aggregation over the events stream table
    (batch shadow of the streaming surface in streaming/windows.py)."""
    ev = read_events(spark, sf_dir)
    bucket = (F.expr("ts div 3600000000000") * 3600).cast("long")
    return ev.groupBy(bucket.alias("bucket_epoch"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


SQL_EVENTS_HOURLY = """
SELECT CAST((epoch_ns(ts) // 3600000000000) * 3600 AS BIGINT) AS bucket_epoch,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY 1, 2
"""


# --- LLM-data-pipeline extensions on documents ------------------------------

def q_dedup_exact_docs(spark, sf_dir):
    """Exact dedup via content-hash groupBy (scale path: hash-partition
    on the digest; no full-text shuffle)."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.withColumn("doc_hash", F.md5(F.encode(F.col("text"), "UTF-8")))
        .groupBy("doc_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


SQL_DEDUP_EXACT_DOCS = """
SELECT md5(text) AS doc_hash,
       CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY 1
"""

_STOPWORDS_EN = r"\b(the|and|of|to|is|a)\b"


def q_text_quality(spark, sf_dir):
    """Text quality scoring: token count, stopword ratio, alpha ratio."""
    docs = _read(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    n_stop = F.size(F.regexp_extract_all(F.col("text"), F.lit(_STOPWORDS_EN), 1)).cast("long")
    alpha_chars = F.length(F.regexp_replace(F.col("text"), "[^a-z]", "")).cast("long")
    out = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stopwords"),
        alpha_chars.alias("alpha_chars"),
        (n_stop.cast("double") / n_tokens.cast("double")).alias("stopword_ratio"),
        (alpha_chars.cast("double") / F.length("text").cast("double")).alias("alpha_ratio"),
    )
    return out.withColumn(
        "quality_score", F.col("stopword_ratio") * 0.5 + F.col("alpha_ratio") * 0.5
    )


SQL_TEXT_QUALITY = rf"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '{_STOPWORDS_EN}', 1)) AS BIGINT) AS n_stopwords,
         CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS alpha_chars,
         length(text) AS n_chars
  FROM documents)
SELECT doc_id, n_tokens, n_stopwords, alpha_chars,
       CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
       CAST(alpha_chars AS DOUBLE) / CAST(n_chars AS DOUBLE) AS alpha_ratio,
       (CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.5
         + (CAST(alpha_chars AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.5 AS quality_score
FROM t
"""

_LANG_PATTERNS = {
    "en_hits": r"\b(the|and|of|to|is)\b",
    "es_hits": r"\b(el|la|de|que|y|en)\b",
    "de_hits": r"\b(der|die|und|ist|das)\b",
}


def q_lang_id(spark, sf_dir):
    """n-gram/stopword-voting language ID heuristic."""
    docs = _read(spark, sf_dir, "documents")
    cols = [
        F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 1)).cast("long").alias(name)
        for name, pat in _LANG_PATTERNS.items()
    ]
    out = docs.select("doc_id", *cols)
    pred = (
        F.when((F.col("en_hits") >= F.col("es_hits")) & (F.col("en_hits") >= F.col("de_hits")),
               F.lit("en"))
        .when(F.col("es_hits") >= F.col("de_hits"), F.lit("es"))
        .otherwise(F.lit("de"))
    )
    return out.withColumn("lang_pred", pred)


SQL_LANG_ID = rf"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{_LANG_PATTERNS["en_hits"]}', 1)) AS BIGINT) AS en_hits,
         CAST(len(regexp_extract_all(text, '{_LANG_PATTERNS["es_hits"]}', 1)) AS BIGINT) AS es_hits,
         CAST(len(regexp_extract_all(text, '{_LANG_PATTERNS["de_hits"]}', 1)) AS BIGINT) AS de_hits
  FROM documents)
SELECT doc_id, en_hits, es_hits, de_hits,
       CASE WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
            WHEN es_hits >= de_hits THEN 'es'
            ELSE 'de' END AS lang_pred
FROM t
"""


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: digest of whitespace-normalized text."""
    docs = _read(spark, sf_dir, "documents")
    normalized = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return docs.select(
        "doc_id", F.substring(F.md5(F.encode(normalized, "UTF-8")), 1, 16).alias("fingerprint")
    )


SQL_DOC_FINGERPRINT = r"""
SELECT doc_id,
       substr(md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))), 1, 16) AS fingerprint
FROM documents
"""


def _augmented_docs(spark, sf_dir):
    """Sampled documents plus deterministically perturbed near-dup
    copies (id + 1,000,000; every 'the' → 'teh') — the synthetic
    corpus has no natural near-dups, so the fuzzy tiers need seeded
    ones to demonstrate recall."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    sampled = docs.filter(F.col("doc_id") % 10 == 0)
    perturbed = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace(F.col("text"), "the", "teh").alias("text"),
    )
    return sampled.unionByName(perturbed)


_AUGMENTED_DOCS_SQL = """
aug AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, regexp_replace(text, 'the', 'teh', 'g') AS text
  FROM documents WHERE doc_id % 20 = 0)
"""


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact word-3-gram Jaccard pair similarity via shingle
    inverted-index self-join (fuzzy-dedup ground truth)."""
    return ngram_jaccard_pairs(_augmented_docs(spark, sf_dir), threshold=0.1)


SQL_NGRAM_JACCARD = rf"""
WITH {_AUGMENTED_DOCS_SQL},
docs AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM aug),
pos AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        FROM docs WHERE len(w) >= 3),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM pos),
sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
          FROM sh a JOIN sh b USING (shingle)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
       CAST(sa.set_size AS BIGINT) AS size_a,
       CAST(sb.set_size AS BIGINT) AS size_b,
       CAST(n_common AS DOUBLE)
         / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE)
        / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE) >= 0.1
"""


def q_ann_bruteforce(spark, sf_dir):
    """Exact top-5 cosine neighbors for sampled query vectors —
    broadcast cross join + JVM-side zip_with/aggregate dot product."""
    emb = _read(spark, sf_dir, "embeddings")
    return cosine_topk_bruteforce(emb.filter(F.col("vec_id") % 50 == 0), emb, k=5)


SQL_ANN_BRUTEFORCE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.qv, c.v)
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(c.v, c.v))) AS cosine
  FROM q, e c WHERE c.vec_id != q.query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5
"""


#: ANN tier parameters — single source of truth shared by the
#: registered queries, scripts/freeze_ann_candidates.py and the
#: fixture-freshness test (round-11): a parameter change here without
#: a re-freeze fails tests/test_similarity.py's fixture guard instead
#: of silently leaving ann_*_rerank oracle-checking a stale tier.
ANN_PARAMS = {
    "lsh": {"k": 5, "bits": 4, "tables": 8, "probe_flips": 1},
    "ivf": {"k": 5, "n_cells": 16, "nprobe": 10, "train_iters": 3},
    "pq": {"k": 5, "nprobe": 10, "rerank": 64, "m": 16},
    "pq_prebuilt": {"k": 5, "nprobe": 10, "rerank": 64},
    "pq_incremental": {"k": 5, "nprobe": 10, "rerank": 64},
}


def q_ann_lsh(spark, sf_dir):
    """Approximate top-5 cosine via random-hyperplane LSH buckets —
    the scale path (no oracle: approximate by design; recall vs
    brute force is asserted in tests/test_similarity.py)."""
    emb = _read(spark, sf_dir, "embeddings")
    # 4 bits × 8 tables × Hamming-1 multiprobe: measured recall@5
    # 0.98 (sf0.001) / 0.98 (sf0.01), up from 0.82/0.74 exact-bucket.
    # This corpus's true neighbors sit at wide angles, so fewer bits
    # per table (bigger buckets) + more tables is the right operating
    # point, and flipping one sign bit on the QUERY side recovers the
    # neighbors that straddle a single hyperplane at no corpus-side
    # shuffle cost.
    return cosine_topk_lsh(emb.filter(F.col("vec_id") % 50 == 0), emb,
                           **ANN_PARAMS["lsh"])


def q_ann_ivf(spark, sf_dir):
    """Approximate top-5 cosine via IVF cells from distributed k-means
    (Lloyd iterations as DataFrame aggs, deterministic hash-ordered
    seeds) — the data-adaptive scale path (no oracle: iterative
    algorithm, approximate by design; recall vs brute force asserted
    in tests/test_similarity.py)."""
    emb = _read(spark, sf_dir, "embeddings")
    # 16 cells × nprobe=10 × 3 Lloyd iterations: measured recall@5
    # 0.90 (sf0.001) / 0.92 (sf0.01)
    return cosine_topk_ivf(emb.filter(F.col("vec_id") % 50 == 0), emb,
                           **ANN_PARAMS["ivf"])


def _minhash_md5_bkt_sql(p: str, src: str) -> str:
    """Prefixed CTE chain re-deriving the md5-portable banded-LSH
    buckets of ``src`` (columns doc_id, text) in DuckDB — the SQL twin
    of operators/dedup.py:lsh_band_buckets(hash_fn='md5'). ``p``
    prefixes every CTE name so two sides (corpus + delta) can coexist
    in one WITH."""
    return rf"""
{p}w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM {src}),
{p}pos AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
           FROM {p}w WHERE len(w) >= 3),
{p}sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM {p}pos),
{p}sizes AS (SELECT doc_id, count(*) AS set_size FROM {p}sh GROUP BY 1),
{p}mh AS (
  SELECT doc_id, seeds.seed,
         min(md5(CAST(seeds.seed AS VARCHAR) || ':' || shingle)) AS minhash
  FROM {p}sh CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS seed) seeds
  GROUP BY 1, 2),
{p}bkt AS (
  SELECT doc_id, CAST(seed % 8 AS INTEGER) AS band,
         md5(string_agg(CAST(seed AS VARCHAR) || ':' || minhash, ','
                        ORDER BY CAST(seed AS VARCHAR) || ':' || minhash))
           AS bucket
  FROM {p}mh GROUP BY doc_id, band)
"""


def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-dup candidate pairs, exact-Jaccard verified,
    md5-portable tier (round-10, the simhash_docs precedent): the
    permutations are ``md5(seed || ':' || shingle)`` with the min
    taken lexicographically over the fixed-width hex, and the band
    bucket is the md5 of the sorted (seed:minhash) list — bit-identical
    in DuckDB, so the ENTIRE pipeline (sketch → band → candidate join →
    exact-Jaccard verify) is value-oracled, not just invariants. The
    xxhash64 fast tier stays the production default in
    operators/dedup.py with recall/stability pytest coverage
    (tests/test_dedup.py)."""
    return minhash_lsh_pairs(_augmented_docs(spark, sf_dir),
                             num_hashes=32, bands=8, threshold=0.1,
                             hash_fn="md5")


SQL_MINHASH_LSH_PAIRS = rf"""
WITH {_AUGMENTED_DOCS_SQL},
{_minhash_md5_bkt_sql("a", "aug")},
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM abkt x JOIN abkt y USING (band, bucket)
  WHERE x.doc_id < y.doc_id),
inter AS (
  SELECT id_a, id_b, count(*) AS n_common
  FROM cand
  JOIN ash sa ON sa.doc_id = id_a
  JOIN ash sb ON sb.doc_id = id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(n_common AS DOUBLE)
         / CAST(za.set_size + zb.set_size - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN asizes za ON za.doc_id = id_a
JOIN asizes zb ON zb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE)
        / CAST(za.set_size + zb.set_size - n_common AS DOUBLE) >= 0.1
"""


def q_simhash_docs(spark, sf_dir):
    """64-bit SimHash sketch per document, md5 tier (round-9: the
    registered query runs the PORTABLE hash — two 32-bit hex slices
    of the token md5 via the house conv idiom — so the full sketch is
    value-checked against a DuckDB oracle that rebuilds all 64 vote
    sums; the xxhash64 fast tier keeps its stability/near-dup pytest
    coverage in tests/test_dedup.py)."""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return simhash(docs, hash_fn="md5")


_MINHASH_INDEX_CACHE: dict[str, str] = {}


def ensure_minhash_index(spark, sf_dir: str) -> str:
    """Build-once half of the incremental-dedup split: persist the
    banded LSH postings of the ORIGINAL sampled docs (the corpus the
    perturbed near-dup copies will arrive against) through the
    versioned sink, once per process
    (operators/dedup_index.py:build_minhash_index)."""
    base = _MINHASH_INDEX_CACHE.get(sf_dir)
    if base is None:
        from smartbots_etl_facturas_spark.operators.dedup_index import (
            build_minhash_index,
        )

        base = _scratch_dir("minhash_index_")
        corpus = _read(spark, sf_dir, "documents").select(
            "doc_id", "text"
        ).filter(F.col("doc_id") % 10 == 0)
        # md5-portable tier (round-10) so the incremental probe is
        # value-oracled end to end; the hash_fn is pinned in the
        # index's meta table and the probe reads it from there
        build_minhash_index(corpus, base, num_hashes=32, bands=8,
                            hash_fn="md5")
        _MINHASH_INDEX_CACHE[sf_dir] = base
    return base


def q_minhash_incremental(spark, sf_dir):
    """Incremental near-dup detection against the PERSISTED MinHash
    index (operators/dedup_index.py): the perturbed copies play the
    role of a freshly-arriving delta batch — only the delta is
    sketched; candidates come from a (band, bucket) equi-join against
    the stored corpus postings and are exact-Jaccard verified against
    candidate docs' text only. O(|delta| + candidates) per batch, the
    ingest-loop shape a 100 TB pipeline needs (no per-batch corpus
    re-sketch). md5-portable tier (round-10): the oracle re-derives
    the whole index-build + probe — corpus postings, delta sketch,
    bucket join, exact verify — so the query is VALUE-oracled;
    minhash_incremental_precision stays as the spanning-pair-set
    invariant companion."""
    from smartbots_etl_facturas_spark.operators.dedup_index import (
        minhash_match_against_index,
    )

    base = ensure_minhash_index(spark, sf_dir)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 == 0)
    delta = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace(F.col("text"), "the", "teh").alias("text"),
    )
    return minhash_match_against_index(delta, corpus, base, threshold=0.1)



SQL_MINHASH_INCREMENTAL = rf"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
delta AS (SELECT doc_id + 1000000 AS doc_id,
                 regexp_replace(text, 'the', 'teh', 'g') AS text
          FROM documents WHERE doc_id % 20 = 0),
{_minhash_md5_bkt_sql("c", "corpus")},
{_minhash_md5_bkt_sql("d", "delta")},
cand AS (
  SELECT DISTINCT d.doc_id AS delta_id, c.doc_id AS corpus_id
  FROM dbkt d JOIN cbkt c USING (band, bucket)
  WHERE d.doc_id != c.doc_id),
inter AS (
  SELECT delta_id, corpus_id, count(*) AS n_common
  FROM cand
  JOIN dsh ON dsh.doc_id = delta_id
  JOIN csh ON csh.doc_id = corpus_id AND csh.shingle = dsh.shingle
  GROUP BY 1, 2)
SELECT delta_id, corpus_id,
       CAST(n_common AS DOUBLE)
         / CAST(zd.set_size + zc.set_size - n_common AS DOUBLE) AS jaccard
FROM inter
JOIN dsizes zd ON zd.doc_id = delta_id
JOIN csizes zc ON zc.doc_id = corpus_id
WHERE CAST(n_common AS DOUBLE)
        / CAST(zd.set_size + zc.set_size - n_common AS DOUBLE) >= 0.1
"""


def q_minhash_incremental_precision(spark, sf_dir):
    """Driver-checkable invariants of the incremental-index tier over
    the SPANNING (corpus, delta) pair set: precision is 1 by
    construction (exact verification before emission), so matches at
    j>=0.5 absent from the exact spanning pair set must number 0; and
    every perturbed copy collides with its original in >=1 of 8 bands
    w.h.p., so recall >=0.9 — deterministic given the fixed hash-seed
    permutations (md5-portable tier since round 10). ``n_exact`` is
    genuinely recomputed by the oracle."""
    aug = _augmented_docs(spark, sf_dir)
    exact = (
        ngram_jaccard_pairs(aug, threshold=0.5)
        .filter((F.col("id_a") < 1000000) & (F.col("id_b") >= 1000000))
        .select("id_a", "id_b")
    )
    inc = q_minhash_incremental(spark, sf_dir).filter(
        F.col("jaccard") >= 0.5
    ).select(
        F.col("corpus_id").alias("id_a"), F.col("delta_id").alias("id_b")
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_viol = inc.join(exact, ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_violations")
    )
    n_rec = exact.join(inc, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_recalled")
    )
    return (
        n_exact.crossJoin(n_viol)
        .crossJoin(n_rec)
        .select(
            "n_exact",
            "n_violations",
            (F.col("n_recalled") >= F.col("n_exact") * F.lit(0.9)).alias("recall_ok"),
        )
    )


SQL_MINHASH_INCREMENTAL_PRECISION = rf"""
WITH {_AUGMENTED_DOCS_SQL},
docs AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM aug),
pos AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        FROM docs WHERE len(w) >= 3),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM pos),
sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
          FROM sh a JOIN sh b USING (shingle)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
ex AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_common AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE) >= 0.5
    AND id_a < 1000000 AND id_b >= 1000000)
SELECT CAST(count(*) AS BIGINT) AS n_exact,
       CAST(0 AS BIGINT) AS n_violations,
       TRUE AS recall_ok
FROM ex
"""


def q_minhash_precision(spark, sf_dir):
    """Driver-checkable invariants of the MinHash-LSH tier: precision
    is 1 BY CONSTRUCTION (candidates are exact-Jaccard verified before
    emission, operators/dedup.py minhash_lsh_pairs), so the count of
    LSH pairs absent from the exact j≥0.5 pair set must be 0; and
    strong pairs (j≥0.5) collide in ≥1 of 8 bands w.h.p., so recall
    ≥0.9 — deterministic given the fixed xxhash64 seeds. ``n_exact``
    is genuinely recomputed by the DuckDB oracle; the two invariant
    columns are pinned constants the Spark side must reproduce."""
    aug = _augmented_docs(spark, sf_dir)
    exact = ngram_jaccard_pairs(aug, threshold=0.5).select("id_a", "id_b")
    lsh = minhash_lsh_pairs(
        aug, num_hashes=32, bands=8, threshold=0.5
    ).select("id_a", "id_b")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_viol = lsh.join(exact, ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_lsh_violations")
    )
    n_rec = exact.join(lsh, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_recalled")
    )
    return (
        n_exact.crossJoin(n_viol)
        .crossJoin(n_rec)
        .select(
            "n_exact",
            "n_lsh_violations",
            (F.col("n_recalled") >= F.col("n_exact") * F.lit(0.9)).alias("recall_ok"),
        )
    )


SQL_MINHASH_PRECISION = rf"""
WITH {_AUGMENTED_DOCS_SQL},
docs AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM aug),
pos AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        FROM docs WHERE len(w) >= 3),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM pos),
sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
          FROM sh a JOIN sh b USING (shingle)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
ex AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_common AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE) >= 0.5)
SELECT CAST(count(*) AS BIGINT) AS n_exact,
       CAST(0 AS BIGINT) AS n_lsh_violations,
       TRUE AS recall_ok
FROM ex
"""


def q_ann_lsh_recall(spark, sf_dir):
    """Driver-checkable recall invariant of the hyperplane-LSH ANN
    tier: recall@5 vs the exact brute-force top-5 is deterministic
    given the fixed hash-derived planes (no executor RNG). At the
    4-bit × 8-table × Hamming-1-multiprobe operating point, measured
    recall is 0.98 (sf0.001) / 0.98 (sf0.01); the pinned floor 0.8
    absorbs corpus-size drift. ``n_truth`` (= 5 × |queries|) is
    genuinely recomputed by the oracle."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    truth = cosine_topk_bruteforce(q, emb, k=5).select("query_id", "neighbor_id")
    approx = cosine_topk_lsh(q, emb, k=5, bits=4, tables=8, probe_flips=1).select(
        "query_id", "neighbor_id"
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_hits = truth.join(approx, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return n_truth.crossJoin(n_hits).select(
        "n_truth",
        (F.col("n_hits") >= F.col("n_truth") * F.lit(0.8)).alias("recall_ok"),
    )


SQL_ANN_LSH_RECALL = """
SELECT CAST(5 * count(*) AS BIGINT) AS n_truth, TRUE AS recall_ok
FROM embeddings WHERE vec_id % 50 = 0
"""


def q_ann_pq(spark, sf_dir):
    """IVF-PQ ANN (FAISS-style two-stage): coarse IVF cells prune
    candidates, product-quantization codes (m=16 subspaces × 16
    codewords — 16 bytes per corpus vector instead of 256) score them
    in the compressed domain via per-query ADC lookup tables, and the
    top-64 per query are re-ranked exactly
    (operators/similarity.py:cosine_topk_ivfpq). Approximate by
    design → rows-only; its deterministic recall invariant is the
    oracle-checked ann_pq_recall companion."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    return cosine_topk_ivfpq(q, emb, **ANN_PARAMS["pq"])


def q_ann_pq_recall(spark, sf_dir):
    """Driver-checkable recall invariant of the IVF-PQ tier (16
    coarse cells nprobe=10, PQ m=16×16 codes, exact rerank of top-64):
    recall@5 vs brute force clears a 0.8 floor (measured 0.86
    sf0.001 / 0.94 sf0.01; both trainings round their means to 6
    decimals, so codebooks — hence codes, hence recall — are
    bit-identical across partition orderings). ``n_truth`` recomputed
    by the oracle."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    truth = cosine_topk_bruteforce(q, emb, k=5).select("query_id", "neighbor_id")
    approx = q_ann_pq(spark, sf_dir).select("query_id", "neighbor_id")
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_hits = truth.join(approx, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return n_truth.crossJoin(n_hits).select(
        "n_truth",
        (F.col("n_hits") >= F.col("n_truth") * F.lit(0.8)).alias("recall_ok"),
    )


SQL_ANN_PQ_RECALL = """
SELECT CAST(5 * count(*) AS BIGINT) AS n_truth, TRUE AS recall_ok
FROM embeddings WHERE vec_id % 50 = 0
"""


_ANN_INDEX_CACHE: dict[str, str] = {}


def ensure_pq_index(spark, sf_dir: str) -> str:
    """Build-once half of the build-once/probe-many split: train and
    persist the IVF-PQ index (coarse centroids, PQ codebooks, corpus
    codes) for this sf_dir's embeddings through the versioned sink
    (operators/ann_index.py:build_ivfpq_index), once per process.
    Same parameters as q_ann_pq, and the trainer is deterministic, so
    the persisted index reproduces the in-query tier bit-for-bit.
    A timing harness builds it OUTSIDE its timed loop — in a real
    deployment the build is a separate batch job and probes pay only
    probe cost."""
    base = _ANN_INDEX_CACHE.get(sf_dir)
    if base is None:
        from smartbots_etl_facturas_spark.operators.ann_index import (
            build_ivfpq_index,
        )

        base = _scratch_dir("ivfpq_index_")
        emb = _read(spark, sf_dir, "embeddings")
        build_ivfpq_index(emb, base, n_cells=16, m=16, k_sub=16,
                          train_iters=2)
        _ANN_INDEX_CACHE[sf_dir] = base
    return base


def q_ann_pq_prebuilt(spark, sf_dir):
    """IVF-PQ probe against the PERSISTED index — no training anywhere
    in this query's plan (operators/ann_index.py:
    cosine_topk_ivfpq_probe): query cells from one matmul against the
    stored centroid matrix, candidates + codes from ONE cell equi-join
    against the stored codes table, ADC fold vs the broadcast
    per-query LUT, exact rerank of the top-64. Same parameters and tie
    rules as q_ann_pq, so results are bit-identical to the
    train-in-query tier; approximate by design → rows-only, with the
    oracle-checked ann_pq_prebuilt_recall companion."""
    from smartbots_etl_facturas_spark.operators.ann_index import (
        cosine_topk_ivfpq_probe,
    )

    base = ensure_pq_index(spark, sf_dir)
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    return cosine_topk_ivfpq_probe(q, emb, base, **ANN_PARAMS["pq_prebuilt"])


def q_ann_pq_prebuilt_recall(spark, sf_dir):
    """Driver-checkable recall invariant of the PERSISTED-index probe
    path: recall@5 vs brute force clears the same 0.8 floor as the
    train-in-query tier (the probe reproduces it bit-for-bit, so the
    measured recall is identical: 0.86 sf0.001 / 0.94 sf0.01).
    ``n_truth`` recomputed by the oracle."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    truth = cosine_topk_bruteforce(q, emb, k=5).select("query_id", "neighbor_id")
    approx = q_ann_pq_prebuilt(spark, sf_dir).select("query_id", "neighbor_id")
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_hits = truth.join(approx, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return n_truth.crossJoin(n_hits).select(
        "n_truth",
        (F.col("n_hits") >= F.col("n_truth") * F.lit(0.8)).alias("recall_ok"),
    )


SQL_ANN_PQ_PREBUILT_RECALL = """
SELECT CAST(5 * count(*) AS BIGINT) AS n_truth, TRUE AS recall_ok
FROM embeddings WHERE vec_id % 50 = 0
"""


# --- incremental ANN index maintenance (round-12 verdict #1) -----------------

#: vec_id % 3 == 2 is the delta batch appended to the incremental
#: index; the other two thirds are the standing corpus the codebooks
#: train on. One modulus, shared by both ensure functions and the
#: oracles.
_ANN_INC_DELTA_MOD = 3

_ANN_INC_INDEX_CACHE: dict[str, str] = {}
_ANN_INC_TWIN_CACHE: dict[str, str] = {}


def _ann_inc_split(emb):
    base_corpus = emb.filter(F.col("vec_id") % _ANN_INC_DELTA_MOD != 2)
    delta = emb.filter(F.col("vec_id") % _ANN_INC_DELTA_MOD == 2)
    return base_corpus, delta


def ensure_pq_incremental_index(spark, sf_dir: str) -> str:
    """Incrementally-MAINTAINED IVF-PQ index: built over the standing
    two-thirds of the embeddings, then the remaining third appended as
    a delta batch through operators/ann_index.py:append_ivfpq_delta —
    encoded with the STORED codebooks (no retrain anywhere), published
    as an O(Δ) code segment, committed by the atomic manifest flip.
    The ANN member of the persisted-index family's incremental
    discipline (minhash_incremental / bm25_incremental /
    hll_incremental; reference ancestor: the insert-only incremental
    ingest, consolidate_invoices.py:475-515). Cached per process, so
    once built, ann_pq_incremental measures the segment-union probe
    path."""
    base = _ANN_INC_INDEX_CACHE.get(sf_dir)
    if base is None:
        from smartbots_etl_facturas_spark.operators.ann_index import (
            append_ivfpq_delta,
            build_ivfpq_index,
        )

        base = _scratch_dir("ivfpq_inc_index_")
        emb = _read(spark, sf_dir, "embeddings")
        base_corpus, delta = _ann_inc_split(emb)
        build_ivfpq_index(base_corpus, base, n_cells=16, m=16, k_sub=16,
                          train_iters=2)
        append_ivfpq_delta(delta, base)
        _ANN_INC_INDEX_CACHE[sf_dir] = base
    return base


def ensure_pq_incremental_twin(spark, sf_dir: str) -> str:
    """The equivalence twin: a ONE-SHOT index over the FULL embeddings
    encoded with the SAME trained metadata (train_on = the standing
    corpus) — what a full re-encode with the stored codebooks would
    publish. ann_pq_incremental_equiv proves the appended index's
    probe reproduces this index's probe bit-for-bit."""
    base = _ANN_INC_TWIN_CACHE.get(sf_dir)
    if base is None:
        from smartbots_etl_facturas_spark.operators.ann_index import (
            build_ivfpq_index,
        )

        base = _scratch_dir("ivfpq_inc_twin_")
        emb = _read(spark, sf_dir, "embeddings")
        base_corpus, _ = _ann_inc_split(emb)
        build_ivfpq_index(emb, base, n_cells=16, m=16, k_sub=16,
                          train_iters=2, train_on=base_corpus)
        _ANN_INC_TWIN_CACHE[sf_dir] = base
    return base


def q_ann_pq_incremental(spark, sf_dir):
    """IVF-PQ probe against the INCREMENTALLY-MAINTAINED index (built
    on two-thirds of the corpus, last third appended as an O(Δ) code
    segment encoded with the stored codebooks — no retrain; see
    ensure_pq_incremental_index): the probe unions the manifest's
    code segments and runs the identical candidate → ADC → exact-
    rerank dataflow as ann_pq_prebuilt. Approximate tier → rows-only,
    pinned by the value-oracled ann_pq_incremental_equiv (probe ==
    one-shot-rebuild probe bit-for-bit), ann_pq_incremental_recall
    (0.8 floor) and ann_pq_incremental_rerank (frozen-fixture exact
    rerank) companions plus the O(Δ)/no-retrain plan assertions in
    tests/test_similarity.py::TestIncrementalIndex."""
    from smartbots_etl_facturas_spark.operators.ann_index import (
        cosine_topk_ivfpq_probe,
    )

    base = ensure_pq_incremental_index(spark, sf_dir)
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    return cosine_topk_ivfpq_probe(q, emb, base,
                                   **ANN_PARAMS["pq_incremental"])


def q_ann_pq_incremental_equiv(spark, sf_dir):
    """Value-oracled equivalence invariant of the incremental index:
    the appended index's probe output is BIT-IDENTICAL (every column,
    including float cosines — same expressions over the same rows) to
    the probe of a one-shot index over the full corpus built with the
    same trained metadata. Ships (n_queries, identical_ok);
    ``n_queries`` recomputed by the oracle."""
    from smartbots_etl_facturas_spark.operators.ann_index import (
        cosine_topk_ivfpq_probe,
    )

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    inc = cosine_topk_ivfpq_probe(
        q, emb, ensure_pq_incremental_index(spark, sf_dir),
        **ANN_PARAMS["pq_incremental"],
    )
    one_shot = cosine_topk_ivfpq_probe(
        q, emb, ensure_pq_incremental_twin(spark, sf_dir),
        **ANN_PARAMS["pq_incremental"],
    )
    d1 = inc.exceptAll(one_shot).agg(F.count(F.lit(1)).alias("d1"))
    d2 = one_shot.exceptAll(inc).agg(F.count(F.lit(1)).alias("d2"))
    nq = q.agg(F.count(F.lit(1)).alias("n_queries"))
    return nq.crossJoin(d1).crossJoin(d2).select(
        "n_queries",
        ((F.col("d1") == 0) & (F.col("d2") == 0)).alias("identical_ok"),
    )


SQL_ANN_PQ_INCREMENTAL_EQUIV = """
SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS identical_ok
FROM embeddings WHERE vec_id % 50 = 0
"""


def q_ann_pq_incremental_recall(spark, sf_dir):
    """Driver-checkable recall invariant of the incrementally-
    maintained index's probe: recall@5 vs brute force clears the same
    0.8 floor as the other tiers (codebooks train on two-thirds of
    the corpus only — the appended third quantizes onto that geometry,
    the realistic incremental-ingest shape). ``n_truth`` recomputed
    by the oracle."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    truth = cosine_topk_bruteforce(q, emb, k=5).select("query_id", "neighbor_id")
    approx = q_ann_pq_incremental(spark, sf_dir).select("query_id", "neighbor_id")
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_hits = truth.join(approx, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return n_truth.crossJoin(n_hits).select(
        "n_truth",
        (F.col("n_hits") >= F.col("n_truth") * F.lit(0.8)).alias("recall_ok"),
    )


SQL_ANN_PQ_INCREMENTAL_RECALL = """
SELECT CAST(5 * count(*) AS BIGINT) AS n_truth, TRUE AS recall_ok
FROM embeddings WHERE vec_id % 50 = 0
"""


# --- streaming observability read-back (round-12 verdict #7) -----------------

_STREAM_AUDIT_CACHE: dict[str, str] = {}


def ensure_stream_audit(spark, sf_dir: str) -> str:
    """Drive a REAL availableNow micro-batch stream over this sf_dir's
    events (4 source files → 4 micro-batches via maxFilesPerTrigger=1)
    through a HeavyHittersMonitor wired to a StreamBatchAuditor, then
    REDELIVER the last batch id in-process — the audit table this
    leaves behind is what stream_batches_report invariant-checks.
    Cached per process, so it runs once per session."""
    base = _STREAM_AUDIT_CACHE.get(sf_dir)
    if base is None:
        from smartbots_etl_facturas_spark.sinks.observability import (
            StreamBatchAuditor,
        )
        from smartbots_etl_facturas_spark.streaming.topk import (
            HeavyHittersMonitor,
        )

        base = _scratch_dir("stream_audit_")
        src = os.path.join(base, "src")
        ev = read_events(spark, sf_dir).select("user_id", "event_type")
        # 4 deterministic user buckets, one file each (coalesce to NULL
        # bucket 0 so no event row is dropped — total audited n_rows
        # must equal count(events), which the oracle recomputes)
        bucket = F.pmod(F.coalesce(F.col("user_id"), F.lit(0)), F.lit(4))
        for b in range(4):
            (ev.filter(bucket == b).coalesce(1)
             .write.mode("append").parquet(src))
        auditor = StreamBatchAuditor(spark, base, "heavy_hitters")
        mon = HeavyHittersMonitor(
            "event_type", state_dir=os.path.join(base, "state"),
            auditor=auditor,
        )
        q = (
            spark.readStream.schema("user_id bigint, event_type string")
            .option("maxFilesPerTrigger", 1).parquet(src)
            .writeStream.foreachBatch(mon)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(600)
        # same-process redelivery of the last folded batch id: the
        # monitor must skip the fold AND the auditor must not write a
        # second COMPLETED row — the exactly-once half the report
        # asserts (any frame works: the skip path never reads it)
        mon(spark.createDataFrame([("redelivered",)],
                                  "event_type string"), 3)
        _STREAM_AUDIT_CACHE[sf_dir] = base
    return base


def q_stream_batches_report(spark, sf_dir):
    """Invariant read-back of the streaming observability surface
    (sinks/observability.py:StreamBatchAuditor): after a real 4-batch
    availableNow run PLUS an in-process redelivery of the last batch
    id (ensure_stream_audit), the stream_batches table must show
    exactly 4 batches, ZERO duplicate (run, monitor, batch_id)
    COMPLETED rows despite the redelivery, per-batch row counts
    summing to count(events) — recomputed by the oracle — and a
    status domain of COMPLETED/ERROR only."""
    from smartbots_etl_facturas_spark.sinks.observability import (
        StreamBatchAuditor,
    )

    base = ensure_stream_audit(spark, sf_dir)
    tb = StreamBatchAuditor(spark, base, "heavy_hitters").table()
    completed = tb.filter(F.col("status") == "COMPLETED")
    per = completed.groupBy("run_uuid", "monitor", "batch_id").agg(
        F.count(F.lit(1)).alias("c"), F.sum("n_rows").alias("nr")
    )
    summary = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_batches"),
        (F.max("c") == 1).alias("exactly_once_ok"),
        F.sum("nr").cast("long").alias("total_rows"),
    )
    status_ok = tb.agg(
        F.min(F.col("status").isin("COMPLETED", "ERROR")).alias("status_ok")
    )
    return summary.crossJoin(status_ok)


SQL_STREAM_BATCHES_REPORT = """
SELECT CAST(4 AS BIGINT) AS n_batches, TRUE AS exactly_once_ok,
       CAST(count(*) AS BIGINT) AS total_rows, TRUE AS status_ok
FROM events
"""


_COMPACT_AUDIT_CACHE: dict[str, tuple] = {}


def ensure_compacted_audit(spark, sf_dir: str) -> tuple:
    """Round-13 verdict #7: leave behind an audit table that has BEEN
    THROUGH the crash-safe append-dir compaction
    (sinks/layout.py:compact_append_dir) so the maintenance op sits in
    the driver rotation like every other operator. Emits one audit row
    per user-id bucket of this sf's events (12 buckets → 12 tiny
    parquet files, the accretion pattern a long stream produces), then
    folds them to ≤ 2 files through the intent-log protocol. Cached
    per process; the registered read-back is a maintenance invariant
    (constant 12-row table), not a timed workload."""
    cached = _COMPACT_AUDIT_CACHE.get(sf_dir)
    if cached is None:
        from smartbots_etl_facturas_spark.sinks.layout import (
            _append_dir_data_files,
        )
        from smartbots_etl_facturas_spark.sinks.observability import (
            StreamBatchAuditor,
        )

        base = _scratch_dir("compact_audit_")
        ev = read_events(spark, sf_dir)
        bucket = F.pmod(F.coalesce(F.col("user_id"), F.lit(0)), F.lit(12))
        counts = {
            int(r.b): int(r.n)
            for r in ev.groupBy(bucket.alias("b"))
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        auditor = StreamBatchAuditor(spark, base, "compaction_probe")
        for b in range(12):
            auditor.emit(b, n_rows=counts.get(b, 0))
        files_before = len(_append_dir_data_files(auditor._path()))
        result = auditor.compact(target_files=2)
        _COMPACT_AUDIT_CACHE[sf_dir] = (base, files_before, result)
    return _COMPACT_AUDIT_CACHE[sf_dir]


def q_audit_compaction_report(spark, sf_dir):
    """Invariant read-back of append-dir compaction (round-13 verdict
    #7): after 12 per-batch appends are folded through the intent-log
    protocol (ensure_compacted_audit), the table must still hold
    exactly 12 batches with their row counts summing to count(events)
    — recomputed by the oracle — while the data-file count actually
    dropped to the ≤ 2 target (rows preserved, files folded; the
    protocol's own row-count verification raised otherwise)."""
    from smartbots_etl_facturas_spark.sinks.observability import (
        StreamBatchAuditor,
    )

    base, files_before, result = ensure_compacted_audit(spark, sf_dir)
    tb = StreamBatchAuditor(spark, base, "compaction_probe").table()
    agg = tb.agg(
        F.count(F.lit(1)).cast("long").alias("n_batches"),
        (F.count_distinct(F.col("batch_id"))
         == F.count(F.lit(1))).alias("exactly_once_ok"),
        F.sum("n_rows").cast("long").alias("total_rows"),
    )
    return agg.select(
        "n_batches", "exactly_once_ok", "total_rows",
        F.lit(bool(result["compacted"])).alias("compacted_ok"),
        F.lit(files_before > int(result["files_after"])).alias(
            "files_reduced_ok"
        ),
        F.lit(int(result["files_after"]) <= 2).alias("target_ok"),
    )


SQL_AUDIT_COMPACTION_REPORT = """
SELECT CAST(12 AS BIGINT) AS n_batches, TRUE AS exactly_once_ok,
       CAST(count(*) AS BIGINT) AS total_rows, TRUE AS compacted_ok,
       TRUE AS files_reduced_ok, TRUE AS target_ok
FROM events
"""


# --- ANN rerank-over-frozen-candidates companions (round-11) -----------------

def _ann_fixture_pairs(name: str) -> list:
    """(query_id, neighbor_id) pairs frozen by
    scripts/freeze_ann_candidates.py from the named tier's
    return_candidates hook at sf0.01 — loaded by path so the driver's
    import-by-path of this module resolves the fixture regardless of
    cwd/sys.path."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "ann_candidates", os.path.join(_REPO, "fixtures", "ann_candidates.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return getattr(mod, name)


def _ann_rerank_fixture(spark, sf_dir, pairs, k):
    """Exact cosine top-5 over a FROZEN candidate-pair list: the
    deterministic rerank arithmetic of the approximate tiers, value-
    oracled (verdict r10 #5). Both engines join the CURRENT embeddings
    on the frozen ids — pairs whose ids are absent at this sf drop
    symmetrically — so the check holds at every sf and across testdata
    regenerations; the candidate GENERATION itself stays covered by
    the live rows-only tiers + their recall-floor twins."""
    from smartbots_etl_facturas_spark.operators.similarity import (
        _dot,
        with_norm,
    )

    cand = spark.createDataFrame(pairs, "query_id long, neighbor_id long")
    e = with_norm(_read(spark, sf_dir, "embeddings"))
    # the FIXTURE is the bounded side (hundreds-to-thousands of id
    # pairs) — broadcast it, never the corpus-scale embeddings table
    # (round-11 review: the hint was on the wrong side); the enriched
    # pair frame stays fixture-sized, so it broadcasts again for the
    # neighbor-vector join
    with_q = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
        F.col("__norm").alias("__qn"),
    ).join(F.broadcast(cand), "query_id")
    scored = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cv"),
        F.col("__norm").alias("__cn"),
    ).join(F.broadcast(with_q), "neighbor_id").withColumn(
        "cosine",
        _dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _sql_ann_rerank(pairs, k) -> str:
    vals = ", ".join(f"({q}, {n})" for q, n in pairs)
    return f"""
WITH pairs(query_id, neighbor_id) AS (VALUES {vals}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (
  SELECT CAST(p.query_id AS BIGINT) AS query_id,
         CAST(p.neighbor_id AS BIGINT) AS neighbor_id,
         list_dot_product(q.v, c.v)
           / (sqrt(list_dot_product(q.v, q.v))
              * sqrt(list_dot_product(c.v, c.v))) AS cosine
  FROM pairs p
  JOIN e q ON q.vec_id = p.query_id
  JOIN e c ON c.vec_id = p.neighbor_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {int(k)}
"""


def q_ann_lsh_rerank(spark, sf_dir):
    """Value-oracled exact-rerank stage of the LSH tier over its
    frozen sf0.01 candidate set (fixtures/ann_candidates.py) — see
    _ann_rerank_fixture."""
    return _ann_rerank_fixture(spark, sf_dir, _ann_fixture_pairs("LSH_PAIRS"), ANN_PARAMS["lsh"]["k"])


def q_ann_ivf_rerank(spark, sf_dir):
    """Value-oracled exact-rerank stage of the IVF tier over its
    frozen sf0.01 candidate set."""
    return _ann_rerank_fixture(spark, sf_dir, _ann_fixture_pairs("IVF_PAIRS"), ANN_PARAMS["ivf"]["k"])


def q_ann_pq_rerank(spark, sf_dir):
    """Value-oracled exact-rerank stage of the IVF-PQ tier over its
    frozen sf0.01 ADC-top-64 survivor set."""
    return _ann_rerank_fixture(spark, sf_dir, _ann_fixture_pairs("PQ_PAIRS"), ANN_PARAMS["pq"]["k"])


def q_ann_pq_prebuilt_rerank(spark, sf_dir):
    """Value-oracled exact-rerank stage of the persisted-index probe
    tier over its frozen sf0.01 ADC-top-64 survivor set."""
    return _ann_rerank_fixture(
        spark, sf_dir, _ann_fixture_pairs("PQ_PREBUILT_PAIRS"),
        ANN_PARAMS["pq_prebuilt"]["k"],
    )


def q_ann_pq_incremental_rerank(spark, sf_dir):
    """Value-oracled exact-rerank stage of the incrementally-
    maintained index's probe tier over its frozen sf0.01 ADC-top-64
    survivor set (round-12: the rerank-fixture companion the
    incremental member gets like every other approximate tier)."""
    return _ann_rerank_fixture(
        spark, sf_dir, _ann_fixture_pairs("PQ_INCREMENTAL_PAIRS"),
        ANN_PARAMS["pq_incremental"]["k"],
    )


#: Registered operating point of the two-sided KNN join (round-13
#: verdict #4) — matches ann_pq's cell geometry; rerank=96 measured
#: corpus-wide recall@5 0.87 (sf0.001) / 0.89 (sf0.01), floor 0.8.
KNN_JOIN_PARAMS = {"k": 5, "nprobe": 10, "rerank": 96}


def q_knn_join(spark, sf_dir):
    """Two-sided KNN join: top-5 cosine neighbors for EVERY corpus row
    against the persisted IVF-PQ index — the corpus×corpus upstream of
    SemDeDup clustering and contrastive mining
    (operators/ann_index.py:knn_join_ivfpq). Every stage keyed (cell
    equi-join candidates, ADC LUT on a keyed query_id join — nothing
    broadcast, nothing all-pairs; plan-asserted in
    tests/test_similarity.py). Rows-only (trained-codebook float
    dependency, the ann_pq class); companions: knn_join_recall
    (floor 0.8, oracle-recomputed n_truth) and knn_join_rerank
    (frozen-fixture exact rerank)."""
    from smartbots_etl_facturas_spark.operators.ann_index import (
        knn_join_ivfpq,
    )

    emb = _read(spark, sf_dir, "embeddings")
    base = ensure_pq_index(spark, sf_dir)
    return knn_join_ivfpq(emb, emb, base, **KNN_JOIN_PARAMS)


def q_knn_join_recall(spark, sf_dir):
    """Driver-checkable recall invariant of the two-sided KNN join vs
    the exact corpus×corpus brute force: measured 0.87/0.89 at
    sf0.001/sf0.01 with the registered point; pinned floor 0.8.
    ``n_truth`` (= 5 × |corpus|) genuinely recomputed by the oracle."""
    from smartbots_etl_facturas_spark.operators.ann_index import (
        knn_join_ivfpq,
    )

    emb = _read(spark, sf_dir, "embeddings")
    base = ensure_pq_index(spark, sf_dir)
    truth = cosine_topk_bruteforce(emb, emb, k=5).select(
        "query_id", "neighbor_id"
    )
    approx = knn_join_ivfpq(emb, emb, base, **KNN_JOIN_PARAMS).select(
        "query_id", "neighbor_id"
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_hits = truth.join(approx, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return n_truth.crossJoin(n_hits).select(
        "n_truth",
        (F.col("n_hits") >= F.col("n_truth") * F.lit(0.8)).alias("recall_ok"),
    )


SQL_KNN_JOIN_RECALL = """
SELECT CAST(5 * count(*) AS BIGINT) AS n_truth, TRUE AS recall_ok
FROM embeddings
"""


def q_knn_join_rerank(spark, sf_dir):
    """Value-oracled exact-rerank stage of the two-sided KNN join over
    its frozen sf0.01 ADC-survivor set (left rows vec_id % 10 = 0 —
    the fixture bounds the pair list; the arithmetic it value-checks
    is the identical rerank every left row gets)."""
    return _ann_rerank_fixture(
        spark, sf_dir, _ann_fixture_pairs("KNN_PAIRS"),
        KNN_JOIN_PARAMS["k"],
    )


def q_ann_ivf_recall(spark, sf_dir):
    """Driver-checkable recall invariant of the IVF ANN tier (16
    k-means cells, nprobe=10, 3 Lloyd iterations): recall@5 vs brute
    force clears a 0.8 floor (measured 0.90 sf0.001 / 0.92 sf0.01).
    Centroid means are rounded to 6 decimals inside kmeans_centroids,
    which makes the centroids — hence assignment, hence recall —
    bit-identical across partition orderings, so the old float-drift
    hedge (0.3 floor) is no longer needed. ``n_truth`` recomputed by
    the oracle."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0)
    truth = cosine_topk_bruteforce(q, emb, k=5).select("query_id", "neighbor_id")
    approx = cosine_topk_ivf(q, emb, k=5, n_cells=16, nprobe=10,
                             train_iters=3).select("query_id", "neighbor_id")
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_hits = truth.join(approx, ["query_id", "neighbor_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return n_truth.crossJoin(n_hits).select(
        "n_truth",
        (F.col("n_hits") >= F.col("n_truth") * F.lit(0.8)).alias("recall_ok"),
    )


SQL_ANN_IVF_RECALL = """
SELECT CAST(5 * count(*) AS BIGINT) AS n_truth, TRUE AS recall_ok
FROM embeddings WHERE vec_id % 50 = 0
"""


def q_simhash_invariants(spark, sf_dir):
    """Driver-checkable invariants of the SimHash sketch: an exact
    copy hashes to the SAME 64-bit sketch (0 mismatches), and a seeded
    near-dup ('the'→'teh') stays within mean Hamming distance < 16 of
    its base (unrelated docs average ≈32 on 64 bits). ``n_docs`` is
    genuinely recomputed by the oracle; the other columns are pinned
    invariants."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 10 == 0)
    )
    copies = docs.select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    near = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace(F.col("text"), "the", "teh").alias("text"),
    )
    sk = simhash(docs.unionByName(copies).unionByName(near))
    base = sk.filter(F.col("doc_id") < 1000000).select(
        F.col("doc_id").alias("base_id"), F.col("simhash").alias("h_base")
    )
    cp = sk.filter(F.col("doc_id") >= 2000000).select(
        (F.col("doc_id") - 2000000).alias("base_id"), F.col("simhash").alias("h_copy")
    )
    nr = sk.filter(
        (F.col("doc_id") >= 1000000) & (F.col("doc_id") < 2000000)
    ).select(
        (F.col("doc_id") - 1000000).alias("base_id"), F.col("simhash").alias("h_near")
    )
    agg = (
        base.join(cp, "base_id")
        .join(nr, "base_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("h_base") != F.col("h_copy"), 1).otherwise(0)
            ).cast("long").alias("n_copy_mismatch"),
            F.avg(hamming_distance(F.col("h_base"), F.col("h_near"))).alias(
                "__avg_near_ham"
            ),
        )
    )
    return agg.select(
        "n_docs",
        "n_copy_mismatch",
        (F.col("__avg_near_ham") < 16).alias("neardup_close"),
    )


SQL_SIMHASH_INVARIANTS = """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(0 AS BIGINT) AS n_copy_mismatch,
       TRUE AS neardup_close
FROM documents WHERE doc_id % 10 = 0 AND text IS NOT NULL
"""


_EXACT_PAIRS_05_SQL = r"""
docs AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM aug),
pos AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
        FROM docs WHERE len(w) >= 3),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
  FROM pos),
sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
          FROM sh a JOIN sh b USING (shingle)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
ex AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_common AS DOUBLE)
          / CAST(sa.set_size + sb.set_size - n_common AS DOUBLE) >= 0.5),
edges AS (SELECT id_a AS src, id_b AS dst FROM ex
          UNION SELECT id_b, id_a FROM ex),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM aug
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node),
clusters AS (SELECT node AS doc_id, min(r) AS cluster_id
             FROM reach GROUP BY 1)
"""


def q_fingerprint_invariants(spark, sf_dir):
    """Driver-checkable invariants of the rolling (winnowing-style)
    fingerprint: an identical copy maps to the SAME fingerprint
    (0 mismatches), and a tail edit leaves the min-window fingerprint
    intact for ≥80% of docs (measured 0.96 at sf0.001 and sf0.01) —
    the locality property a whole-document digest lacks. ``n_docs``
    is genuinely recomputed by the oracle; the rest are pinned
    invariants (xxhash64 values are engine-specific)."""
    from smartbots_etl_facturas_spark.functions.text import rolling_fingerprint

    docs = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
    )
    base = docs.select("doc_id", rolling_fingerprint("text").alias("fp_base"))
    copy = docs.select("doc_id", "text").select(
        "doc_id", rolling_fingerprint("text").alias("fp_copy")
    )
    tail = docs.select(
        "doc_id", F.concat("text", F.lit(" tail edited suffix")).alias("text")
    ).select("doc_id", rolling_fingerprint("text").alias("fp_tail"))
    j = base.join(copy, "doc_id").join(tail, "doc_id")
    return j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("fp_base") != F.col("fp_copy"), 1).otherwise(0))
        .cast("long").alias("n_copy_mismatch"),
        (
            F.sum(F.when(F.col("fp_base") == F.col("fp_tail"), 1).otherwise(0))
            >= F.count(F.lit(1)) * F.lit(0.8)
        ).alias("tail_locality_ok"),
    )


def q_rolling_fingerprint_invariants(spark, sf_dir):
    """Driver-checkable invariants of the WINNOWING fingerprint set
    (Schleimer/Wilkerson/Aiken 2003) backing ``rolling_fingerprint``:

    - ``window_guarantee_ok``: every w-window of consecutive k-gram
      hashes contributes >=1 selected fingerprint — verified by an
      independently-built checker expression (forall over windows,
      membership in the selected set), not by construction;
    - ``prefix_locality_ok``: prepending an edit preserves >=1
      fingerprint drawn from the unchanged suffix for EVERY document
      (the winnowing shared-substring guarantee: any shared run of
      length >= w + k - 1 = 11 chars shares a fingerprint) — the
      locality property a whole-document digest lacks.

    ``n_docs`` is genuinely recomputed by the oracle; the booleans are
    pinned invariants (xxhash64 bit patterns are engine-specific)."""
    from smartbots_etl_facturas_spark.functions.text import (
        kgram_hashes,
        winnowed_fingerprints,
    )

    k, w = 8, 4
    docs = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .filter(F.length(F.trim(F.col("text"))) >= k + w - 1)
        .select("doc_id", "text")
    )
    base = docs.select(
        "doc_id",
        winnowed_fingerprints("text", k=k, w=w).alias("sel_base"),
        kgram_hashes("text", k=k).alias("hashes"),
    )
    # Independent window-coverage checker: every w-window's minimum
    # must appear in the selected set.
    n_w = F.greatest(F.size(F.col("hashes")) - F.lit(w - 1), F.lit(1))
    window_ok = F.forall(
        F.sequence(F.lit(1), n_w),
        lambda j: F.array_contains(
            F.col("sel_base"), F.array_min(F.slice(F.col("hashes"), j, F.lit(w)))
        ),
    )
    prefixed = docs.select(
        "doc_id",
        F.concat(F.lit("PREFIX EDIT 9999 :: "), F.col("text")).alias("text"),
    ).select("doc_id", winnowed_fingerprints("text", k=k, w=w).alias("sel_pref"))
    j = base.withColumn("window_ok", window_ok).join(prefixed, "doc_id")
    return j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.when(F.col("window_ok"), 0).otherwise(1)) == 0
        ).alias("window_guarantee_ok"),
        (
            F.sum(
                F.when(
                    F.size(F.array_intersect(F.col("sel_base"), F.col("sel_pref")))
                    >= 1,
                    0,
                ).otherwise(1)
            )
            == 0
        ).alias("prefix_locality_ok"),
    )


SQL_ROLLING_FINGERPRINT_INVARIANTS = """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       TRUE AS window_guarantee_ok,
       TRUE AS prefix_locality_ok
FROM documents WHERE doc_id % 10 = 0 AND length(trim(text)) >= 11
"""


SQL_FINGERPRINT_INVARIANTS = """
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(0 AS BIGINT) AS n_copy_mismatch,
       TRUE AS tail_locality_ok
FROM documents WHERE doc_id % 10 = 0
"""


def _hash_split_col(id_col):
    """THE train/val/test rule (~80/10/10 by the first md5 byte) —
    single source of truth shared by q_hash_split and
    q_corpus_curation_pipeline so the two can never drift apart."""
    hx = F.substring(F.md5(id_col.cast("string")), 1, 2)
    return F.when(hx < "cc", "train").when(hx < "e6", "val").otherwise("test")


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test split (~80/10/10) by content-
    independent hash bucketing: first md5 byte of the doc id, compared
    as lowercase hex. Reproducible across engines, cluster sizes,
    partitionings and reruns — no RNG state, no sampleBy — the
    reproducible held-out-split op every training pipeline needs.
    Value-checked per split via count + id-sum + total token mass (so
    MEMBERSHIP is verified, not just sizes)."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        _hash_split_col(F.col("doc_id")).alias("split"),
        "doc_id",
        token_count(F.col("text")).alias("__tok"),
    ).groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
        F.sum("__tok").alias("total_tokens"),
    )


SQL_HASH_SPLIT = r"""
SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
         AS total_tokens
FROM documents GROUP BY 1
"""


def q_pii_redaction(spark, sf_dir):
    """PII scrub before training (redact emails/URLs/phone shapes with
    placeholder tokens) plus the audit counts — three codegen'd
    regexp passes, no Python. The corpus has no natural PII, so a
    deterministic contact line is appended to each sampled doc; the
    regexes also sweep the natural text on both sides."""
    from smartbots_etl_facturas_spark.functions.text import pii_counts, redact_pii

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact bob@example.com or https://ex.com/a?b=1 call +56 9 1234 5678"),
        ).alias("text"),
    )
    c = pii_counts(F.col("text"))
    return seeded.select(
        "doc_id",
        redact_pii(F.col("text")).alias("clean"),
        c["n_emails"].alias("n_emails"),
        c["n_urls"].alias("n_urls"),
        c["n_phones"].alias("n_phones"),
    )


SQL_PII_REDACTION = r"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact bob@example.com or https://ex.com/a?b=1 call +56 9 1234 5678' AS text
  FROM documents WHERE doc_id % 25 = 0)
SELECT doc_id, clean,
       CAST(len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
       CAST((length(nophone) - length(replace(nophone, '<PHONE>', ''))) / 7
            AS BIGINT) AS n_phones
FROM (
  SELECT doc_id, text,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+[0-9][0-9 ().-]{5,}[0-9]|\([0-9]{1,4}\)[0-9 .-]{4,}[0-9]|[0-9]{3}[ -][0-9]{3}[ -][0-9]{4}|[0-9]{1,2}[ -][0-9]{4}[ -][0-9]{4}', '<PHONE>', 'g'),
             '(^|[^0-9.,-])([0-9]{7,})($|[^0-9.,-])', '\1<PHONE>\3', 'g'),
           '(^|[^0-9.,-])([0-9]{7,})($|[^0-9.,-])', '\1<PHONE>\3', 'g') AS clean,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+[0-9][0-9 ().-]{5,}[0-9]|\([0-9]{1,4}\)[0-9 .-]{4,}[0-9]|[0-9]{3}[ -][0-9]{3}[ -][0-9]{4}|[0-9]{1,2}[ -][0-9]{4}[ -][0-9]{4}', '<PHONE>', 'g'),
             '(^|[^0-9.,-])([0-9]{7,})($|[^0-9.,-])', '\1<PHONE>\3', 'g'),
           '(^|[^0-9.,-])([0-9]{7,})($|[^0-9.,-])', '\1<PHONE>\3', 'g') AS nophone
  FROM seeded)
"""


def q_line_dedup(spark, sf_dir):
    """Cross-document LINE dedup (CCNet §3.1 preprocessing: drop
    paragraphs duplicated across the corpus before LM filtering) —
    the corpus has no natural multi-line docs, so a boilerplate
    header/footer pair is seeded around each sampled text; the
    operator must strip exactly the corpus-repeated lines (the seeded
    boilerplate plus any naturally-duplicated document body) and
    reassemble the survivors in order. Counts shuffle on the line's
    md5 digest with map-side combine, so the hot boilerplate line
    never straggles (operators/dedup.py:line_dedup)."""
    from smartbots_etl_facturas_spark.operators.dedup import line_dedup

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.lit("subscribe to our newsletter today\n"),
            F.col("text"),
            F.lit("\ncookie banner accept all"),
        ).alias("text"),
    )
    return line_dedup(seeded, max_occurrences=1)


SQL_LINE_DEDUP = """
WITH seeded AS (
  SELECT doc_id,
         'subscribe to our newsletter today' || chr(10) || text
           || chr(10) || 'cookie banner accept all' AS text
  FROM documents WHERE doc_id % 5 = 0),
parts AS (SELECT doc_id, string_split(text, chr(10)) AS p FROM seeded),
lines AS (SELECT doc_id, i AS pos, p[i] AS line
          FROM parts, unnest(generate_series(1, len(p))) AS g(i)),
counts AS (SELECT line, count(*) AS n FROM lines GROUP BY 1),
j AS (SELECT l.doc_id, l.pos, l.line, c.n FROM lines l JOIN counts c USING (line))
SELECT doc_id,
       coalesce(string_agg(CASE WHEN n <= 1 THEN line END, chr(10) ORDER BY pos), '')
         AS clean_text,
       CAST(count(CASE WHEN n <= 1 THEN 1 END) AS BIGINT) AS n_kept,
       CAST(count(CASE WHEN n > 1 THEN 1 END) AS BIGINT) AS n_dropped
FROM j GROUP BY doc_id
"""


def q_lm_quality(spark, sf_dir):
    """Perplexity-style quality scoring without an external model —
    the CCNet filter step (Wenzek et al. 2020) re-expressed as a
    distributed count-table LM with stupid backoff (Brants et al.
    2007): train bigram/unigram counts on the even-doc_id half of the
    corpus, score a held-out sample against them. The integer columns
    audit the count-join pipeline exactly; avg_logprob is per-row
    rounded then decimal-summed, so it is accumulation-order-free
    (operators/lm.py)."""
    from smartbots_etl_facturas_spark.operators.lm import (
        score_bigram_lm,
        train_bigram_lm,
    )

    docs = _read(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 10 == 1)
    uni, bi = train_bigram_lm(train)
    return score_bigram_lm(test, uni, bi)


SQL_LM_QUALITY = r"""
WITH tr AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
            FROM documents WHERE doc_id % 2 = 0),
uni AS (SELECT t AS w1, count(*) AS c1 FROM tr, unnest(w) AS u(t) GROUP BY 1),
tot AS (SELECT sum(c1) AS t FROM uni),
big AS (SELECT w[i] AS w1, w[i+1] AS w2, count(*) AS c12
        FROM tr, unnest(generate_series(1, len(w) - 1)) AS g(i) GROUP BY 1, 2),
te AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
       FROM documents WHERE doc_id % 10 = 1),
db AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
       FROM te, unnest(generate_series(1, len(w) - 1)) AS g(i)),
sc AS (SELECT d.doc_id, b.c12, u.c1, u2.c1 AS c2, tot.t
       FROM db d
       LEFT JOIN big b ON b.w1 = d.w1 AND b.w2 = d.w2
       LEFT JOIN uni u ON u.w1 = d.w1
       LEFT JOIN uni u2 ON u2.w1 = d.w2
       CROSS JOIN tot),
lp AS (SELECT doc_id, c12, c2,
         CAST(round(ln(CASE
             WHEN c12 IS NOT NULL THEN CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)
             WHEN c2 IS NOT NULL THEN 0.4 * CAST(c2 AS DOUBLE) / CAST(t AS DOUBLE)
             ELSE 0.4 / CAST(t AS DOUBLE) END), 6) AS DECIMAL(28,6)) AS l
       FROM sc)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_bigrams,
  CAST(sum(CASE WHEN c12 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
  CAST(sum(CASE WHEN c12 IS NULL AND c2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_backoff,
  CAST(sum(CASE WHEN c12 IS NULL AND c2 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_oov,
  CAST(sum(coalesce(c12, 0)) AS BIGINT) AS sum_c12,
  CAST(CAST(sum(l) AS VARCHAR) AS DOUBLE) / count(*) AS avg_logprob
FROM lp GROUP BY doc_id
"""


def q_duplicate_spans(spark, sf_dir):
    """Span-level exact-substring duplicate detection (Lee et al.
    2021) — verbatim 8-token runs repeated across the corpus, the
    memorization-hazard granularity document- and line-level dedup
    miss. A shared slogan is seeded onto every 7th doc (plus whatever
    naturally-duplicated docs the corpus carries). COMPACT default:
    one row per duplicated digest (count, distinct docs, smallest
    example ids) so output is bounded by DISTINCT hot spans, not by
    replica volume — a corpus-wide hot span costs one row at any
    scale; the per-occurrence exploded form stays available as the
    operator's debug variant (exploded=True). Every row is recomputed
    by the oracle, hash, counts and example list included
    (operators/dedup.py:duplicate_spans)."""
    from smartbots_etl_facturas_spark.operators.dedup import duplicate_spans

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" grab this limited time offer before midnight tonight friends"),
        ).alias("text"),
    )
    return duplicate_spans(seeded, window=8, min_occurrences=2)


def q_duplicate_span_runs(spark, sf_dir):
    """The REMOVAL-pass cut list (round 9, Lee et al. 2021
    continued): maximal per-document token ranges where every
    8-token window is duplicated corpus-wide — consecutive hot span
    positions merge into one (doc_id, start_pos, end_pos) row via a
    lag/cumsum island window over only the duplicated positions
    (operators/dedup.py:duplicate_span_runs). Same seeded corpus as
    duplicate_spans, so the appended slogan's overlapping window
    hits collapse to one run per document. Fully deterministic (md5
    digests): the entire cut list is value-checked by a DuckDB
    oracle replaying the identical hashes and island arithmetic."""
    from smartbots_etl_facturas_spark.operators.dedup import (
        duplicate_span_runs,
    )

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" grab this limited time offer before midnight tonight friends"),
        ).alias("text"),
    )
    return duplicate_span_runs(seeded, window=8, min_occurrences=2)


def q_span_redacted_docs(spark, sf_dir):
    """End-to-end span-dedup REMOVAL (round 9): the cut list from
    duplicate_span_runs applied back to the corpus
    (operators/dedup.py:apply_span_cuts) — every token inside a
    duplicated range dropped, survivors re-joined (whitespace-
    normalized), with removed/kept counts per document. One keyed
    left join ships each document its (bounded) range array; the
    removal is a pure positional-filter Column expression. The full
    cleaned text is value-checked cross-engine."""
    from smartbots_etl_facturas_spark.operators.dedup import (
        apply_span_cuts,
        duplicate_span_runs,
    )

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" grab this limited time offer before midnight tonight friends"),
        ).alias("text"),
    )
    runs = duplicate_span_runs(seeded, window=8, min_occurrences=2)
    return apply_span_cuts(seeded, runs)


SQL_SPAN_REDACTED_DOCS = r"""
WITH seeded AS (
  SELECT doc_id,
         text || ' grab this limited time offer before midnight tonight friends' AS text
  FROM documents WHERE doc_id % 7 = 0),
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM seeded),
spans AS (
  SELECT doc_id, i - 1 AS start_pos,
         md5(array_to_string(w[i : i + 7], ' ')) AS span_hash
  FROM toks, unnest(range(1, greatest(len(w) - 6, 1))) AS t(i)
  WHERE len(w) >= 8),
hot AS (
  SELECT doc_id, start_pos
  FROM spans
  WHERE span_hash IN (
    SELECT span_hash FROM spans GROUP BY 1 HAVING count(*) >= 2)),
runs AS (
  SELECT doc_id, min(start_pos) AS s, max(start_pos) + 8 AS e
  FROM (
    SELECT doc_id, start_pos,
           sum(CASE WHEN prev IS NULL OR start_pos - prev > 1
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY start_pos) AS run_id
    FROM (SELECT doc_id, start_pos,
                 lag(start_pos) OVER (PARTITION BY doc_id
                                      ORDER BY start_pos) AS prev
          FROM hot))
  GROUP BY doc_id, run_id),
cuts AS (
  SELECT doc_id, list({'s': s, 'e': e}) AS cl FROM runs GROUP BY doc_id),
joined AS (
  SELECT t.doc_id, t.w,
         coalesce(c.cl, CAST([] AS STRUCT(s BIGINT, e BIGINT)[])) AS cl
  FROM toks t LEFT JOIN cuts c ON t.doc_id = c.doc_id),
redacted AS (
  SELECT doc_id, w,
         list_filter(w, (tok, i) ->
           len(list_filter(cl, c -> i - 1 >= c.s AND i - 1 < c.e)) = 0
         ) AS kept
  FROM joined)
SELECT doc_id,
       array_to_string(kept, ' ') AS clean_text,
       CAST(len(w) - len(kept) AS BIGINT) AS n_tokens_removed,
       CAST(len(kept) AS BIGINT) AS n_tokens_kept
FROM redacted
"""


SQL_DUPLICATE_SPAN_RUNS = r"""
WITH seeded AS (
  SELECT doc_id,
         text || ' grab this limited time offer before midnight tonight friends' AS text
  FROM documents WHERE doc_id % 7 = 0),
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM seeded),
spans AS (
  SELECT doc_id, i - 1 AS start_pos,
         md5(array_to_string(w[i : i + 7], ' ')) AS span_hash
  FROM toks, unnest(range(1, greatest(len(w) - 6, 1))) AS t(i)
  WHERE len(w) >= 8),
hot AS (
  SELECT doc_id, start_pos
  FROM spans
  WHERE span_hash IN (
    SELECT span_hash FROM spans GROUP BY 1 HAVING count(*) >= 2)),
runs AS (
  SELECT doc_id, start_pos,
         sum(CASE WHEN prev IS NULL OR start_pos - prev > 1
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY start_pos) AS run_id
  FROM (SELECT doc_id, start_pos,
               lag(start_pos) OVER (PARTITION BY doc_id
                                    ORDER BY start_pos) AS prev
        FROM hot))
SELECT doc_id,
       CAST(min(start_pos) AS BIGINT) AS start_pos,
       CAST(max(start_pos) + 8 AS BIGINT) AS end_pos,
       CAST(count(*) AS BIGINT) AS n_spans
FROM runs GROUP BY doc_id, run_id
"""


SQL_DUPLICATE_SPANS = r"""
WITH seeded AS (
  SELECT doc_id,
         text || ' grab this limited time offer before midnight tonight friends'
           AS text
  FROM documents WHERE doc_id % 7 = 0),
toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM seeded),
spans AS (
  SELECT doc_id, i - 1 AS start_pos,
         md5(array_to_string(w[i:i+7], ' ')) AS span_hash
  FROM toks, unnest(generate_series(1, len(w) - 7)) AS g(i)
  WHERE len(w) >= 8),
dist AS (SELECT DISTINCT span_hash, doc_id FROM spans),
ex AS (SELECT span_hash, CAST(count(*) AS BIGINT) AS n_docs,
              min(doc_id) AS min_doc_id,
              array_to_string((list(doc_id ORDER BY doc_id))[1:5], ',')
                AS example_doc_ids
       FROM dist GROUP BY 1)
SELECT c.span_hash, CAST(c.n AS BIGINT) AS n_occurrences, e.n_docs,
       e.min_doc_id, e.example_doc_ids
FROM (SELECT span_hash, count(*) AS n FROM spans GROUP BY 1) c
JOIN ex e USING (span_hash)
WHERE c.n >= 2
"""


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer-merge training (Sennrich et al.
    2016) on the corpus word-frequency table — 8 merges, ties broken
    lexicographically so the table is a pure function of the corpus
    (no oracle: iterative algorithm, like IVF k-means; the FIRST
    iteration is fully oracle-checked by ``bpe_first_merge`` and the
    whole loop is differential-tested against a pure-Python BPE in
    tests/test_bpe.py)."""
    from smartbots_etl_facturas_spark.operators.bpe import train_bpe_merges

    docs = _read(spark, sf_dir, "documents")
    return train_bpe_merges(docs, num_merges=8)


def q_bpe_first_merge(spark, sf_dir):
    """First BPE merge round only — the one iteration ANSI SQL can
    express: the frequency-weighted argmax adjacent character pair
    over the word-frequency table, genuinely recomputed by the
    oracle including the deterministic tie-break."""
    from smartbots_etl_facturas_spark.operators.bpe import train_bpe_merges

    docs = _read(spark, sf_dir, "documents")
    return train_bpe_merges(docs, num_merges=1)


SQL_BPE_FIRST_MERGE = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS word FROM documents),
w AS (SELECT word, CAST(count(*) AS BIGINT) AS wc FROM toks
      WHERE length(word) > 0 GROUP BY 1),
prs AS (SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r,
               sum(wc) AS n
        FROM w, unnest(generate_series(1, length(word) - 1)) AS g(i)
        GROUP BY 1, 2)
SELECT CAST(0 AS INT) AS rank, l AS "left", r AS "right",
       l || r AS merged, CAST(n AS BIGINT) AS pair_count
FROM prs ORDER BY n DESC, l, r LIMIT 1
"""


def q_bpe_segmentation(spark, sf_dir):
    """The INFERENCE side of the trained tokenizer: the 8 learned
    merges (bounded driver metadata, like the per-round top-1 pair)
    are applied to the corpus vocabulary in rank order
    (operators/bpe.py:segment_words, one Arrow pass over the
    vocab-scale word table). One boolean row over every segmented
    word: pieces reassemble to the word exactly, every piece is a
    single character or a learned merge product, and piece counts are
    in [1, len(word)]. ``n_words``/``total_chars`` are genuinely
    recomputed by the oracle, pinning the vocab the segmenter ran
    over; the segmentation itself is differential-tested against a
    pure-Python BPE in tests/test_bpe.py."""
    from smartbots_etl_facturas_spark.operators.bpe import (
        segment_words,
        train_bpe_merges,
        word_frequency,
    )

    docs = _read(spark, sf_dir, "documents")
    merges_rows = sorted(
        train_bpe_merges(docs, num_merges=8).collect(), key=lambda r: r.rank
    )
    merges = [(r.left, r.right) for r in merges_rows]
    merged_arr = F.array(*[F.lit(r.merged) for r in merges_rows])
    seg = segment_words(word_frequency(docs), merges)
    return seg.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("word")).cast("long").alias("total_chars"),
        F.every(F.concat_ws("", F.col("pieces")) == F.col("word")).alias(
            "reassembly_ok"
        ),
        F.every(
            F.forall(
                "pieces",
                lambda p: (F.length(p) == 1) | F.array_contains(merged_arr, p),
            )
        ).alias("pieces_valid_ok"),
        F.every(
            (F.size("pieces") >= 1) & (F.size("pieces") <= F.length("word"))
        ).alias("sizes_ok"),
    )


SQL_BPE_SEGMENTATION = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS word FROM documents),
w AS (SELECT DISTINCT word FROM toks WHERE length(word) > 0)
SELECT CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(length(word)) AS BIGINT) AS total_chars,
       TRUE AS reassembly_ok, TRUE AS pieces_valid_ok, TRUE AS sizes_ok
FROM w
"""


def q_bpe_merges_invariants(spark, sf_dir):
    """Full-depth invariant companion for the rows-only bpe_merges:
    one boolean row over the WHOLE 8-round merge table — ranks dense
    from 0, merged = left || right, every winning pair cleared
    min_pair_count, and the winning pair count is NON-INCREASING in
    rank (a new pair's occurrences embed in occurrences of the merge
    that created it, so round i+1's max can never exceed round i's —
    the classic BPE monotonicity). ``rank0_count`` is genuinely
    recomputed by the oracle (the bpe_first_merge derivation), binding
    the whole table to the corpus; the booleans assert the invariants
    the oracle cannot re-derive in SQL. All checks fold inside ONE
    aggregation over the 8-row trained table — no joins, no windows."""
    from smartbots_etl_facturas_spark.operators.bpe import train_bpe_merges

    docs = _read(spark, sf_dir, "documents")
    m = train_bpe_merges(docs, num_merges=8)
    counts_sorted = F.array_sort(
        F.collect_list(F.struct(F.col("rank"), F.col("pair_count")))
    )
    noninc = F.aggregate(
        counts_sorted,
        F.struct(F.lit(True).alias("ok"),
                 F.lit(None).cast("long").alias("prev")),
        lambda st, e: F.struct(
            (st["ok"]
             & (st["prev"].isNull() | (e["pair_count"] <= st["prev"]))
             ).alias("ok"),
            e["pair_count"].alias("prev"),
        ),
    )["ok"]
    return m.agg(
        F.count(F.lit(1)).alias("__n"),
        F.min("rank").alias("__minr"),
        F.max("rank").alias("__maxr"),
        F.countDistinct("rank").alias("__nd"),
        F.every(F.col("merged") == F.concat("left", "right")).alias(
            "merged_concat_ok"
        ),
        F.every(F.col("pair_count") >= 2).alias("counts_floor_ok"),
        noninc.alias("counts_nonincreasing"),
        F.max(F.when(F.col("rank") == 0, F.col("pair_count"))).alias(
            "rank0_count"
        ),
    ).select(
        "rank0_count",
        (
            (F.col("__minr") == 0)
            & (F.col("__maxr") == F.col("__n") - 1)
            & (F.col("__nd") == F.col("__n"))
        ).alias("ranks_dense"),
        "merged_concat_ok",
        "counts_floor_ok",
        "counts_nonincreasing",
    )


SQL_BPE_MERGES_INVARIANTS = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS word FROM documents),
w AS (SELECT word, CAST(count(*) AS BIGINT) AS wc FROM toks
      WHERE length(word) > 0 GROUP BY 1),
prs AS (SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r,
               sum(wc) AS n
        FROM w, unnest(generate_series(1, length(word) - 1)) AS g(i)
        GROUP BY 1, 2)
SELECT CAST(n AS BIGINT) AS rank0_count, TRUE AS ranks_dense,
       TRUE AS merged_concat_ok, TRUE AS counts_floor_ok,
       TRUE AS counts_nonincreasing
FROM prs ORDER BY n DESC, l, r LIMIT 1
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERING: connected components over the exact
    j≥0.5 pair graph via iterative min-label propagation (A~B, B~C
    collapse to one cluster without A~C ever being scored) — the step
    between pair detection and keep-one-per-group dedup. Iterative
    dataflow (like IVF k-means), oracle = DuckDB recursive CTE on the
    same graph."""
    aug = _augmented_docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(aug, threshold=0.5)
    return neardup_clusters(pairs, aug)


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_AUGMENTED_DOCS_SQL}, {_EXACT_PAIRS_05_SQL}
SELECT doc_id, cluster_id FROM clusters
"""


def q_cluster_representatives(spark, sf_dir):
    """Keep-one-per-cluster dedup decision over the near-dup clusters:
    (cluster_id, keep_id, n_members)."""
    aug = _augmented_docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(aug, threshold=0.5)
    return cluster_representatives(neardup_clusters(pairs, aug))


SQL_CLUSTER_REPRESENTATIVES = f"""
WITH RECURSIVE {_AUGMENTED_DOCS_SQL}, {_EXACT_PAIRS_05_SQL}
SELECT cluster_id, CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_members
FROM clusters GROUP BY 1
"""


def q_interval_join_events(spark, sf_dir):
    """Interval join (click → view within 2 h per user) — the
    batch face of streaming.joins.interval_join, the SAME function
    that runs state-bounded on two live streams. Timestamps surface
    as unix micros (tz-independent integers) for the oracle."""
    from smartbots_etl_facturas_spark.streaming.joins import interval_join

    ev = read_events(spark, sf_dir).filter(F.col("user_id") % 5 == 0).select(
        "user_id",
        F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
        "event_type",
        "value",
    )
    clicks = ev.filter(F.col("event_type") == "click").drop("event_type")
    views = ev.filter(F.col("event_type") == "view").drop("event_type")
    out = interval_join(clicks, views, "user_id", 0, 7200)
    return out.select(
        "user_id",
        F.unix_micros("l_ts").alias("l_us"),
        F.unix_micros("r_ts").alias("r_us"),
        F.col("l_value").cast("double").alias("l_value"),
        F.col("r_value").cast("double").alias("r_value"),
    )


SQL_INTERVAL_JOIN_EVENTS = """
WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS us, event_type, value
           FROM events WHERE user_id % 5 = 0),
c AS (SELECT user_id, us AS l_us, value AS l_value FROM e
      WHERE event_type = 'click'),
v AS (SELECT user_id, us AS r_us, value AS r_value FROM e
      WHERE event_type = 'view')
SELECT c.user_id, CAST(l_us AS BIGINT) AS l_us, CAST(r_us AS BIGINT) AS r_us,
       CAST(l_value AS DOUBLE) AS l_value, CAST(r_value AS DOUBLE) AS r_value
FROM c JOIN v ON c.user_id = v.user_id
              AND v.r_us >= c.l_us AND v.r_us <= c.l_us + 7200000000
"""


def q_events_sliding(spark, sf_dir):
    """Sliding window (1h window, 30min slide) over events — each
    event contributes to exactly two windows; tz-independent integer
    bucket arithmetic on the nanos timestamps."""
    ev = read_events(spark, sf_dir)
    offsets = spark.range(2).select(F.col("id").alias("k"))
    slid = ev.crossJoin(F.broadcast(offsets)).withColumn(
        "window_start", ((F.expr("ts div 1800000000000") - F.col("k")) * 1800).cast("long")
    )
    return slid.groupBy("window_start", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


SQL_EVENTS_SLIDING = """
SELECT CAST(((epoch_ns(ts) // 1800000000000) - k) * 1800 AS BIGINT) AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events, (VALUES (0), (1)) AS o(k)
GROUP BY 1, 2
"""


def q_asof_enrich(spark, sf_dir):
    """As-of join (temporal operator beyond the reference surface,
    SURVEY.md §2.3 notes the reference has none): each click event is
    enriched with the latest purchase by the same user at-or-before
    the click. Single-shuffle union-window plan (operators/asof.py);
    oracle is DuckDB's native ASOF LEFT JOIN."""
    # ts arrives as raw nanos (LongType); micro-truncate to match the
    # µs resolution DuckDB reads TIMESTAMP(NANOS) at
    ev = read_events(spark, sf_dir).withColumn("ts", F.expr("ts div 1000"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(clicks, purchases, on="user_id", ts_col="ts",
                    tiebreak="event_id")
    return out.select(
        "event_id",
        "user_id",
        F.col("ts").alias("ts_us"),
        F.col("value").cast("decimal(18,4)").cast("double").alias("value"),
        F.col("matched_ts").alias("purchase_ts_us"),
        F.col("matched_event_id").alias("purchase_event_id"),
        F.col("matched_value").cast("decimal(18,4)").cast("double").alias("purchase_value"),
    )


SQL_ASOF_ENRICH = """
WITH clicks AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
  FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, epoch_us(ts)
                                     ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase')
  WHERE rn = 1
)
SELECT c.event_id AS event_id,
       c.user_id AS user_id,
       CAST(c.ts_us AS BIGINT) AS ts_us,
       CAST(CAST(c.value AS DECIMAL(18,4)) AS DOUBLE) AS value,
       CAST(p.ts_us AS BIGINT) AS purchase_ts_us,
       p.event_id AS purchase_event_id,
       CAST(CAST(p.value AS DECIMAL(18,4)) AS DOUBLE) AS purchase_value
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
"""


def q_range_join_counts(spark, sf_dir):
    """Bucketed range join (non-equi temporal join beyond the
    reference's hash-equi-only surface): per click, count + sum of the
    same user's purchases in the 24h up to the click. The bucketed
    plan keeps it an equi-join shuffle (operators/rangejoin.py);
    left-outer semantics restored by re-joining the click spine so
    purchase-less clicks report zero."""
    ev = read_events(spark, sf_dir).withColumn("ts", F.expr("ts div 1000"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").cast("decimal(18,4)").alias("value")
    )
    day_us = 86_400_000_000
    pairs = bucketed_range_join(
        clicks, purchases, on="user_id", ts_col="ts", lower=-day_us, upper=0
    )
    counts = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("r_value").cast("double").alias("sum_purchases"),
    )
    return clicks.join(counts, "event_id", "left").select(
        "event_id",
        "user_id",
        F.col("ts").alias("ts_us"),
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.coalesce("sum_purchases", F.lit(0.0)).alias("sum_purchases"),
    )


SQL_RANGE_JOIN_COUNTS = """
WITH clicks AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, epoch_us(ts) AS ts_us, CAST(value AS DECIMAL(18,4)) AS value
  FROM events WHERE event_type = 'purchase'
)
SELECT c.event_id AS event_id,
       c.user_id AS user_id,
       CAST(c.ts_us AS BIGINT) AS ts_us,
       CAST(count(p.ts_us) AS BIGINT) AS n_purchases,
       coalesce(CAST(CAST(sum(p.value) AS VARCHAR) AS DOUBLE), 0.0) AS sum_purchases
FROM clicks c LEFT JOIN purchases p
  ON c.user_id = p.user_id
 AND p.ts_us >= c.ts_us - 86400000000
 AND p.ts_us <= c.ts_us
GROUP BY c.event_id, c.user_id, c.ts_us
"""


def q_skew_salted_agg(spark, sf_dir):
    """Two-stage salted aggregation (operators/skew.py) over the
    3-key l_returnflag grouping — the hot-key shape where one reducer
    would otherwise absorb a third of the table. The oracle is the
    PLAIN group-by: salting must be a pure physical rewrite with
    bit-identical results."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_partkey",
        F.col("l_quantity").cast(DEC).alias("qty_dec"),
        F.col("l_extendedprice").cast(DEC).alias("price_dec"),
    )
    out = salted_agg(
        li,
        ["l_returnflag"],
        {
            "sum_qty": ("qty_dec", "sum"),
            "n": ("qty_dec", "count"),
            "max_price": ("price_dec", "max"),
        },
        salt_buckets=16,
        salt_col="l_partkey",
    )
    return out.select(
        "l_returnflag",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("n").cast("long").alias("n"),
        F.col("max_price").cast("double").alias("max_price"),
    )


SQL_SKEW_SALTED_AGG = """
SELECT l_returnflag,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
       CAST(count(l_quantity) AS BIGINT) AS n,
       CAST(CAST(max(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS max_price
FROM lineitem
GROUP BY l_returnflag
"""


def q_group_percentiles(spark, sf_dir):
    """Discrete per-group percentiles (p50/p90 of extendedprice by
    returnflag) — round-11 migration onto histogram selection
    (operators/orderstats.py:group_quantile_values): the corpus is
    touched by ONE map-side-combinable groupBy(flag, price).count();
    the rank windows run on the reduced (flag × distinct-price)
    frame, never the fact. The previous fact-scale row_number window
    partitioned by ~3 returnflags sorted each group's EVERY row on
    one task — the exact hot-group cliff impute_median shed in r8.
    Semantics unchanged (value at rank ceil(n·q), integer rank
    arithmetic, no interpolation): smallest price whose cumulative
    count reaches the rank ≡ min price with row_number ≥ that rank,
    so the oracle's window formulation still agrees bit-for-bit."""
    from smartbots_etl_facturas_spark.operators.orderstats import (
        group_quantile_values,
    )

    li = _read(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast(DEC).alias("price")
    )
    q = group_quantile_values(
        li, ["l_returnflag"], "price", [("p50", 1, 2), ("p90", 9, 10)]
    )
    return q.select(
        "l_returnflag",
        F.col("__n").alias("n"),
        F.col("p50").cast("double").alias("p50"),
        F.col("p90").cast("double").alias("p90"),
    )


SQL_GROUP_PERCENTILES = """
WITH ranked AS (
  SELECT l_returnflag,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY CAST(l_extendedprice AS DECIMAL(18,2))) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag,
       CAST(max(n) AS BIGINT) AS n,
       CAST(min(CASE WHEN rn * 2 >= n THEN price END) AS DOUBLE) AS p50,
       CAST(min(CASE WHEN rn * 10 >= n * 9 THEN price END) AS DOUBLE) AS p90
FROM ranked
GROUP BY l_returnflag
"""


def q_running_total(spark, sf_dir):
    """Cumulative window frame (rowsBetween unbounded-preceding →
    current) + ntile bucketing: per-customer running revenue over the
    order timeline and the order's revenue quartile within the
    customer. Decimal running sums (order-independent, exact), total
    deterministic ordering (date + key tie-break)."""
    orders = _read(spark, sf_dir, "orders").filter(F.col("o_custkey") % 40 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_revenue"),
        F.ntile(4).over(
            Window.partitionBy("o_custkey").orderBy(
                F.col("o_totalprice").cast(DEC), F.col("o_orderkey")
            )
        ).cast("long").alias("price_quartile"),
    )


SQL_RUNNING_TOTAL = """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_revenue,
       CAST(ntile(4) OVER (
         PARTITION BY o_custkey
         ORDER BY CAST(o_totalprice AS DECIMAL(18,2)), o_orderkey) AS BIGINT)
         AS price_quartile
FROM orders WHERE o_custkey % 40 = 0
"""


GOLDEN_TEMPLATES = [
    (0, "<h1>Run {status}</h1><br/>Total: {total}<br><BR>trailer", "SUCCESS", "1.190"),
    (1, "<style>body { margin: 0 }</style><p>{status} of {unknown}</p>", "PARTIAL", "0"),
    (2, "No placeholders <b>here</b>", "X", "Y"),
]


def q_report_render(spark, sf_dir):
    """F5 template substitution + F6 HTML→text strip as ONE dataflow:
    {word} placeholders replaced (unknown placeholders and CSS-style
    braces pass through, the reference's contract), then <br>→newline,
    tag strip, blank-line collapse — all codegen'd string expressions
    (oauth_gmail_notifier.py:123-144)."""
    from smartbots_etl_facturas_spark.functions.templating import html_to_text

    df = spark.createDataFrame(
        GOLDEN_TEMPLATES, "idx long, template string, status string, total string"
    )
    rendered = F.replace(
        F.replace(F.col("template"), F.lit("{status}"), F.col("status")),
        F.lit("{total}"),
        F.col("total"),
    )
    return df.select("idx", html_to_text(rendered).alias("body"))


_TEMPLATE_VALUES = ", ".join(
    "(" + ", ".join(repr(v) for v in row) + ")" for row in GOLDEN_TEMPLATES
)

SQL_REPORT_RENDER = r"""
WITH t(idx, template, status, total) AS (VALUES {values})
SELECT CAST(idx AS BIGINT) AS idx,
       trim(regexp_replace(
         regexp_replace(
           regexp_replace(
             replace(replace(template, '{status}', status),
                     '{total}', total),
             '(?i)<br\s*/?>', chr(10), 'g'),
           '<[^>]+>', '', 'g'),
         chr(10) || '\s*' || chr(10) || '+', chr(10), 'g')) AS body
FROM t
""".replace("{values}", _TEMPLATE_VALUES)


def q_report_mime(spark, sf_dir):
    """S10 email-report sink, message-construction half: render the
    report template (F5), then assemble the COMPLETE RFC 2822
    multipart/alternative message — headers, content-hash boundary,
    F6 text/plain alternative, text/html part — as one string
    expression (functions/templating.py:mime_message). The full
    message text is value-checked byte-for-byte; only the network
    submission (ref oauth_gmail_notifier.py:72-121) remains out of
    engine scope."""
    from smartbots_etl_facturas_spark.functions.templating import mime_message

    df = spark.createDataFrame(
        GOLDEN_TEMPLATES, "idx long, template string, status string, total string"
    )
    html = F.replace(
        F.replace(F.col("template"), F.lit("{status}"), F.col("status")),
        F.lit("{total}"),
        F.col("total"),
    )
    return df.select(
        "idx",
        mime_message(
            F.lit("ops@engine.local"),
            F.concat(F.lit("Invoice run "), F.col("status")),
            html,
        ).alias("message"),
    )


SQL_REPORT_MIME = r"""
WITH t(idx, template, status, total) AS (VALUES {values}),
parts AS (
  SELECT idx,
         replace(replace(template, '{status}', status), '{total}', total)
           AS html,
         'Invoice run ' || status AS subject,
         chr(13) || chr(10) AS crlf
  FROM t),
b AS (SELECT *, '=_' || md5(html) AS boundary FROM parts)
SELECT CAST(idx AS BIGINT) AS idx,
       'From: reports@engine.local' || crlf
       || 'To: ops@engine.local' || crlf
       || 'Subject: ' || subject || crlf
       || 'MIME-Version: 1.0' || crlf
       || 'Content-Type: multipart/alternative; boundary="'
       || boundary || '"' || crlf || crlf
       || '--' || boundary || crlf
       || 'Content-Type: text/plain; charset=utf-8' || crlf || crlf
       || trim(regexp_replace(
            regexp_replace(
              regexp_replace(html, '(?i)<br\s*/?>', chr(10), 'g'),
              '<[^>]+>', '', 'g'),
            chr(10) || '\s*' || chr(10) || '+', chr(10), 'g')) || crlf
       || '--' || boundary || crlf
       || 'Content-Type: text/html; charset=utf-8' || crlf || crlf
       || html || crlf
       || '--' || boundary || '--' || crlf AS message
FROM b
""".replace("{values}", _TEMPLATE_VALUES)


GOLDEN_NULLSAFE = [
    (0, None, 10.0), (1, "K1", 11.0), (2, None, 12.0), (3, "K2", 13.0),
]


def q_nullsafe_join(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    MATCH each other — the semantics a dedup-by-maybe-null-business-key
    needs, where plain = silently drops every NULL-keyed row."""
    df = spark.createDataFrame(GOLDEN_NULLSAFE, "idx long, k string, v double")
    a = df.select(F.col("idx").alias("idx_a"), F.col("k"), F.col("v").alias("v_a"))
    b = df.select(F.col("idx").alias("idx_b"), F.col("k").alias("k_b"),
                  F.col("v").alias("v_b"))
    return (
        a.join(b, a["k"].eqNullSafe(b["k_b"]) & (a["idx_a"] < b["idx_b"]))
        .select("idx_a", "idx_b", "k", "v_a", "v_b")
    )


_NULLSAFE_VALUES = ", ".join(
    "(" + ", ".join("NULL" if v is None else repr(v) for v in row) + ")"
    for row in GOLDEN_NULLSAFE
)

SQL_NULLSAFE_JOIN = f"""
WITH d(idx, k, v) AS (VALUES {_NULLSAFE_VALUES})
SELECT CAST(a.idx AS BIGINT) AS idx_a, CAST(b.idx AS BIGINT) AS idx_b,
       a.k, a.v AS v_a, b.v AS v_b
FROM d a JOIN d b ON a.k IS NOT DISTINCT FROM b.k AND a.idx < b.idx
"""


def q_set_ops(spark, sf_dir):
    """Set operators (INTERSECT / EXCEPT) through the spark.sql
    surface: customers who ordered in BOTH 1997 and 1998, minus those
    with any high-priority 1998 order. Catalyst rewrites both set ops
    to semi/anti joins — no distinct-then-join hand-rolling."""
    _read(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql("""
        SELECT o_custkey FROM v_orders WHERE year(o_orderdate) = 1997
        INTERSECT
        SELECT o_custkey FROM v_orders WHERE year(o_orderdate) = 1998
        EXCEPT
        SELECT o_custkey FROM v_orders
        WHERE year(o_orderdate) = 1998 AND o_orderpriority = '1-URGENT'
    """)


SQL_SET_OPS = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
EXCEPT
SELECT o_custkey FROM orders
WHERE year(o_orderdate) = 1998 AND o_orderpriority = '1-URGENT'
"""


def q_exists_decorrelated(spark, sf_dir):
    """Correlated EXISTS subquery: suppliers having at least one
    lineitem priced above twice their account balance. Catalyst
    decorrelates to a semi-join (explain shows no per-row subquery
    execution) — the declarative form a SQL user writes, executing as
    the join a distributed engine needs."""
    _read(spark, sf_dir, "supplier").createOrReplaceTempView("v_supplier")
    _read(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql("""
        SELECT s_suppkey, s_name FROM v_supplier s
        WHERE EXISTS (
          SELECT 1 FROM v_lineitem l
          WHERE l.l_suppkey = s.s_suppkey
            AND CAST(l.l_extendedprice AS DECIMAL(18,2))
                > CAST(s.s_acctbal AS DECIMAL(18,2)) * 2
        )
    """)


SQL_EXISTS_DECORRELATED = """
SELECT s_suppkey, s_name FROM supplier s
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_suppkey = s.s_suppkey
    AND CAST(l.l_extendedprice AS DECIMAL(18,2))
        > CAST(s.s_acctbal AS DECIMAL(18,2)) * 2
)
"""


def q_group_median_udaf(spark, sf_dir):
    """GROUPED_AGG pandas UDAF (Arrow whole-group vector → scalar):
    exact per-priority median order price. Exists as the §2.9 UDAF
    shape — an exact median cannot compute partials, so the group's
    values gather to one task; approx_percentile_sketch is the
    scale-path twin."""
    from smartbots_etl_facturas_spark.functions.udx import median_udaf

    med = median_udaf()
    orders = _read(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        med(F.col("o_totalprice").cast("double")).alias("median_price")
    )


SQL_GROUP_MEDIAN_UDAF = """
SELECT o_orderpriority,
       quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS median_price
FROM orders GROUP BY o_orderpriority
"""


def q_udtf_sentences(spark, sf_dir):
    """Python UDTF (Spark 4) in a LATERAL join: one output row per
    sentence of each sampled document, with ordinal and token count —
    the §2.9 UDTF shape (row → N typed rows). The split pattern is
    RE2-safe so the oracle reproduces it exactly."""
    from smartbots_etl_facturas_spark.functions.udx import split_sentences_udtf

    spark.udtf.register("split_sentences", split_sentences_udtf())
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 100 == 0)
    docs.createOrReplaceTempView("v_docs_udtf")
    return spark.sql(
        "SELECT s.doc_id, s.sent_idx, s.sentence, s.n_tokens "
        "FROM v_docs_udtf, LATERAL split_sentences(doc_id, text) s"
    )


SQL_UDTF_SENTENCES = r"""
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id % 100 = 0),
parts AS (SELECT doc_id,
                 string_split_regex(trim(text), '[.!?]+\s+') AS ps
          FROM d),
idx AS (SELECT doc_id, unnest(generate_series(1, len(ps))) AS i, ps
        FROM parts),
s AS (SELECT doc_id, i, trim(ps[i]) AS sentence FROM idx)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS BIGINT)
         AS sent_idx,
       sentence,
       CAST(len(string_split_regex(sentence, '\s+')) AS BIGINT) AS n_tokens
FROM s WHERE sentence != ''
"""


def q_pivot_status(spark, sf_dir):
    """Pivot (long→wide): returnflag rows × linestatus columns of
    summed quantity. Pivot values are EXPLICIT, so Catalyst compiles
    one single-pass conditional aggregation — no values-discovery job
    (an implicit pivot runs a distinct scan first, a needless extra
    pass at 100 TB)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum(F.col("l_quantity").cast(DEC)))
        .select(
            "l_returnflag",
            F.col("F").cast("double").alias("qty_f"),
            F.col("O").cast("double").alias("qty_o"),
        )
    )


SQL_PIVOT_STATUS = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN l_linestatus = 'F'
                     THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
       CAST(sum(CASE WHEN l_linestatus = 'O'
                     THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
FROM lineitem GROUP BY l_returnflag
"""


def q_unpivot_amounts(spark, sf_dir):
    """Unpivot/melt (wide→long) via stack: the three amount columns
    become (metric, value) rows — a generator expression inside one
    projection, no join or shuffle."""
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(3, 'extendedprice', CAST(l_extendedprice AS DOUBLE), "
        "'tax', CAST(l_tax AS DOUBLE), "
        "'discount', CAST(l_discount AS DOUBLE)) AS (metric, value)",
    )


SQL_UNPIVOT_AMOUNTS = """
SELECT l_orderkey, l_linenumber, m.metric,
       CASE m.metric WHEN 'extendedprice' THEN CAST(l_extendedprice AS DOUBLE)
                     WHEN 'tax' THEN CAST(l_tax AS DOUBLE)
                     ELSE CAST(l_discount AS DOUBLE) END AS value
FROM lineitem,
     (VALUES ('extendedprice'), ('tax'), ('discount')) AS m(metric)
WHERE l_orderkey % 100 = 0
"""


def q_approx_percentile_sketch(spark, sf_dir):
    """Sketch-tier percentile (approx_percentile, a mergeable
    GK-style quantile sketch — THE percentile path at 100 TB where the
    exact window rank needs a full per-group sort) checked against the
    exact value-at-rank computation: the sketch answer for p50 must
    sit within 0.5% of the exact median. ``p50`` is genuinely
    recomputed by the oracle; ``sketch_ok`` is the pinned invariant
    (sketch values themselves are engine-specific)."""
    from smartbots_etl_facturas_spark.operators.orderstats import (
        group_quantile_values,
    )

    li = _read(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast(DEC).alias("price")
    )
    # exact tier via histogram selection (round-11: same value-at-rank
    # semantics as the window formulation, no fact-scale window)
    exact = group_quantile_values(
        li, ["l_returnflag"], "price", [("p50_dec", 1, 2)]
    ).select(
        "l_returnflag", F.col("p50_dec").cast("double").alias("p50")
    )
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx("price", 0.5, 10000).cast("double").alias("__p50_sketch")
    )
    return exact.join(approx, "l_returnflag").select(
        "l_returnflag",
        "p50",
        (F.abs(F.col("__p50_sketch") - F.col("p50")) <= F.col("p50") * 0.005)
        .alias("sketch_ok"),
    )


SQL_APPROX_PERCENTILE_SKETCH = """
WITH ranked AS (
  SELECT l_returnflag,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY CAST(l_extendedprice AS DECIMAL(18,2))) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag,
       CAST(min(CASE WHEN rn * 2 >= n THEN price END) AS DOUBLE) AS p50,
       TRUE AS sketch_ok
FROM ranked
GROUP BY l_returnflag
"""


def q_kll_quantiles(spark, sf_dir):
    """Mergeable KLL quantile sketch (operators/quantiles.py) with
    MAP-SIDE per-(group, partition) partials — the engine-portable,
    persistable percentile path: unlike approx_percentile (engine-
    private bytes) the sketch is plain array<array<double>> rows that
    any engine can merge, and the only shuffle carries the bounded
    sketches, not the raw values. Verified by value-checking the TRUE
    rank of each estimate: ``n_rows`` is genuinely recomputed by the
    oracle; ``rank_err_ok`` (|rank(est) − q·n| ≤ max(1%·n, 1)) is the
    pinned invariant (estimates themselves are partitioning-specific).
    The rank probe is a broadcast of the groups×qs estimate table —
    no second sort."""
    from smartbots_etl_facturas_spark.operators.quantiles import (
        kll_group_quantiles,
    )

    li = _read(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("double").alias("price")
    )
    qs = [0.25, 0.5, 0.75, 0.95]
    est = kll_group_quantiles(li, "l_returnflag", "price", qs, k=256)
    return (
        li.join(F.broadcast(est), "l_returnflag")
        .groupBy("l_returnflag", "q", "n")
        .agg(
            F.sum(F.when(F.col("price") <= F.col("est"), 1).otherwise(0))
            .cast("long")
            .alias("rank_of_est"),
        )
        .select(
            "l_returnflag",
            "q",
            F.col("n").alias("n_rows"),
            (
                F.abs(F.col("rank_of_est") - F.col("q") * F.col("n"))
                <= F.greatest(F.col("n") * 0.01, F.lit(1.0))
            ).alias("rank_err_ok"),
        )
        .orderBy("l_returnflag", "q")
    )


SQL_KLL_QUANTILES = """
SELECT l_returnflag,
       q,
       CAST(count(*) AS BIGINT) AS n_rows,
       TRUE AS rank_err_ok
FROM lineitem
CROSS JOIN (VALUES (0.25), (0.5), (0.75), (0.95)) AS qs(q)
GROUP BY l_returnflag, q
ORDER BY l_returnflag, q
"""


def q_summary_row_filter(spark, sf_dir):
    """P7 keyword row filter (uppercased concat match)."""
    docs = _read(spark, sf_dir, "documents")
    return filter_summary_rows(docs, ["text"], ("MERGE", "HASH")).select("doc_id")


SQL_SUMMARY_ROW_FILTER = """
SELECT doc_id FROM documents
WHERE NOT regexp_matches(upper(text), 'MERGE|HASH')
"""


def _augmented_embeddings(spark, sf_dir):
    """Embeddings plus seeded near-dup copies (vec_id + 1,000,000;
    first component shifted by +0.5) — the synthetic vectors are
    near-orthogonal (max pairwise cosine ≈ 0.51), so near-dup recall
    needs seeded positives. The +0.5 shift is an exactly-representable
    binary fraction, so Spark and DuckDB produce bit-identical
    doubles."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("embedding"),
    )
    base = emb.filter(F.col("vec_id") % 5 == 0)
    pert = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(
            "concat(array(embedding[0] + CAST(0.5 AS DOUBLE)),"
            " slice(embedding, 2, size(embedding) - 1))"
        ).alias("embedding"),
    )
    return base.unionByName(pert)


_AUGMENTED_EMB_SQL = """
aug AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id % 5 = 0
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_concat([CAST(embedding[1] AS DOUBLE) + 0.5],
                     CAST(embedding[2:] AS DOUBLE[])) AS v
  FROM embeddings WHERE vec_id % 10 = 0)
"""


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs (5th dedup tier): exact all-
    pairs ground truth; the LSH-bucketed scale path of the same
    operator is exercised in tests/test_dedup.py."""
    return cosine_neardup_pairs(_augmented_embeddings(spark, sf_dir), threshold=0.9)


SQL_DEDUP_EMBEDDING = f"""
WITH {_AUGMENTED_EMB_SQL},
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM aug)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
FROM n a, n b
WHERE a.vec_id < b.vec_id
  AND list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.9
"""


#: Registered operating point of the semantic-dedup SCALE path
#: (round-13 verdict #1). One source of truth shared by the live
#: query, the recall companion, the freeze script and the frozen-
#: fixture companions — changing it without re-freezing
#: SEMDEDUP_PAIRS is caught by the PARAMS echo in the fixture header.
#: bits=8 × tables=16 measured recall 1.00 at sf0.001 AND sf0.01 on
#: the augmented corpus (this corpus's seeded near-dups sit at cosine
#: 0.90-0.92 — wide angles, so fewer bits per table + more tables,
#: the ann_lsh lesson); candidates ~1.0k of 11.2k possible pairs.
SEMDEDUP_PARAMS = {"threshold": 0.9, "bucket_bits": 8, "tables": 16,
                   "dim": 64}


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-shaped semantic dedup at SCALE (round-13 verdict #1):
    multi-table hyperplane-bucket candidates → within-bucket exact
    cosine verify → connected components → keep-one-per-cluster
    representatives, over the augmented embedding corpus. Every stage
    is a keyed equi-join or aggregation — no crossJoin anywhere (plan-
    asserted in tests/test_dedup.py); the O(n²) exact form stays
    registered separately as oracle ground truth (dedup_embedding).
    Rows-only (hyperplane sign decisions are not SQL-replayable); its
    value-oracled companions are semantic_dedup_rerank /
    semantic_dedup_representatives (frozen candidates) and
    semantic_dedup_recall (floor 0.8 vs the exact tier)."""
    aug = _augmented_embeddings(spark, sf_dir)
    pairs = cosine_neardup_pairs(aug, **SEMDEDUP_PARAMS)
    return cluster_representatives(
        neardup_clusters(pairs, aug, id_col="vec_id"), id_col="vec_id"
    )


def q_semantic_dedup_recall(spark, sf_dir):
    """Driver-checkable recall invariant of the bucketed semantic-
    dedup tier vs the exact all-pairs ground truth: measured 1.00 at
    sf0.001/sf0.01 with the registered 8-bit × 16-table point; pinned
    floor 0.8 absorbs corpus drift. ``n_truth`` is genuinely
    recomputed by the oracle (exact n² cosine in SQL)."""
    aug = _augmented_embeddings(spark, sf_dir)
    truth = cosine_neardup_pairs(
        aug, threshold=SEMDEDUP_PARAMS["threshold"]
    ).select("id_a", "id_b")
    approx = cosine_neardup_pairs(aug, **SEMDEDUP_PARAMS).select(
        "id_a", "id_b"
    )
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_hits = truth.join(approx, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return n_truth.crossJoin(n_hits).select(
        "n_truth",
        (F.col("n_hits") >= F.col("n_truth") * F.lit(0.8)).alias("recall_ok"),
    )


SQL_SEMANTIC_DEDUP_RECALL = f"""
WITH {_AUGMENTED_EMB_SQL},
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM aug),
ex AS (SELECT a.vec_id FROM n a JOIN n b ON a.vec_id < b.vec_id
       WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.9)
SELECT CAST(count(*) AS BIGINT) AS n_truth, TRUE AS recall_ok FROM ex
"""


def _semdedup_verified_fixture(spark, sf_dir):
    """Exact-cosine verify of the FROZEN semantic-dedup candidate
    pairs (fixtures/ann_candidates.py:SEMDEDUP_PAIRS) against the
    CURRENT augmented embeddings — the deterministic half of the
    bucketed tier, value-oracled; ids absent at this sf drop
    symmetrically in both engines' joins."""
    from smartbots_etl_facturas_spark.operators.similarity import (
        _dot,
        with_norm,
    )

    cand = spark.createDataFrame(
        _ann_fixture_pairs("SEMDEDUP_PAIRS"), "id_a long, id_b long"
    )
    e = with_norm(_augmented_embeddings(spark, sf_dir))
    with_a = e.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("__va"),
        F.col("__norm").alias("__na"),
    ).join(F.broadcast(cand), "id_a")
    return (
        e.select(
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("__vb"),
            F.col("__norm").alias("__nb"),
        )
        .join(F.broadcast(with_a), "id_b")
        .withColumn(
            "cosine",
            _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
        )
        .filter(F.col("cosine") >= F.lit(SEMDEDUP_PARAMS["threshold"]))
        .select("id_a", "id_b", "cosine")
    )


def q_semantic_dedup_rerank(spark, sf_dir):
    """Value-oracled exact-verify stage of the bucketed semantic-dedup
    tier over its frozen sf0.01 candidate set — the ann_*_rerank
    discipline applied to the dedup family."""
    return _semdedup_verified_fixture(spark, sf_dir)


def q_semantic_dedup_representatives(spark, sf_dir):
    """Value-oracled DECISION half of the SemDeDup composition: the
    frozen verified pairs feed connected components + keep-one-per-
    cluster, oracled by DuckDB's recursive-CTE transitive closure on
    the same graph — so the clustering logic the live semantic_dedup
    runs is value-checked end to end."""
    aug = _augmented_embeddings(spark, sf_dir)
    verified = _semdedup_verified_fixture(spark, sf_dir).select(
        "id_a", "id_b"
    )
    return cluster_representatives(
        neardup_clusters(verified, aug, id_col="vec_id"), id_col="vec_id"
    )


def _sql_semdedup_verified(pairs, threshold) -> str:
    """CTE fragment: frozen pairs → exact-cosine verify in DuckDB
    (shared by the rerank and representatives oracles)."""
    vals = ", ".join(f"({a}, {b})" for a, b in pairs)
    return f"""{_AUGMENTED_EMB_SQL},
pairs(id_a, id_b) AS (VALUES {vals}),
nrm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM aug),
verified AS (
  SELECT CAST(p.id_a AS BIGINT) AS id_a, CAST(p.id_b AS BIGINT) AS id_b,
         list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cosine
  FROM pairs p
  JOIN nrm a ON a.vec_id = p.id_a
  JOIN nrm b ON b.vec_id = p.id_b
  WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= {threshold})"""


def _sql_semdedup_rerank(pairs, threshold) -> str:
    return (f"WITH {_sql_semdedup_verified(pairs, threshold)}\n"
            "SELECT id_a, id_b, cosine FROM verified")


def _sql_semdedup_representatives(pairs, threshold) -> str:
    return f"""
WITH RECURSIVE {_sql_semdedup_verified(pairs, threshold)},
edges AS (SELECT id_a AS src, id_b AS dst FROM verified
          UNION SELECT id_b, id_a FROM verified),
reach(node, r) AS (
  SELECT vec_id, vec_id FROM aug
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node),
clusters AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY 1)
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(min(node) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_members
FROM clusters GROUP BY 1
"""


_SEMANTIC_INDEX_CACHE: dict[str, str] = {}


def ensure_semantic_index(spark, sf_dir: str) -> str:
    """Build-once half of the semantic-dedup incremental split:
    persist the hyperplane-bucket postings + verify-side vectors of
    the BASE embedding corpus (the half the seeded near-dup twins
    arrive against) through the versioned sink, once per process
    (operators/dedup_index.py:build_embedding_index). Same geometry
    as SEMDEDUP_PARAMS, pinned in the index's meta table. Cached per
    process, so once built, semantic_dedup_incremental times the
    per-batch probe only."""
    base = _SEMANTIC_INDEX_CACHE.get(sf_dir)
    if base is None:
        from smartbots_etl_facturas_spark.operators.dedup_index import (
            build_embedding_index,
        )

        base = _scratch_dir("semantic_index_")
        emb = _read(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
            .alias("embedding"),
        )
        corpus = emb.filter(F.col("vec_id") % 5 == 0)
        build_embedding_index(
            corpus, base,
            bucket_bits=SEMDEDUP_PARAMS["bucket_bits"],
            tables=SEMDEDUP_PARAMS["tables"],
        )
        _SEMANTIC_INDEX_CACHE[sf_dir] = base
    return base


def q_semantic_dedup_incremental(spark, sf_dir):
    """Incremental semantic dedup against the PERSISTED embedding
    index (operators/dedup_index.py:embedding_match_against_index) —
    the embedding member of the incremental probe family
    (minhash/phash/audio/video), completing the ingest-loop symmetry
    for the 5th dedup tier: the seeded twins of _augmented_embeddings
    arrive as a delta batch, ONLY the delta is sketched (geometry read
    from the index's meta table), candidates come from the
    (table, bucket) equi-join against the stored postings, and the
    exact-cosine verify runs against the STORED vectors — per-batch
    compute O(|delta| + candidates), never re-sketching the corpus
    (the verify's stored-vector scan is column-pruned and keyed on
    candidate ids).
    Cross-batch pairs only (the family contract, pinned in the
    operator docstring + tests/test_dedup.py). Rows-only (hyperplane
    sign decisions are not SQL-replayable); companions:
    semantic_dedup_incremental_recall (floor 0.8, oracle-recomputed
    n_truth) and semantic_dedup_rerank (the identical verify
    arithmetic, value-oracled over frozen pairs)."""
    from smartbots_etl_facturas_spark.operators.dedup_index import (
        embedding_match_against_index,
    )

    base = ensure_semantic_index(spark, sf_dir)
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        .alias("embedding"),
    )
    delta = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(
            "concat(array(embedding[0] + CAST(0.5 AS DOUBLE)),"
            " slice(embedding, 2, size(embedding) - 1))"
        ).alias("embedding"),
    )
    return embedding_match_against_index(
        delta, base, threshold=SEMDEDUP_PARAMS["threshold"]
    )


def q_semantic_dedup_incremental_recall(spark, sf_dir):
    """Driver-checkable recall invariant of the incremental embedding
    probe vs the exact spanning truth (delta × corpus cosine ≥ 0.9,
    ``n_truth`` genuinely recomputed by the oracle): precision is 1 by
    construction (exact verify before emission, so hits ⊆ truth), and
    hits must reach ≥ 0.8 × truth — the dedup-family recall floor."""
    from smartbots_etl_facturas_spark.operators.similarity import (
        _dot,
        with_norm,
    )

    aug = _augmented_embeddings(spark, sf_dir)
    a = with_norm(aug.filter(F.col("vec_id") < 1000000)).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("__vc"),
        F.col("__norm").alias("__nc"),
    )
    b = with_norm(aug.filter(F.col("vec_id") >= 1000000)).select(
        F.col("vec_id").alias("delta_id"),
        F.col("embedding").alias("__vd"),
        F.col("__norm").alias("__nd"),
    )
    par = spark.sparkContext.defaultParallelism
    exact = (
        a.repartition(par).crossJoin(b)
        .withColumn(
            "cosine",
            _dot(F.col("__vc"), F.col("__vd"))
            / (F.col("__nc") * F.col("__nd")),
        )
        .filter(F.col("cosine") >= F.lit(SEMDEDUP_PARAMS["threshold"]))
        .select("delta_id", "corpus_id")
    )
    hits = q_semantic_dedup_incremental(spark, sf_dir).select(
        "delta_id", "corpus_id"
    )
    n_truth = exact.agg(F.count(F.lit(1)).alias("n_truth"))
    n_hits = exact.join(hits, ["delta_id", "corpus_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return n_truth.crossJoin(n_hits).select(
        "n_truth",
        (F.col("n_hits") >= F.col("n_truth") * F.lit(0.8)).alias("recall_ok"),
    )


SQL_SEMANTIC_DEDUP_INCREMENTAL_RECALL = f"""
WITH {_AUGMENTED_EMB_SQL},
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM aug),
sp AS (SELECT d.vec_id AS delta_id FROM n c JOIN n d
       ON c.vec_id < 1000000 AND d.vec_id >= 1000000
       WHERE list_dot_product(c.v, d.v) / (c.nrm * d.nrm) >= 0.9)
SELECT CAST(count(*) AS BIGINT) AS n_truth, TRUE AS recall_ok FROM sp
"""


def q_token_count(spark, sf_dir):
    """Token counting: whitespace tokens + BPE-ish pre-tokenizer runs
    (letters/digits/symbols), chars-per-token compression proxy."""
    docs = _read(spark, sf_dir, "documents")
    n_bpe = bpe_ish_token_count(F.col("text"))
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        (F.length("text").cast("double") / n_bpe.cast("double")).alias("chars_per_token"),
    )


SQL_TOKEN_COUNT = rf"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
         CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}', 1)) AS BIGINT) AS n_bpe_tokens,
         length(text) AS n_chars
  FROM documents)
SELECT doc_id, n_ws_tokens, n_bpe_tokens,
       CAST(n_chars AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE) AS chars_per_token
FROM t
"""


def q_cube_sales(spark, sf_dir):
    """CUBE over (returnflag, linestatus) — all 4 grouping-set
    combinations in one pass (engine surface the reference lacks;
    SURVEY §2.4 note). The double→decimal casts are projected BEFORE
    the cube (round-13): Expand copies each row once per grouping set,
    and a cast inside the aggregate re-executes per copy — projecting
    first evaluates it once per source row and the Expand duplicates
    the already-cast value (same partial_sum inputs, identical
    results)."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus",
        F.col("l_extendedprice").cast(DEC).alias("__price_dec"),
        F.col("l_quantity").cast("decimal(12,2)").alias("__qty_dec"),
    )
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.sum("__price_dec").cast("double").alias("sum_base_price"),
        F.sum("__qty_dec").cast("double").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


SQL_CUBE_SALES = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_semi_join_amounts(spark, sf_dir):
    """J4 semi-join subset (consolidate_invoices.py:567): result rows
    restricted to incoming PKs before the per-carrier amount rollup."""
    existing, incoming = _existing(spark, sf_dir), _incoming(spark, sf_dir)
    result = upsert_insert_only(existing, incoming, PK)
    subset = result.join(incoming.select(*PK).distinct(), list(PK), "left_semi")
    return subset.groupBy("carrier_name").agg(
        F.sum(F.col("total_amount").cast("decimal(27,6)")).cast("double").alias("subset_total"),
        F.count(F.lit(1)).alias("n_rows"),
    )


SQL_SEMI_JOIN_AMOUNTS = f"""
WITH {invoices_cte()},
{_EXISTING_SQL},
{_INCOMING_SQL},
result AS (
  SELECT * FROM existing
  UNION ALL
  SELECT * FROM incoming i
  WHERE NOT EXISTS (SELECT 1 FROM existing e
                    WHERE e.invoice_number = i.invoice_number
                      AND e.reference_number = i.reference_number))
SELECT carrier_name,
       CAST(sum(CAST(total_amount AS DECIMAL(27,6))) AS DOUBLE) AS subset_total,
       CAST(count(*) AS BIGINT) AS n_rows
FROM result r
WHERE EXISTS (SELECT 1 FROM incoming s
              WHERE s.invoice_number = r.invoice_number
                AND s.reference_number = r.reference_number)
GROUP BY carrier_name
"""


def q_top_errors(spark, sf_dir):
    """O3 error-list truncation (dtos.py:70,74-88): first 5 errors per
    reason (deterministic order) plus the 'y N más' remainder count."""
    inv = invoice_view(_read(spark, sf_dir, "lineitem"), dirty=True)
    _, errors = split_valid(with_validation(inv))
    w = Window.partitionBy("error_reason").orderBy("invoice_number", "reference_number")
    top = (
        errors.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
    )
    totals = errors.groupBy("error_reason").agg(F.count(F.lit(1)).alias("n_total"))
    return top.join(totals, "error_reason").select(
        "error_reason", "invoice_number", "reference_number", "rk", "n_total"
    )


SQL_TOP_ERRORS = f"""
WITH {invoices_cte(dirty=True)},
err AS (
  SELECT invoice_number, reference_number, {_ERROR_REASON_SQL} AS error_reason
  FROM invoices WHERE NOT ({_VALID_PRED_SQL})),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY error_reason
                               ORDER BY invoice_number, reference_number) AS rk
  FROM err),
totals AS (SELECT error_reason, CAST(count(*) AS BIGINT) AS n_total
           FROM err GROUP BY 1)
SELECT r.error_reason, r.invoice_number, r.reference_number,
       CAST(r.rk AS BIGINT) AS rk, t.n_total
FROM ranked r JOIN totals t USING (error_reason)
WHERE r.rk <= 5
"""


def q_approx_distinct(spark, sf_dir):
    """HyperLogLog++ approximate distinct count, asserted within 5% of
    exact (the oracle pins the exact count and the bound, so the sketch
    quality itself is hash-checked).

    Shape (round-13 optimization): both aggregates run over the
    DEDUPED key set, not the raw table. Mixing count_distinct with
    approx_count_distinct in ONE agg makes Spark plan the non-distinct
    aggregate's partial state KEYED BY the distinct column — at
    rsd=0.01 the HLL++ buffer is 1,639 longs (~13 KB) carried PER
    l_partkey GROUP through the exchange (~260 MB of sketch state for
    a 1-row result; measured 3.5 s at sf0.1, guide §2.3). Deduping
    first keeps one HLL per task: count(non-null) over distinct keys
    IS count_distinct, and the HLL estimate is bit-identical because
    registers are maxima over hash values — duplicates cannot change
    them."""
    li = _read(spark, sf_dir, "lineitem")
    keys = li.select("l_partkey").distinct()
    exact = F.count(F.col("l_partkey"))
    approx = F.approx_count_distinct("l_partkey", rsd=0.01)
    return keys.agg(
        exact.alias("exact_distinct"),
        ((F.abs(approx - exact).cast("double") / exact.cast("double")) <= 0.05)
        .alias("within_5pct"),
    )


SQL_APPROX_DISTINCT = """
SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct,
       TRUE AS within_5pct
FROM lineitem
"""


def q_multimodal_features(spark, sf_dir):
    """Multimodal decode plumbing: opaque binary payloads →
    mapInPandas (Arrow-batched) feature extraction. The decode step is
    a deterministic digest-derived fake (container has no image libs),
    which the oracle reproduces from sha256 hex — so the whole
    JVM↔Python round-trip is value-checked, not just row-counted."""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.lit("image/x-fake").alias("mime"),
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("source_uri"),
    )
    feats = extract_image_features(media)
    return feats.select(
        "media_id",
        F.length("content").cast("long").alias("n_bytes"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("channels").cast("long").alias("channels"),
        "content_digest",
    )


_HEXB = "(strpos('0123456789abcdef', substr(h, {a}, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(h, {b}, 1)) - 1"

SQL_MULTIMODAL_FEATURES = f"""
WITH m AS (
  SELECT doc_id AS media_id, sha256(text) AS h,
         octet_length(encode(text)) AS n_bytes
  FROM documents WHERE doc_id % 5 = 0),
b AS (
  SELECT media_id, n_bytes,
         {_HEXB.format(a=1, b=2)} AS b0,
         {_HEXB.format(a=3, b=4)} AS b1,
         {_HEXB.format(a=5, b=6)} AS b2,
         substr(h, 1, 16) AS content_digest
  FROM m)
SELECT media_id, CAST(n_bytes AS BIGINT) AS n_bytes,
       CAST(64 + b0 % 192 AS BIGINT) AS width,
       CAST(64 + b1 % 192 AS BIGINT) AS height,
       CAST(CASE WHEN b2 % 4 = 0 THEN 1 ELSE 3 END AS BIGINT) AS channels,
       content_digest
FROM b
"""


_CATALOG_FOLDERS = [
    # (folder_id, parent_id, name) — a small Drive-like tree
    (1, None, "Facturas"),
    (2, None, "Reportes"),
    (3, 1, "2025"),
    (4, 1, "2026"),
    (5, 4, "Enero"),
    (6, 4, "Febrero"),
    (7, 2, "2026"),
    (8, 7, "Enero"),
    (9, 6, "Pendientes"),
]

_CATALOG_PATHS = [
    "Facturas",
    "Facturas/2026",
    "Facturas/2026/Febrero",
    "Facturas/2026/Febrero/Pendientes",
    "Reportes/2026/Enero",
    "Facturas/2027",               # missing leaf
    "Inexistente/2026",            # missing root
    "Facturas/2026/Enero",
]


def q_path_resolve(spark, sf_dir):
    """S7 — the reference's Drive path resolver
    (drive_path_resolver.py:51-72) as set-based dataflow: a batch of
    '/'-separated paths walks a folders catalog one segment level at a
    time (one broadcast join per level), unresolvable paths yielding
    NULL folder_id instead of the reference's per-path raise. The
    driver-side prefix memo cache lives in sources/catalog.py
    PathResolver (tests/test_catalog.py)."""
    from smartbots_etl_facturas_spark.sources.catalog import resolve_paths

    folders = spark.createDataFrame(
        _CATALOG_FOLDERS, "folder_id long, parent_id long, name string"
    )
    paths = spark.createDataFrame([(p,) for p in _CATALOG_PATHS], "path string")
    return resolve_paths(folders, paths)


_CATALOG_FOLDER_VALUES = ", ".join(
    f"({fid}, {'NULL' if pid is None else pid}, '{name}')"
    for fid, pid, name in _CATALOG_FOLDERS
)
_CATALOG_PATH_VALUES = ", ".join(f"('{p}')" for p in _CATALOG_PATHS)

SQL_PATH_RESOLVE = f"""
WITH RECURSIVE folders(folder_id, parent_id, name) AS (
  VALUES {_CATALOG_FOLDER_VALUES}),
p(path) AS (VALUES {_CATALOG_PATH_VALUES}),
seg AS (SELECT path, string_split(path, '/') AS parts FROM p),
walk AS (
  SELECT s.path, s.parts, 1 AS lvl, f.folder_id AS cur
  FROM seg s JOIN folders f ON f.parent_id IS NULL AND f.name = s.parts[1]
  UNION ALL
  SELECT w.path, w.parts, w.lvl + 1, f.folder_id
  FROM walk w JOIN folders f
    ON f.parent_id = w.cur AND f.name = w.parts[w.lvl + 1]
  WHERE w.lvl < len(w.parts))
SELECT p.path,
       (SELECT w.cur FROM walk w
        WHERE w.path = p.path AND w.lvl = len(string_split(p.path, '/')))
         AS folder_id
FROM p
"""


def q_stats_summary(spark, sf_dir):
    """Statistical aggregate surface: per-group sample stddev
    (reported as the scale-free coefficient of variation), Pearson
    correlation, and exact median over lineitem. Moment merges are
    float-order-dependent across partitions at ~1e-13 relative, so
    the O(1)-magnitude statistics are rounded at 1e-6 — seven orders
    of margin — keeping the cross-engine value hash exact."""
    li = _read(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("double")
    price = F.col("l_extendedprice").cast("double")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.stddev_samp(qty) / F.avg(qty), 6).alias("cv_qty"),
        F.round(F.corr(qty, price), 6).alias("corr_qty_price"),
        F.round(F.expr("percentile(CAST(l_quantity AS DOUBLE), 0.5)"), 6).alias(
            "median_qty"
        ),
    )


SQL_STATS_SUMMARY = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(stddev_samp(CAST(l_quantity AS DOUBLE))
             / avg(CAST(l_quantity AS DOUBLE)), 6) AS cv_qty,
       round(corr(CAST(l_quantity AS DOUBLE),
                  CAST(l_extendedprice AS DOUBLE)), 6) AS corr_qty_price,
       round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 6) AS median_qty
FROM lineitem GROUP BY l_returnflag
"""


def q_approx_aggregates(spark, sf_dir):
    """Sketch-based approximate aggregates with driver-checkable error
    invariants (the ann_*_recall pattern): HyperLogLog++ distinct
    users within 3x the configured rsd of the exact count, and the
    KLL/GK approximate median landing inside the exact p40..p60 rank
    band. The booleans hold for ANY sketch merge order, so the row is
    stable under partitioning even though the sketch internals are
    not; the oracle recomputes the exact sides."""
    ev = read_events(spark, sf_dir)
    qty = F.col("value").cast("double")
    agg = ev.agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", rsd=0.05).alias("n_hll"),
        F.expr("percentile(CAST(value AS DOUBLE), 0.4)").alias("p40"),
        F.expr("percentile(CAST(value AS DOUBLE), 0.6)").alias("p60"),
        F.percentile_approx(qty, F.lit(0.5), F.lit(1000)).alias("p50_approx"),
    )
    return agg.select(
        "n_exact",
        (
            F.abs(F.col("n_hll") - F.col("n_exact"))
            <= F.col("n_exact") * F.lit(0.15)
        ).alias("hll_ok"),
        (
            (F.col("p50_approx") >= F.col("p40"))
            & (F.col("p50_approx") <= F.col("p60"))
        ).alias("p50_ok"),
    )


SQL_APPROX_AGGREGATES = """
SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
       TRUE AS hll_ok, TRUE AS p50_ok
FROM events
"""


def q_gap_fill(spark, sf_dir):
    """Time-series gap filling (resample-to-dense): hourly event
    counts per event_type with MISSING hours materialized as zero
    rows — the step between a sparse event stream and any
    fixed-step window model. The dense hour spine is a
    sequence+explode over the global [min,max] bucket range (one
    1-row aggregate broadcast onto the distinct-type frame — rows
    generated executor-side, never a driver loop), left-joined
    against the sparse counts."""
    ev = read_events(spark, sf_dir)
    bucket = (F.expr("ts div 3600000000000") * 3600).cast("long")
    sparse = ev.groupBy(bucket.alias("h"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    bounds = sparse.agg(
        F.min("h").alias("h_min"), F.max("h").alias("h_max")
    )
    types = sparse.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence(F.col("h_min"), F.col("h_max"), F.lit(3600))).alias("h"),
    )
    return spine.join(sparse, ["event_type", "h"], "left").select(
        "event_type",
        F.col("h").alias("bucket_epoch"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
    )


SQL_GAP_FILL = """
WITH sparse AS (
  SELECT CAST((epoch_ns(ts) // 3600000000000) * 3600 AS BIGINT) AS h,
         event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
bounds AS (SELECT min(h) AS h_min, max(h) AS h_max FROM sparse),
spine AS (
  SELECT t.event_type,
         CAST(unnest(range(b.h_min, b.h_max + 1, 3600)) AS BIGINT) AS h
  FROM (SELECT DISTINCT event_type FROM sparse) t, bounds b)
SELECT s.event_type, s.h AS bucket_epoch,
       CAST(coalesce(sp.n, 0) AS BIGINT) AS n
FROM spine s LEFT JOIN sparse sp
  ON s.event_type = sp.event_type AND s.h = sp.h
"""


def q_sequence_packing(spark, sf_dir):
    """Sequence packing (operators/packing.py): greedy token-budget
    bin packing of documents into fixed-size training sequences,
    hash-bucketed so each bucket packs independently in one
    applyInPandas group — the distributed formulation real pretraining
    pipelines use (global bin packing is NP-hard and serial). The
    oracle replays the exact next-fit walk with a DuckDB RECURSIVE
    CTE, so per-doc pack assignment AND running fill are value-checked
    end to end. Bucket = doc_id % 8 here (cross-engine-identical; the
    operator defaults to xxhash64 for skewed id spaces)."""
    from smartbots_etl_facturas_spark.operators.packing import pack_greedy

    docs = _read(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        (F.col("doc_id") % 8).cast("int").alias("bucket"),
    )
    return pack_greedy(with_tokens, budget=512, bucket_col="bucket")


SQL_SEQUENCE_PACKING = r"""
WITH RECURSIVE t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         CAST(doc_id % 8 AS INT) AS bucket,
         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
  FROM documents),
walk AS (
  SELECT bucket, rn, doc_id, n_tokens, 0 AS pack, n_tokens AS fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT d.bucket, d.rn, d.doc_id, d.n_tokens,
         CASE WHEN w.fill + d.n_tokens > 512 THEN w.pack + 1 ELSE w.pack END,
         CASE WHEN w.fill + d.n_tokens > 512 THEN d.n_tokens
              ELSE w.fill + d.n_tokens END
  FROM t d JOIN walk w ON d.bucket = w.bucket AND d.rn = w.rn + 1)
SELECT doc_id, bucket,
       CAST(bucket * 4294967296 + pack AS BIGINT) AS pack_id,
       n_tokens, CAST(fill AS BIGINT) AS pack_fill
FROM walk
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: per-language keep rates
    applied via a content-independent hash uniform (first 4 md5 hex
    chars of the doc id as a 16-bit uniform) — reproducible across
    engines, partitionings and reruns, no RNG state, unlike
    sampleBy/rand. The per-stratum report value-checks MEMBERSHIP
    (id sums), not just sample sizes."""
    docs = _read(spark, sf_dir, "documents")
    u16 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("long")
    rate = (
        F.when(F.col("lang") == "en", F.lit(0.5))
        .when(F.col("lang") == "es", F.lit(0.25))
        .otherwise(F.lit(1.0))
    )
    kept = docs.filter(u16 < rate * 65536)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_sum"),
        F.sum(F.length("text")).alias("chars_kept"),
    )


_SQL_U16 = ("((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096"
            " + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256"
            " + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16"
            " + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1))")

SQL_STRATIFIED_SAMPLE = f"""
WITH d AS (
  SELECT doc_id, lang, text, md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents),
kept AS (
  SELECT * FROM d
  WHERE {_SQL_U16} < (CASE WHEN lang = 'en' THEN 0.5
                           WHEN lang = 'es' THEN 0.25
                           ELSE 1.0 END) * 65536)
SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(length(text)) AS BIGINT) AS chars_kept
FROM kept GROUP BY lang
"""


def q_embedding_quantize(spark, sf_dir):
    """Per-vector symmetric int8 quantization of the embedding column
    — the storage/serving compression step of an embedding pipeline.
    scale = max|x|/127; q_i = clamp(floor(x_i/scale + 0.5), ±127)
    (floor(x+0.5), not round(): a tie rule both Spark and the DuckDB
    oracle evaluate identically in IEEE doubles). Pure Column
    expressions over the array — JVM-side, no UDF. The FULL quantized
    array is value-checked, plus the reconstruction error bound."""
    emb = _read(spark, sf_dir, "embeddings")
    absmax = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda a, x: F.greatest(a, F.abs(x.cast("double"))),
    )
    scale = (absmax / F.lit(127.0)).alias("scale")
    e = emb.select("vec_id", "embedding", scale)
    q = F.transform(
        "embedding",
        lambda x: F.greatest(
            F.lit(-127),
            F.least(
                F.lit(127),
                F.floor(x.cast("double") / F.col("scale") + F.lit(0.5)).cast("int"),
            ),
        ),
    )
    out = e.select("vec_id", "scale", q.alias("q"))
    err = F.aggregate(
        F.zip_with(
            "embedding", "q",
            lambda x, qq: F.abs(x.cast("double") - qq.cast("double") * F.col("scale")),
        ),
        F.lit(0.0),
        lambda a, x: F.greatest(a, x),
    )
    return out.join(emb.select("vec_id", "embedding"), "vec_id").select(
        "vec_id",
        F.round("scale", 9).alias("scale_r"),
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
        (err <= F.col("scale") * 0.5 + 1e-12).alias("err_bounded"),
    )


SQL_EMBEDDING_QUANTIZE = """
WITH e AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
  FROM embeddings),
q AS (
  SELECT vec_id, embedding, scale,
         list_transform(embedding,
           x -> greatest(-127, least(127, CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT))))
           AS qv
  FROM e)
SELECT vec_id, round(scale, 9) AS scale_r,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_min(qv) AS INT) AS q_min,
       CAST(list_max(qv) AS INT) AS q_max,
       list_max(list_transform(range(1, len(embedding) + 1),
         i -> abs(CAST(embedding[i] AS DOUBLE) - qv[i] * scale)))
         <= scale * 0.5 + 1e-12 AS err_bounded
FROM q
"""


def q_benchmark_contamination(spark, sf_dir):
    """Decontamination check: which corpus documents share a word
    4-gram with the held-out benchmark set (docs with id % 97 = 0 —
    stand-in for an eval suite)? Exact-match shingle join: per-doc
    DISTINCT 4-grams exploded, inner-joined against the broadcast
    benchmark gram set, grouped back per doc with the shared-gram
    count. At 100 TB the benchmark side stays tiny (broadcast) and
    the corpus side is a narrow (doc_id, gram-hash) explode."""
    from smartbots_etl_facturas_spark.functions.text import (
        shingles_from_tokens,
        tokens,
    )

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("w")
    )
    grams = docs.select(
        "doc_id", F.explode(F.array_distinct(shingles_from_tokens("w", 4))).alias("g")
    )
    bench = grams.filter(F.col("doc_id") % 97 == 0).select(
        F.col("g").alias("bg")
    ).distinct()
    return (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), grams.g == bench.bg)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


SQL_BENCHMARK_CONTAMINATION = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(w[CAST(i AS INT):CAST(i AS INT)+3], ' ') AS g
  FROM toks, UNNEST(range(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 4),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0)
SELECT g2.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
FROM grams g2 JOIN bench USING (g)
WHERE g2.doc_id % 97 != 0
GROUP BY g2.doc_id
"""


def q_funnel_counts(spark, sf_dir):
    """Ordered funnel conversion (view -> click -> purchase): users
    completing each step strictly after their previous-step time —
    k per-user aggregation stages joined on user_id, no global
    windows (operators/events.py:funnel_stages). n_users is
    non-increasing by construction; the oracle re-derives the same
    sequential min-after-min walk with correlated aggregates."""
    from smartbots_etl_facturas_spark.operators.events import funnel_stages

    ev = read_events(spark, sf_dir)
    return funnel_stages(ev, ["view", "click", "purchase"])


SQL_FUNNEL_COUNTS = """
WITH s1 AS (
  SELECT user_id, min(epoch_ns(ts)) AS t
  FROM events WHERE event_type = 'view' GROUP BY 1),
s2 AS (
  SELECT e.user_id, min(epoch_ns(e.ts)) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > s1.t GROUP BY 1),
s3 AS (
  SELECT e.user_id, min(epoch_ns(e.ts)) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > s2.t GROUP BY 1)
SELECT CAST(1 AS BIGINT) AS stage, 'view' AS step_event,
       CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
UNION ALL
SELECT CAST(2 AS BIGINT), 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
UNION ALL
SELECT CAST(3 AS BIGINT), 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
"""


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention: users bucketed by first-activity week,
    counted in each later week they were active — two keyed
    aggregations plus one equi-join on user_id; the week index uses
    int64 division on the nanos timestamp (float division would
    misbucket past double's exact range)
    (operators/events.py:cohort_retention)."""
    from smartbots_etl_facturas_spark.operators.events import cohort_retention

    return cohort_retention(read_events(spark, sf_dir))


SQL_COHORT_RETENTION = """
WITH activity AS (
  SELECT DISTINCT user_id,
         epoch_ns(ts) // 604800000000000 AS bucket
  FROM events),
cohorts AS (
  SELECT user_id, min(bucket) AS cohort_bucket FROM activity GROUP BY 1)
SELECT CAST(cohort_bucket AS BIGINT) AS cohort_bucket,
       CAST(bucket - cohort_bucket AS BIGINT) AS bucket_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM activity a JOIN cohorts c ON a.user_id = c.user_id
GROUP BY 1, 2
"""


def q_apply_changelog(spark, sf_dir):
    """CDC MERGE (operators/cdc.py:apply_changelog): an I/U/D
    changelog derived from orders (op keyed by o_orderkey % 5, last
    change per customer wins on (o_orderdate, o_orderkey) desc) is
    applied to the customer snapshot — deletes remove the key,
    inserts/updates replace the payload, untouched keys keep their
    snapshot row. The third verb the reference's insert/update-only
    upsert lacks; one delta-sized window + one anti-join, O(Δ +
    touched keys) at any snapshot size. Payload doubles pass through
    untouched, so the oracle re-derivation is value-exact."""
    from smartbots_etl_facturas_spark.operators.cdc import apply_changelog

    snap = _read(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    ops = F.array(F.lit("D"), F.lit("U"), F.lit("U"), F.lit("I"), F.lit("I"))
    changes = _read(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        F.element_at(ops, (F.pmod(F.col("o_orderkey"), F.lit(5)) + 1).cast("int")
                     ).alias("op"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("tie"),
        F.concat(F.lit("cust-"), F.col("o_custkey").cast("string")).alias("c_name"),
        F.col("o_totalprice").alias("c_acctbal"),
    )
    return apply_changelog(snap, changes, ["c_custkey"], "ts", "tie")


SQL_APPLY_CHANGELOG = """
WITH changes AS (
  SELECT o_custkey AS c_custkey,
         CASE o_orderkey % 5 WHEN 0 THEN 'D' WHEN 1 THEN 'U' WHEN 2 THEN 'U'
              ELSE 'I' END AS op,
         o_orderdate AS ts, o_orderkey AS tie,
         'cust-' || CAST(o_custkey AS VARCHAR) AS c_name,
         o_totalprice AS c_acctbal
  FROM orders),
last AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY c_custkey
                                 ORDER BY ts DESC, tie DESC) AS rn
    FROM changes) WHERE rn = 1)
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE c_custkey NOT IN (SELECT c_custkey FROM last)
UNION ALL
SELECT c_custkey, c_name, c_acctbal FROM last WHERE op != 'D'
"""


def q_scd2_history(spark, sf_dir):
    """SCD type-2 history from the events change log: per-user
    ``value`` observations collapsed into validity intervals
    (valid_from, valid_to, is_current) with consecutive duplicates
    merged — all windows PARTITIONED BY user_id, total-ordered by
    (ts, event_id) (operators/scd.py:scd2_from_changelog). The raw
    double ``value`` is carried through untouched on both sides, so
    the interval boundaries and the collapse rule are value-checked
    exactly."""
    from smartbots_etl_facturas_spark.operators.scd import scd2_from_changelog

    ev = read_events(spark, sf_dir).select(
        "user_id", "ts", "event_id",
        # quantize to a small label set so consecutive-duplicate
        # collapse actually triggers on this data
        (F.col("value").cast("decimal(18,4)") % 5).cast("string").alias("tier"),
    )
    return scd2_from_changelog(
        ev, ["user_id"], "ts", ["tier"], "event_id"
    )


SQL_SCD2_HISTORY = """
WITH log AS (
  SELECT user_id, epoch_ns(ts) AS ts, event_id,
         CAST(CAST(value AS DECIMAL(18,4)) % 5 AS VARCHAR) AS tier
  FROM events),
flagged AS (
  SELECT *,
         (lag(tier) OVER w IS DISTINCT FROM tier
          OR row_number() OVER w = 1) AS chg
  FROM log
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
changes AS (SELECT * FROM flagged WHERE chg)
SELECT user_id, tier,
       CAST(ts AS BIGINT) AS valid_from,
       CAST(lead(ts) OVER w2 AS BIGINT) AS valid_to,
       (lead(ts) OVER w2 IS NULL) AS is_current
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_doc_chunks(spark, sf_dir):
    """Sliding-window token chunking (context-window preparation, the
    stage between cleaning and sequence packing): 32-token windows,
    stride 24 (8-token overlap), start positions generated
    executor-side with sequence/explode — one narrow projection, no
    shuffle, no Python (operators/chunking.py). The FULL chunk text is
    value-checked, so window boundaries, overlap and the short final
    chunk are all pinned."""
    from smartbots_etl_facturas_spark.operators.chunking import chunk_documents

    return chunk_documents(
        _read(spark, sf_dir, "documents"), chunk_tokens=32, stride=24
    )


SQL_DOC_CHUNKS = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
s AS (SELECT doc_id, w, len(w) AS n FROM t),
idx AS (
  SELECT doc_id, w, CAST(i AS INT) AS start
  FROM s, unnest(generate_series(1, greatest(n - 8, 1), 24)) AS g(i))
SELECT doc_id,
       CAST((start - 1) // 24 AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(w, start, start + 31)) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(w, start, start + 31), ' ') AS chunk_text
FROM idx
"""


def q_tfidf_top_terms(spark, sf_dir):
    """Per-document term salience: top-3 terms by tf/df (the monotone
    log-free core of tf-idf — exact-integer counts divided once as
    doubles, so the score is bit-identical across engines; see
    operators/textstats.py). Counting is groupBy with map-side
    combine; the doc-frequency join is a plain equi-join on the term
    key that AQE broadcasts when the vocabulary is small."""
    from smartbots_etl_facturas_spark.operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_read(spark, sf_dir, "documents"), k=3)


SQL_TFIDF_TOP_TERMS = r"""
WITH tok AS (
  SELECT doc_id, u.term
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        FROM documents) t,
       unnest(t.w) AS u(term)),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT doc_id, term, tf, df,
         CAST(tf AS DOUBLE) / CAST(df AS DOUBLE) AS salience
  FROM tf JOIN dfreq USING (term)),
r AS (
  SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY salience DESC, term ASC) AS rk
  FROM scored)
SELECT doc_id, term, tf, df, salience, CAST(rk AS BIGINT) AS rank
FROM r WHERE rk <= 3
"""


def q_bigram_pmi(spark, sf_dir):
    """Collocation mining: adjacent word pairs ranked by PMI lift
    P(xy)/(P(x)P(y)), every factor cast to double first so the
    left-to-right IEEE products are overflow-free and bit-identical
    across engines at any corpus size (ln of the lift — PMI proper —
    is a monotone map, so the ranking is identical; see
    operators/textstats.py). Top-50 with a total (lift, w1, w2)
    order."""
    from smartbots_etl_facturas_spark.operators.textstats import bigram_pmi

    return bigram_pmi(_read(spark, sf_dir, "documents"), min_count=5, top=50)


SQL_BIGRAM_PMI = r"""
WITH t AS (
  SELECT string_split_regex(trim(text), '\s+') AS w FROM documents),
uni AS (SELECT u.x AS wd, CAST(count(*) AS BIGINT) AS c
        FROM t, unnest(t.w) AS u(x) GROUP BY 1),
pairs AS (
  SELECT w[CAST(i AS INT)] AS w1, w[CAST(i AS INT) + 1] AS w2
  FROM t, unnest(range(1, len(w))) AS g(i)
  WHERE len(w) >= 2),
big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
        FROM pairs GROUP BY 1, 2),
tot AS (SELECT CAST(sum(len(w)) AS BIGINT) AS u_total,
               CAST(sum(greatest(len(w) - 1, 0)) AS BIGINT) AS t_total
        FROM t),
scored AS (
  SELECT w1, w2, c_xy, cx.c AS c_x, cy.c AS c_y,
         (CAST(c_xy AS DOUBLE) * CAST(u_total AS DOUBLE)
          * CAST(u_total AS DOUBLE))
           / (CAST(t_total AS DOUBLE) * CAST(cx.c AS DOUBLE)
              * CAST(cy.c AS DOUBLE)) AS lift
  FROM big CROSS JOIN tot
  JOIN uni cx ON big.w1 = cx.wd
  JOIN uni cy ON big.w2 = cy.wd
  WHERE c_xy >= 5)
SELECT w1, w2, c_xy, c_x, c_y, lift
FROM scored ORDER BY lift DESC, w1 ASC, w2 ASC LIMIT 50
"""


def q_c4_filters(spark, sf_dir):
    """C4-style length/shape quality gate (Raffel et al. 2020 §2.2):
    word-count band + mean-word-length band as pure array expressions
    (functions/text.py:c4_filter_flags) — the repetition rules are the
    separate repetition_filter query. Per-document flags are
    value-checked, so both thresholds and the exact mean arithmetic
    are pinned."""
    from smartbots_etl_facturas_spark.functions.text import c4_filter_flags

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("w")
    )
    fl = c4_filter_flags("w")
    return docs.select(
        "doc_id",
        fl["n_words"].alias("n_words"),
        fl["mean_word_len"].alias("mean_word_len"),
        fl["words_ok"].alias("words_ok"),
        fl["mean_len_ok"].alias("mean_len_ok"),
        fl["keep"].alias("keep"),
    )


SQL_C4_FILTERS = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
              AS DOUBLE) / CAST(len(w) AS DOUBLE) AS mean_word_len
  FROM t)
SELECT doc_id, n_words, mean_word_len,
       (n_words >= 40 AND n_words <= 100000) AS words_ok,
       (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS mean_len_ok,
       ((n_words >= 40 AND n_words <= 100000)
        AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)) AS keep
FROM m
"""


def q_temperature_resample(spark, sf_dir):
    """Temperature-0.5 source rebalancing (the multilingual-corpus
    mixture-flattening step): per-source acceptance rates from
    sqrt-flattened shares, applied via a 52-bit md5-hash uniform —
    deterministic membership, no RNG state
    (operators/sampling.py:temperature_resample; sqrt is IEEE
    correctly-rounded, unlike pow, which is why T is fixed at 0.5).
    Membership value-checked per source via count + id sums."""
    from smartbots_etl_facturas_spark.operators.sampling import temperature_resample

    kept = temperature_resample(
        _read(spark, sf_dir, "documents"), target_frac=0.5
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_sum"),
        F.round(F.min("accept_prob"), 9).alias("accept_prob_r"),
    )


SQL_TEMPERATURE_RESAMPLE = r"""
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM documents GROUP BY 1),
wts AS (
  SELECT source, n_s,
         CAST(round(sqrt(CAST(n_s AS DOUBLE)), 6) AS DECIMAL(38,6)) AS w_s
  FROM counts),
norm AS (SELECT sum(w_s) AS w_sum, CAST(sum(n_s) AS BIGINT) AS n_total
         FROM wts),
rates AS (
  SELECT source,
         least(CAST(1.0 AS DOUBLE),
               ((0.5 * CAST(n_total AS DOUBLE))
                * (CAST(w_s AS DOUBLE) / CAST(w_sum AS DOUBLE)))
               / CAST(n_s AS DOUBLE)) AS accept_prob
  FROM wts CROSS JOIN norm),
kept AS (
  SELECT d.doc_id, d.source, r.accept_prob
  FROM documents d JOIN rates r USING (source)
  WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 13))
             AS BIGINT) / 4503599627370496.0 < r.accept_prob)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       round(accept_prob, 9) AS accept_prob_r
FROM kept GROUP BY source, accept_prob
"""


def q_wav_audio_pipeline(spark, sf_dir):
    """REAL audio decode through the multimodal pipeline (the audio
    twin of png_image_pipeline): square-wave PCM16 clips encoded with
    the stdlib WAV codec (sources/multimodal.py wav_encode), shipped
    as binary payloads, decoded inside mapInPandas (decoder='wav' —
    actual RIFF parse + int16 samples, no audio library), then
    featurized. Square waves make every feature an exact literal the
    oracle pins: rms == amplitude (|x| constant), zero_crossings ==
    half-periods - 1, duration == n/sr (IEEE exact division)."""
    import numpy as np

    from smartbots_etl_facturas_spark.sources.multimodal import (
        extract_audio_features,
        wav_encode,
    )

    rows = []
    for i in range(5):
        amp = 1000 * (i + 1)
        half = 8 * (i + 1)
        k = 10 + i                      # half-periods
        n = half * k
        sr = 8000 if i % 2 == 0 else 16000
        ch0 = np.where((np.arange(n) // half) % 2 == 0, amp, -amp).astype("<i2")
        if i == 4:                      # one stereo clip (ch1 = -ch0)
            frames = np.column_stack([ch0, -ch0])
            payload = wav_encode(frames.reshape(-1), sr, n_channels=2)
        else:
            payload = wav_encode(ch0, sr, n_channels=1)
        rows.append((i, "audio", bytearray(payload), "audio/wav", f"mem://{i}"))
    media = spark.createDataFrame(
        rows,
        "media_id long, media_type string, content binary, "
        "mime string, source_uri string",
    )
    return extract_audio_features(media, decoder="wav")


SQL_WAV_AUDIO_PIPELINE = "\nUNION ALL\n".join(
    f"SELECT CAST({i} AS BIGINT) AS media_id, "
    f"CAST({8000 if i % 2 == 0 else 16000} AS BIGINT) AS sample_rate, "
    f"CAST({2 if i == 4 else 1} AS BIGINT) AS n_channels, "
    f"CAST({8 * (i + 1) * (10 + i)} AS BIGINT) AS n_samples, "
    f"CAST({8 * (i + 1) * (10 + i)} AS DOUBLE) / {8000 if i % 2 == 0 else 16000} AS duration_s, "
    f"CAST({1000 * (i + 1)} AS DOUBLE) AS rms, "
    f"CAST({1000 * (i + 1)} AS BIGINT) AS peak, "
    f"CAST({10 + i - 1} AS BIGINT) AS zero_crossings"
    for i in range(5)
)


# One SQL string serves BOTH engines (Spark 4 ships native WITH
# RECURSIVE — SPARK-24497): a synthetic binary BOM tree over part
# (parent = id div 2), walked from the root accumulating exact
# decimal path costs. The view name differs (v_part vs part); the
# statement is otherwise identical.
_RECURSIVE_BOM_SQL = """
WITH RECURSIVE tree(id, depth, path_cost) AS (
  SELECT CAST(p_partkey AS BIGINT), CAST(0 AS BIGINT),
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DECIMAL(27,2))
  FROM {part} WHERE p_partkey = 1
  UNION ALL
  SELECT CAST(p.p_partkey AS BIGINT), t.depth + 1,
         CAST(t.path_cost + CAST(p.p_retailprice AS DECIMAL(18,2))
              AS DECIMAL(27,2))
  FROM tree t JOIN {part} p
    ON (p.p_partkey = t.id * 2 OR p.p_partkey = t.id * 2 + 1)
  WHERE p.p_partkey <= 511
)
SELECT id, depth, CAST(path_cost AS DOUBLE) AS path_cost FROM tree
"""


def q_recursive_bom(spark, sf_dir):
    """Native recursive CTE (Spark 4 WITH RECURSIVE): a binary
    BOM-style tree over part (children of id are 2·id and 2·id+1,
    capped at 511 nodes), walked from the root with depth and an
    exact-decimal root-path cost per node — the classic hierarchy
    traversal a pre-4.0 engine needed driver-side loops for
    (sources/catalog.py does the level-wise-join equivalent; this is
    the one-statement native form). The DuckDB oracle runs the
    IDENTICAL statement."""
    _read(spark, sf_dir, "part").createOrReplaceTempView("v_part")
    return spark.sql(_RECURSIVE_BOM_SQL.format(part="v_part"))


SQL_RECURSIVE_BOM = _RECURSIVE_BOM_SQL.format(part="part")


def q_zorder_keys(spark, sf_dir):
    """Morton (Z-order) interleave key for multi-dimensional data
    skipping (sinks/layout.py:zorder_value — the Delta/Iceberg
    OPTIMIZE ZORDER layout primitive): 8-bit interleave of
    (l_partkey mod 256, l_suppkey mod 256) over a lineitem sample,
    plus the round-trip de-interleave proving the bit packing is
    lossless. Pure integer bit arithmetic — identical in both
    engines. The file-skipping CONTRACT (tight per-file min/max in
    every interleaved dimension) is pinned by
    tests/test_layout.py:test_zorder_skips_files_on_second_dim."""
    from smartbots_etl_facturas_spark.sinks.layout import zorder_value

    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_orderkey") % 50 == 0) & (F.col("l_linenumber") == 1)
    )
    x = (F.col("l_partkey") % 256).cast("long")
    y = (F.col("l_suppkey") % 256).cast("long")
    z = zorder_value([x, y], bits=8)
    out = li.select(
        F.col("l_orderkey").cast("long").alias("okey"),
        x.alias("x"),
        y.alias("y"),
        z.alias("z"),
    )
    # de-interleave: even bits -> x, odd bits -> y
    unx = sum(
        (F.shiftright(F.col("z"), 2 * b).bitwiseAND(F.lit(1).cast("long")) * (1 << b)
         for b in range(8)),
        F.lit(0).cast("long"),
    )
    uny = sum(
        (F.shiftright(F.col("z"), 2 * b + 1).bitwiseAND(F.lit(1).cast("long")) * (1 << b)
         for b in range(8)),
        F.lit(0).cast("long"),
    )
    return out.select(
        "okey", "x", "y", "z",
        (unx.eqNullSafe(F.col("x")) & uny.eqNullSafe(F.col("y"))).alias("roundtrip_ok"),
    )


def _sql_interleave(xc: str, yc: str, bits: int = 8) -> str:
    terms = []
    for b in range(bits):
        terms.append(f"((({xc} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({yc} >> {b}) & 1) << {2 * b + 1})")
    return " | ".join(terms)


SQL_ZORDER_KEYS = f"""
WITH s AS (
  SELECT CAST(l_orderkey AS BIGINT) AS okey,
         CAST(l_partkey % 256 AS BIGINT) AS x,
         CAST(l_suppkey % 256 AS BIGINT) AS y
  FROM lineitem WHERE l_orderkey % 50 = 0 AND l_linenumber = 1)
SELECT okey, x, y,
       CAST({_sql_interleave('x', 'y')} AS BIGINT) AS z,
       TRUE AS roundtrip_ok
FROM s
"""


def q_pagerank(spark, sf_dir):
    """PageRank over the customer–supplier interaction graph
    (symmetric edges from a lineitem ⋈ orders sample), 3 iterations
    of the integer nano-rank dataflow (operators/graph.py): every
    step is exact int64 arithmetic (integer division by out-degree,
    damping 0.85 as (17·s) div 20), so the FULL rank vector is
    bit-identical across engines and the oracle — the same three
    iterations unrolled as chained CTEs — value-checks every rank,
    not just invariants."""
    from smartbots_etl_facturas_spark.operators.graph import pagerank

    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    orders = _read(spark, sf_dir, "orders")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank(edges, iters=3)


def _pagerank_oracle_sql(iters: int = 3) -> str:
    steps = []
    prev = "r0"
    for i in range(1, iters + 1):
        steps.append(
            f"c{i} AS (SELECT e.dst AS node, r.rank_nanos // o.outdeg AS c\n"
            f"  FROM edges e JOIN {prev} r ON e.src = r.node\n"
            f"  JOIN outdeg o ON e.src = o.node)"
        )
        steps.append(
            f"s{i} AS (SELECT node, CAST(sum(c) AS BIGINT) AS s "
            f"FROM c{i} GROUP BY 1)"
        )
        steps.append(
            f"r{i} AS (SELECT n.node,\n"
            f"  CAST(150000000 + (17 * coalesce(s.s, 0)) // 20 AS BIGINT)"
            f" AS rank_nanos\n"
            f"  FROM nodes n LEFT JOIN s{i} s ON n.node = s.node)"
        )
        prev = f"r{i}"
    return (
        "WITH pairs AS (\n"
        "  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,\n"
        "         's' || CAST(l_suppkey AS VARCHAR) AS dst\n"
        "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey\n"
        "  WHERE l_orderkey % 10 = 0),\n"
        "edges AS (SELECT src, dst FROM pairs\n"
        "          UNION ALL SELECT dst, src FROM pairs),\n"
        "nodes AS (SELECT DISTINCT node FROM\n"
        "  (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),\n"
        "outdeg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg\n"
        "           FROM edges GROUP BY 1),\n"
        "r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank_nanos FROM nodes),\n"
        + ",\n".join(steps)
        + f"\nSELECT node, rank_nanos FROM {prev}"
    )


SQL_PAGERANK = _pagerank_oracle_sql(3)


def q_group_anomalies(spark, sf_dir):
    """Per-group z-score anomaly detection over events: mean/std per
    event_type derived from EXACT decimal aggregates (n, Σv, Σv² —
    order-free), converted to double once with a fixed expression
    shape, so the z-scores are bit-identical across engines — the
    engine-portable alternative to built-in stddev_samp, whose
    merge-order float drift is NOT portable. Emits rows with
    |z| > 2.5 plus each group's audit aggregates."""
    ev = read_events(spark, sf_dir)
    v = F.col("value").cast("decimal(18,4)")
    stats = (
        ev.select("event_type", v.alias("v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s1"),
            F.sum((F.col("v") * F.col("v")).cast("decimal(38,8)")).alias("s2"),
        )
    )
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    nd = F.col("n").cast("double")
    var = F.greatest(
        F.lit(0.0), (s2d - (s1d * s1d) / nd) / (nd - F.lit(1.0))
    )
    # degenerate groups (n=1 or zero variance) have no defined z —
    # emit NULL explicitly on BOTH engines (Spark's x/0.0 is NaN and
    # NaN compares GREATER than everything, so an unguarded filter
    # would emit singleton groups as "anomalies"; DuckDB's x/0.0 is
    # NULL and drops silently — the guard makes the two agree)
    z = F.when(
        (F.col("n") > 1) & (var > 0.0),
        (F.col("value").cast("decimal(18,4)").cast("double") - s1d / nd)
        / F.sqrt(var),
    )
    enriched = ev.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        F.col("value").cast("decimal(18,4)").cast("double").alias("value"),
        F.col("n"),
        z.alias("z"),
    )
    return enriched.filter(F.abs(F.col("z")) > 2.5)


SQL_GROUP_ANOMALIES = """
WITH stats AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(value AS DECIMAL(18,4))) AS s1,
         sum(CAST(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))
                  AS DECIMAL(38,8))) AS s2
  FROM events GROUP BY 1),
enriched AS (
  SELECT e.event_id, e.event_type,
         CAST(CAST(e.value AS DECIMAL(18,4)) AS DOUBLE) AS value,
         s.n,
         CASE WHEN s.n > 1 AND greatest(0.0,
                (CAST(s.s2 AS DOUBLE)
                 - (CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE))
                   / CAST(s.n AS DOUBLE))
                / (CAST(s.n AS DOUBLE) - 1.0)) > 0.0
         THEN (CAST(CAST(e.value AS DECIMAL(18,4)) AS DOUBLE)
               - CAST(s.s1 AS DOUBLE) / CAST(s.n AS DOUBLE))
              / sqrt(greatest(0.0,
                  (CAST(s.s2 AS DOUBLE)
                   - (CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE))
                     / CAST(s.n AS DOUBLE))
                  / (CAST(s.n AS DOUBLE) - 1.0)))
         END AS z
  FROM events e JOIN stats s ON e.event_type = s.event_type)
SELECT event_id, event_type, value, n, z
FROM enriched WHERE abs(z) > 2.5
"""


def q_ewma_values(spark, sf_dir):
    """Per-user EWMA (α = 1/4) over the events value stream — the
    inherently-sequential stateful operator (each output depends on
    the previous output), run as one ordered applyInPandas pass per
    key (operators/timeseries.py). Values are exact integer
    ten-thousandths and the recurrence uses floor division, so every
    smoothed value is bit-identical to the DuckDB oracle's recursive
    CTE replaying the same walk."""
    from smartbots_etl_facturas_spark.operators.timeseries import ewma_smooth

    ev = read_events(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value").cast("decimal(18,4)") * 10000)
        .cast("long")
        .alias("x_units"),
    )
    return ewma_smooth(ev, alpha_denom=4)


SQL_EWMA_VALUES = """
WITH RECURSIVE base AS (
  SELECT user_id, epoch_ns(ts) AS ts, event_id,
         CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS x_units,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_ns(ts), event_id) AS rn
  FROM events),
walk(user_id, rn, ts, event_id, x_units, s) AS (
  SELECT user_id, rn, ts, event_id, x_units, x_units
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.rn, b.ts, b.event_id, b.x_units,
         w.s + (b.x_units - w.s) // 4
  FROM walk w JOIN base b
    ON b.user_id = w.user_id AND b.rn = w.rn + 1)
SELECT user_id, CAST(ts AS BIGINT) AS ts, event_id, x_units,
       CAST(s AS BIGINT) AS ewma_units
FROM walk
"""


def q_incremental_agg(spark, sf_dir):
    """Incremental materialized-aggregate maintenance
    (operators/incremental.py): monoid state (cnt / decimal sums /
    min / max) built from the base partition of lineitem, then a
    disjoint delta batch merged in with ONE equi-join on the group
    keys — the full base is never re-read; cost is O(|delta| +
    touched keys) at any state size. The DuckDB oracle is a FULL
    recompute over base ∪ delta, so the check proves the incremental
    path is algebraically exact, not just shaped right."""
    from smartbots_etl_facturas_spark.operators.incremental import (
        aggregate_state,
        incremental_agg,
    )

    li = _read(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        "l_linenumber",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    base = li.filter(F.col("l_linenumber") >= 3)
    delta = li.filter(F.col("l_linenumber") <= 2)
    keys = ["l_returnflag", "l_linestatus"]
    state = aggregate_state(base, keys, sum_cols=["qty", "price"],
                            minmax_cols=["price"])
    merged = incremental_agg(state, delta, keys, sum_cols=["qty", "price"],
                             minmax_cols=["price"])
    return merged.select(
        "l_returnflag",
        "l_linestatus",
        "cnt",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("sum_price").cast("double").alias("sum_price"),
        F.col("min_price").cast("double").alias("min_price"),
        F.col("max_price").cast("double").alias("max_price"),
    )


SQL_INCREMENTAL_AGG = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
       CAST(max(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
FROM lineitem
GROUP BY 1, 2
"""


def q_training_examples_pipeline(spark, sf_dir):
    """END-TO-END training-example materialization as ONE dataflow —
    the stage AFTER corpus_curation_pipeline in a real pretraining
    prep: documents → overlapping 32-token context windows
    (operators/chunking.py, zero shuffle) → greedy 512-token sequence
    packing of the CHUNKS (operators/packing.py, one applyInPandas
    group per hash bucket). ``chunk_id = doc_id·2^20 + chunk_idx``
    (dense per doc; the 2^20 budget allows ~25M-token docs at stride
    24) gives packing a total walk order both engines can compute.
    The oracle re-derives the WHOLE chain — window boundaries, chunk
    token counts, and the exact next-fit walk via a recursive CTE —
    so the stage COMPOSITION is value-checked per chunk, including
    pack assignment and running fill."""
    from smartbots_etl_facturas_spark.operators.chunking import chunk_documents
    from smartbots_etl_facturas_spark.operators.packing import pack_greedy

    docs = _read(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=32, stride=24)
    with_meta = chunks.select(
        (F.col("doc_id") * F.lit(1 << 20) + F.col("chunk_idx")).alias("chunk_id"),
        F.col("n_chunk_tokens").alias("n_tokens"),
        (F.col("doc_id") % 8).cast("int").alias("bucket"),
    )
    packed = pack_greedy(
        with_meta, id_col="chunk_id", budget=512, bucket_col="bucket"
    )
    return packed.select(
        F.col("doc_id").alias("chunk_id"), "bucket", "pack_id",
        "n_tokens", "pack_fill",
    )


SQL_TRAINING_EXAMPLES_PIPELINE = r"""
WITH RECURSIVE t0 AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
s AS (SELECT doc_id, w, len(w) AS n FROM t0),
idx AS (
  SELECT doc_id, w, CAST(i AS INT) AS start
  FROM s, unnest(generate_series(1, greatest(n - 8, 1), 24)) AS g(i)),
chunks AS (
  SELECT doc_id * 1048576 + (start - 1) // 24 AS chunk_id,
         CAST(doc_id % 8 AS INT) AS bucket,
         CAST(len(list_slice(w, start, start + 31)) AS BIGINT) AS n_tokens
  FROM idx),
t AS (SELECT chunk_id, bucket, n_tokens,
             row_number() OVER (PARTITION BY bucket ORDER BY chunk_id) AS rn
      FROM chunks),
walk AS (
  SELECT bucket, rn, chunk_id, n_tokens, 0 AS pack, n_tokens AS fill
  FROM t WHERE rn = 1
  UNION ALL
  SELECT d.bucket, d.rn, d.chunk_id, d.n_tokens,
         CASE WHEN w.fill + d.n_tokens > 512 THEN w.pack + 1 ELSE w.pack END,
         CASE WHEN w.fill + d.n_tokens > 512 THEN d.n_tokens
              ELSE w.fill + d.n_tokens END
  FROM t d JOIN walk w ON d.bucket = w.bucket AND d.rn = w.rn + 1)
SELECT chunk_id, bucket,
       CAST(bucket * 4294967296 + pack AS BIGINT) AS pack_id,
       n_tokens, CAST(fill AS BIGINT) AS pack_fill
FROM walk
"""


def q_corpus_curation_pipeline(spark, sf_dir):
    """END-TO-END corpus curation as ONE dataflow (the LLM-pipeline
    twin of xlsx_to_consolidated): C4 length/shape gate →
    Gopher repetition gate → exact dedup (first-wins on the md5
    digest) → deterministic train/val/test hash split → per-split
    report with membership-checking id/token sums. Every stage is the
    engine's own operator (functions/text.py, operators/dedup-style
    window dedup, the hash_split rule); the oracle re-derives the
    entire chain in SQL, so the STAGE COMPOSITION — not just each
    stage — is value-checked.

    Round-10: the span-dedup REMOVAL pass (Lee et al. 2021 — detect:
    8-token windows duplicated corpus-wide among the kept docs; merge:
    island runs; remove: apply_span_cuts) now runs COMPOSED between
    exact dedup and the split report, so the per-split token mass is
    post-redaction (`total_tokens` = kept, `redacted_tokens` = cut) —
    the r9 operators exercised inside the pipeline, not only
    standalone."""
    # Per-doc gate statistics via EXPLODE + AGGREGATION, not per-row
    # array HOF trees: the HOF form (see repetition_filter, kept as
    # the single-stage demonstrator) is O(distinct*n) interpreted per
    # row AND, composed under a filter, Catalyst re-inlines the
    # tokens() split into every sub-expression reference (measured
    # 26 s vs 2 s at sf0.1). Aggregated counts are codegen'd hash
    # aggs with map-side combine — the shape that also survives long
    # documents at 100 TB.
    from smartbots_etl_facturas_spark.functions.text import shingles_from_tokens

    # the documents table ships as ONE parquet row group (unsplittable
    # scan) and every derived exchange here is MB-scale, so AQE's
    # byte-based coalescing funnels the tokenize/explode/digest work
    # — the expensive part, CPU per byte — onto one core (the "AQE
    # width collapse" pattern, tests/test_skew.py). An explicit width
    # repartition right after the read parallelizes every map stage;
    # exempt from AQE coalescing by design, keyed by doc_id so it is
    # deterministic.
    width = spark.sparkContext.defaultParallelism
    docs = (
        _read(spark, sf_dir, "documents")
        .repartition(width, "doc_id")
        .select("doc_id", "text", tokens(F.col("text")).alias("w"))
    )
    tok = docs.select(
        "doc_id", F.explode("w").alias("t"),
    )
    tok_counts = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    word_stats = tok_counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.max("c").cast("long").alias("top_count"),
        F.sum(F.length("t") * F.col("c")).cast("long").alias("char_sum"),
    )
    big = docs.select(
        "doc_id", F.explode(shingles_from_tokens("w", 2)).alias("gm")
    )
    gram_stats = big.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.countDistinct("gm").cast("long").alias("n_distinct_grams"),
    )
    # the token array w stays behind here — only (doc_id, text) ride
    # the joins/shuffles downstream (w is the largest column and
    # nothing after the stats needs it). The gram join is INNER: every
    # doc passing n_tokens >= 20 has bigrams, so a left join's null
    # branch would be dead code.
    gated = (
        docs.select("doc_id", "text")
        .join(word_stats, "doc_id")
        .join(gram_stats, "doc_id")
        .filter(
            (F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 100000)
            & ((F.col("char_sum").cast("double") / F.col("n_tokens")) >= 3.0)
            & ((F.col("char_sum").cast("double") / F.col("n_tokens")) <= 10.0)
            & ((F.col("top_count").cast("double") / F.col("n_tokens")) <= 0.2)
            & (
                (F.col("n_grams") - F.col("n_distinct_grams")).cast("double")
                / F.col("n_grams")
                <= 0.5
            )
        )
    )
    w_dig = Window.partitionBy("digest").orderBy("doc_id")
    stage3 = (
        gated.withColumn("digest", F.md5(F.encode(F.col("text"), "UTF-8")))
        .withColumn("__rn", F.row_number().over(w_dig))
        .filter(F.col("__rn") == 1)
    )
    # Stage 4 (round-10): span-dedup removal over the KEPT docs —
    # detect corpus-wide duplicated 8-token windows, merge to maximal
    # runs, cut them out. Token accounting downstream is
    # post-redaction: n_tokens_kept + n_tokens_removed == n_tokens by
    # apply_span_cuts' contract, so the report stays self-checking.
    from smartbots_etl_facturas_spark.operators.dedup import (
        apply_span_cuts,
        duplicate_span_runs,
    )

    # kept_docs feeds BOTH the cut-list detection and the redaction
    # join; un-materialized, the whole upstream (scan -> two
    # explode+agg gate subtrees -> window dedup, ~1.4 s at sf0.1) is
    # planned and executed TWICE (verified in the round-13 plan:
    # duplicated Window/HashAggregate subtrees). One eager local
    # checkpoint computes it once (the operators/graph.py lineage
    # policy), re-widened first: the digest-window exchange above is
    # KB-scale so AQE coalesces it to one partition, and a 1-partition
    # checkpoint would serialize the whole span-digest stage below.
    kept_docs = (
        stage3.select("doc_id", "text")
        .repartition(width, "doc_id")
        .localCheckpoint(eager=True)
    )
    runs = duplicate_span_runs(kept_docs, window=8, min_occurrences=2)
    red = apply_span_cuts(kept_docs, runs)
    return (
        red.select(
            _hash_split_col(F.col("doc_id")).alias("split"),
            "doc_id",
            F.col("n_tokens_kept").alias("__tok"),
            F.col("n_tokens_removed").alias("__cut"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("__tok").alias("total_tokens"),
            F.sum("__cut").alias("redacted_tokens"),
        )
    )


SQL_CORPUS_CURATION_PIPELINE = r"""
WITH t AS (
  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS w
  FROM documents),
c4 AS (
  SELECT doc_id, text, w, CAST(len(w) AS BIGINT) AS n,
         CAST(CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
              AS DOUBLE) / CAST(len(w) AS DOUBLE) AS mean_len
  FROM t),
keep1 AS (
  SELECT doc_id, text, w, n FROM c4
  WHERE n >= 20 AND n <= 100000 AND mean_len >= 3.0 AND mean_len <= 10.0),
rep AS (
  SELECT doc_id, text, n,
         CAST(list_max(list_transform(list_distinct(w),
                tkn -> len(list_filter(w, x -> x = tkn)))) AS DOUBLE)
           / len(w) AS top_frac,
         CASE WHEN len(w) >= 2
              THEN CAST(len(w) - 1
                        - len(list_distinct(list_transform(range(1, len(w)),
                              i -> w[CAST(i AS INT)] || ' '
                                   || w[CAST(i AS INT) + 1]))) AS DOUBLE)
                   / (len(w) - 1)
              ELSE 0.0 END AS dup_frac
  FROM keep1),
keep2 AS (
  SELECT doc_id, text, n FROM rep
  WHERE NOT (top_frac > 0.2 OR dup_frac > 0.5)),
dedup AS (
  SELECT doc_id, text, n,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM keep2),
kept AS (SELECT doc_id, text, n FROM dedup WHERE rn = 1),
ktoks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM kept),
kspans AS (
  SELECT doc_id, i - 1 AS start_pos,
         md5(array_to_string(w[i : i + 7], ' ')) AS span_hash
  FROM ktoks, unnest(range(1, greatest(len(w) - 6, 1))) AS t(i)
  WHERE len(w) >= 8),
khot AS (
  SELECT doc_id, start_pos
  FROM kspans
  WHERE span_hash IN (
    SELECT span_hash FROM kspans GROUP BY 1 HAVING count(*) >= 2)),
kruns AS (
  SELECT doc_id, min(start_pos) AS s, max(start_pos) + 8 AS e
  FROM (
    SELECT doc_id, start_pos,
           sum(CASE WHEN prev IS NULL OR start_pos - prev > 1
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY start_pos) AS run_id
    FROM (SELECT doc_id, start_pos,
                 lag(start_pos) OVER (PARTITION BY doc_id
                                      ORDER BY start_pos) AS prev
          FROM khot))
  GROUP BY doc_id, run_id),
kcuts AS (
  SELECT doc_id, list({'s': s, 'e': e}) AS cl FROM kruns GROUP BY doc_id),
kred AS (
  SELECT t.doc_id, t.w,
         list_filter(t.w, (tok, i) ->
           len(list_filter(coalesce(c.cl,
                 CAST([] AS STRUCT(s BIGINT, e BIGINT)[])),
               cc -> i - 1 >= cc.s AND i - 1 < cc.e)) = 0
         ) AS kw
  FROM ktoks t LEFT JOIN kcuts c ON t.doc_id = c.doc_id)
SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(len(kw)) AS BIGINT) AS total_tokens,
       CAST(sum(len(w) - len(kw)) AS BIGINT) AS redacted_tokens
FROM kred GROUP BY 1
"""


def q_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage curve (the tokenizer-design question "how
    many types cover P% of the token mass"): rank terms by corpus
    frequency, integer cumulative sums, and for each target percent
    the smallest vocabulary size reaching it. All-integer arithmetic
    (cum·100 >= total·p), so exact on both engines. Rank and running
    token mass come from the adaptive rank (operators/ranking.py):
    bounded single-window under the measured 2M-row crossover,
    two-pass range-partitioned above it — a 10M-type vocabulary never
    lands on one task."""
    toks = _read(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    # two-pass range-partitioned rank + running sum; the grand total
    # falls out of the offsets pass as a literal, so no 1-row
    # normalizer crossJoin either
    j = global_order_index(
        counts,
        [F.col("c").desc(), F.col("term").asc()],
        rank_col="rank",
        cumsum_cols={"cum": "c"},
        total_sum_cols={"total": "c"},
    )
    # ONE pass over the ranked frame: conditional mins per threshold,
    # then explode to rows (an earlier per-threshold-aggregation form
    # executed the global window three times)
    one = j.agg(*[
        F.min(
            F.when(F.col("cum") * 100 >= F.col("total") * p, F.col("rank"))
        ).alias(f"v{p}")
        for p in (50, 90, 99)
    ])
    return one.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(p).cast("long").alias("pct"),
                    F.col(f"v{p}").alias("vocab_size"),
                )
                for p in (50, 90, 99)
            ])
        ).alias("e")
    ).select("e.pct", "e.vocab_size")


SQL_VOCAB_COVERAGE = r"""
WITH toks AS (
  SELECT u.term
  FROM (SELECT string_split_regex(trim(text), '\s+') AS w FROM documents) t,
       unnest(t.w) AS u(term)),
counts AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
ranked AS (
  SELECT term, c,
         CAST(row_number() OVER (ORDER BY c DESC, term ASC) AS BIGINT) AS rnk,
         CAST(sum(c) OVER (ORDER BY c DESC, term ASC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM counts),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM counts)
SELECT CAST(p.pct AS BIGINT) AS pct, CAST(min(r.rnk) AS BIGINT) AS vocab_size
FROM (VALUES (50), (90), (99)) p(pct)
JOIN ranked r ON TRUE
CROSS JOIN tot
WHERE r.cum * 100 >= tot.total * p.pct
GROUP BY 1
"""


def q_equi_depth_bins(spark, sf_dir):
    """Per-type equi-depth (decile) bin PROFILE of the events value
    stream — round-11 migration onto histogram selection
    (operators/orderstats.py:group_equi_depth_bins): NTILE's bucket
    boundaries are pure rank arithmetic, so the per-bin count/min/max
    profile is derived from the reduced (type × distinct-value)
    cumulative frame after ONE map-side-combinable groupBy — the
    previous fact-scale NTILE window partitioned by a handful of
    event_types sorted each type's every row on one task (the
    hot-group cliff). The profile is tie-order independent (equal
    values straddling a boundary move rows, never counts or value
    bounds), so the oracle's windowed NTILE formulation agrees
    bit-for-bit without a tie column."""
    from smartbots_etl_facturas_spark.operators.orderstats import (
        group_equi_depth_bins,
    )

    ev = read_events(spark, sf_dir).select(
        "event_type",
        F.col("value").cast("decimal(18,4)").alias("v"),
    )
    bins = group_equi_depth_bins(ev, ["event_type"], "v", n_bins=10)
    return bins.select(
        "event_type",
        F.col("bin").cast("long").alias("decile"),
        F.col("n").cast("long").alias("n"),
        F.col("v_min").cast("double").alias("v_min"),
        F.col("v_max").cast("double").alias("v_max"),
    )


SQL_EQUI_DEPTH_BINS = """
WITH binned AS (
  SELECT event_type, event_id, CAST(value AS DECIMAL(18,4)) AS v,
         CAST(ntile(10) OVER (PARTITION BY event_type
                              ORDER BY CAST(value AS DECIMAL(18,4)) ASC,
                                       event_id ASC) AS BIGINT) AS decile
  FROM events)
SELECT event_type, decile,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(v) AS DOUBLE) AS v_min,
       CAST(max(v) AS DOUBLE) AS v_max
FROM binned GROUP BY 1, 2
"""


def q_embedding_normalize(spark, sf_dir):
    """Per-dimension min-max normalization of the embedding column
    (the feature-scaling step before distance-based modeling):
    per-dim bounds from posexplode + groupBy(pos) (a 64-row stats
    frame), re-assembled into ONE sorted bounds array broadcast onto
    the corpus, normalization as a JVM zip_with — no Python, no
    per-vector shuffle. min/max involve no arithmetic and the single
    (x-mn)/(mx-mn) division is IEEE-exact, so the FULL normalized
    array is value-checked. Constant dimensions map to 0."""
    emb = _read(spark, sf_dir, "embeddings")
    dims = emb.select(F.posexplode("embedding").alias("pos", "x")).select(
        "pos", F.col("x").cast("double").alias("x")
    )
    stats = dims.groupBy("pos").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    bounds = stats.agg(
        F.array_sort(F.collect_list(F.struct("pos", "mn", "mx"))).alias("b")
    )
    normalized = F.zip_with(
        F.col("embedding"),
        F.col("b"),
        lambda x, s: F.when(
            s["mx"] == s["mn"], F.lit(0.0)
        ).otherwise((x.cast("double") - s["mn"]) / (s["mx"] - s["mn"])),
    )
    out = emb.crossJoin(F.broadcast(bounds)).select(
        "vec_id", normalized.alias("scaled")
    )
    in_range = F.aggregate(
        "scaled",
        F.lit(True),
        lambda acc, v: acc & (v >= 0.0) & (v <= 1.0),
    )
    return out.select("vec_id", "scaled", in_range.alias("in_range"))


SQL_EMBEDDING_NORMALIZE = """
WITH dims AS (
  SELECT CAST(i AS INT) AS pos,
         CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x,
         vec_id
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS g(i)),
stats AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM dims GROUP BY 1),
scaled AS (
  SELECT d.vec_id, d.pos,
         CASE WHEN s.mx = s.mn THEN 0.0
              ELSE (d.x - s.mn) / (s.mx - s.mn) END AS v
  FROM dims d JOIN stats s USING (pos))
SELECT vec_id,
       list(v ORDER BY pos) AS scaled,
       bool_and(v >= 0.0 AND v <= 1.0) AS in_range
FROM scaled GROUP BY vec_id
"""


# Shared statement for the correlated-scalar-subquery surface: Spark
# decorrelates it into an aggregate + join (RewriteCorrelatedScalarSubquery);
# the mean is written as decimal-sum / count divided ONCE as doubles
# (avg() itself has engine-specific decimal rounding).
_CORRELATED_SCALAR_SQL = """
SELECT p_partkey, p_brand,
       CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS price
FROM {part} p
WHERE CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) >
      (SELECT CAST(sum(CAST(p2.p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
              / count(*)
       FROM {part} p2 WHERE p2.p_brand = p.p_brand)
"""


def q_correlated_scalar(spark, sf_dir):
    """Correlated SCALAR subquery (parts priced above their own
    brand's mean): Catalyst decorrelates the per-row subquery into a
    brand-level aggregate joined back — the rewrite every BI tool
    relies on. The IDENTICAL statement runs on DuckDB; the mean is
    decimal-sum/count divided once as doubles (engine-portable,
    unlike avg()'s decimal rounding)."""
    _read(spark, sf_dir, "part").createOrReplaceTempView("v_part_cs")
    return spark.sql(_CORRELATED_SCALAR_SQL.format(part="v_part_cs"))


SQL_CORRELATED_SCALAR = _CORRELATED_SCALAR_SQL.format(part="part")


def q_window_percentiles(spark, sf_dir):
    """Per-row percent_rank + cume_dist under SQL PEER semantics
    (ORDER BY quantity only — every row with the same quantity is a
    peer and carries the same ratios), derived WITHOUT a fact-scale
    window (round-11): both functions are pure arithmetic on the
    peer group's cumulative counts — percent_rank = (first_rank−1)/
    (n−1) where first_rank = cum − c + 1, cume_dist = cum/n — so the
    per-(flag, qty) cumulative frame (a bounded ~flags × 50-quantity
    histogram, one map-side-combinable groupBy + a reduced-frame
    window) broadcast-joins back onto the rows. The previous
    formulation ordered by a unique tie-break (orderkey/linenumber/
    partkey), which forces a per-flag total order — a single-task
    sort of each ~3-cardinality group at corpus scale; peer semantics
    are the standard SQL reading AND the scale-safe one. Single IEEE
    divisions of exact integers — engine-exact."""
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 100 == 0
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_returnflag",
        F.col("l_quantity").cast("decimal(18,2)").alias("qty_dec"),
    )
    counts = li.groupBy("l_returnflag", "qty_dec").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("qty_dec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stats = counts.select(
        "l_returnflag",
        "qty_dec",
        F.col("c"),
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(Window.partitionBy("l_returnflag")).alias("n"),
    ).select(
        "l_returnflag",
        "qty_dec",
        F.when(F.col("n") == 1, F.lit(0.0)).otherwise(
            (F.col("cum") - F.col("c")).cast("double")
            / (F.col("n") - 1).cast("double")
        ).alias("pct_rank"),
        (F.col("cum").cast("double") / F.col("n").cast("double")).alias("cume"),
    )
    return li.join(
        F.broadcast(stats), ["l_returnflag", "qty_dec"]
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_returnflag",
        F.col("qty_dec").cast("double").alias("qty"),
        "pct_rank",
        "cume",
    )


SQL_WINDOW_PERCENTILES = """
SELECT l_orderkey, l_linenumber, l_partkey, l_returnflag,
       CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS qty,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM lineitem
WHERE l_orderkey % 100 = 0
WINDOW w AS (PARTITION BY l_returnflag
             ORDER BY CAST(l_quantity AS DECIMAL(18,2)) ASC)
"""


def q_similarity_join(spark, sf_dir):
    """Exact set-similarity JOIN across two tables (entity matching /
    record linkage): all cross-table pairs with token-set Jaccard >=
    0.8 via LOSSLESS prefix filtering (AllPairs/PPJoin family —
    rarest-first canonical token order, index only each record's
    first n - ceil(tau*n) + 1 tokens, equi-join on prefix tokens,
    exact verify on candidates; operators/linkage.py). Because the
    filter is lossless the operator is EXACT, so the oracle is a full
    brute-force cross join — unlike the LSH tiers, no recall
    companion is needed."""
    from smartbots_etl_facturas_spark.operators.linkage import (
        jaccard_similarity_join,
    )

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    # small vocabulary makes this corpus near-adversarial for ANY
    # exact set-similarity join (most pairs share tokens); 1/6 of the
    # docs per side keeps the benched candidate volume honest while
    # the operator, plan shape and oracle stay identical
    left = docs.filter(F.col("doc_id") % 6 == 0)
    right = docs.filter(F.col("doc_id") % 6 == 3)
    return jaccard_similarity_join(left, right, threshold=0.8)


SQL_SIMILARITY_JOIN = r"""
WITH l AS (
  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS t
  FROM documents WHERE doc_id % 6 = 0),
r AS (
  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS t
  FROM documents WHERE doc_id % 6 = 3)
SELECT l.doc_id AS left_id, r.doc_id AS right_id,
       CAST(len(list_intersect(l.t, r.t)) AS DOUBLE)
         / CAST(len(list_distinct(l.t || r.t)) AS DOUBLE) AS jaccard
FROM l CROSS JOIN r
WHERE CAST(len(list_intersect(l.t, r.t)) AS DOUBLE)
        / CAST(len(list_distinct(l.t || r.t)) AS DOUBLE) >= 0.8
"""


def q_event_runs(spark, sf_dir):
    """Gaps-and-islands (run-length encoding of the event stream):
    consecutive same-type events per user collapse to one row with
    length and time bounds — change flags via lag, run ids via a
    running sum, both windows PARTITIONED BY user_id over the total
    (ts, event_id) order."""
    ev = read_events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = (
        ~F.col("event_type").eqNullSafe(F.lag("event_type").over(w))
        | (F.row_number().over(w) == 1)
    )
    runs = ev.withColumn("__run", F.sum(chg.cast("long")).over(w))
    return runs.groupBy("user_id", "__run", "event_type").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
    ).select("user_id", "event_type", "run_len", "start_ts", "end_ts")


SQL_EVENT_RUNS = """
WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts) AS ts, event_id FROM events),
flagged AS (
  SELECT *,
         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                   OR row_number() OVER w = 1
              THEN 1 ELSE 0 END AS chg
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
runs AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS run_id
  FROM flagged)
SELECT user_id, event_type,
       CAST(count(*) AS BIGINT) AS run_len,
       CAST(min(ts) AS BIGINT) AS start_ts,
       CAST(max(ts) AS BIGINT) AS end_ts
FROM runs GROUP BY user_id, run_id, event_type
"""


def q_event_runs_udtf(spark, sf_dir):
    """The SAME run-length encoding via a TABLE-argument Python UDTF
    (Spark 4): ``event_runs(TABLE(v) PARTITION BY user_id ORDER BY
    ts, event_id)`` streams each user's ordered events through one
    UDTF instance holding a single open run
    (functions/udx.py:event_runs_udtf) — the imperative
    per-partition escape hatch, value-checked against the identical
    oracle as the pure-window formulation above."""
    from smartbots_etl_facturas_spark.functions.udx import event_runs_udtf

    spark.udtf.register("event_runs_rle", event_runs_udtf())
    read_events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id"
    ).createOrReplaceTempView("v_events_runs")
    return spark.sql(
        "SELECT * FROM event_runs_rle(TABLE(v_events_runs) "
        "PARTITION BY user_id ORDER BY (ts, event_id))"
    )


def q_rolling_window_revenue(spark, sf_dir):
    """Trailing TIME-RANGE window (not row-count): per user, the sum
    of value and event count over the preceding 24 hours at each
    event — ``rangeBetween`` on the int64 nanos order column, so the
    frame is defined by TIME distance and handles irregular event
    spacing (the rows-frame running_total query is the
    fixed-row-count sibling). Exact decimal sums; windows PARTITIONED
    BY user_id."""
    ev = read_events(spark, sf_dir).select(
        "user_id", "ts", "event_id",
        F.col("value").cast("decimal(18,4)").alias("v"),
    )
    day_ns = 24 * 3600 * 1_000_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(-day_ns, 0)
    )
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        F.sum("v").over(w).cast("double").alias("sum_24h"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_24h"),
    )


SQL_ROLLING_WINDOW_REVENUE = """
SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) AS ts, event_id,
       CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_24h,
       CAST(count(*) OVER w AS BIGINT) AS n_24h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts)
             RANGE BETWEEN 86400000000000 PRECEDING AND CURRENT ROW)
"""


def q_frame_sample(spark, sf_dir):
    """Video frame-sampling PLAN (the explode-shaped fan-out a real
    sampler uses; decode stubbed — frame count derived
    deterministically from payload size, since no video codec is
    expressible with the stdlib): one row per sampled frame index of
    each synthetic video payload (sources/multimodal.py:
    frame_sample_plan + synthetic_media). Deterministic payloads make
    every sampled index a literal the oracle pins."""
    from smartbots_etl_facturas_spark.sources.multimodal import (
        frame_sample_plan,
        synthetic_media,
    )

    media = synthetic_media(spark, 24)
    return frame_sample_plan(media, every_n=30).select(
        "media_id", "frame_idx", "mime"
    )


def _frame_sample_oracle() -> str:
    rows = []
    for i in range(24):
        if ("image", "audio", "video")[i % 3] != "video":
            continue
        payload_len = 32 * (4 + i % 7)       # sha256 digest * (4 + i%7)
        n_frames = payload_len % 300 + 1
        for idx in range(0, n_frames, 30):
            rows.append(
                f"SELECT CAST({i} AS BIGINT) AS media_id, "
                f"CAST({idx} AS INT) AS frame_idx, "
                f"'application/x-video' AS mime"
            )
    return "\nUNION ALL\n".join(rows)


SQL_FRAME_SAMPLE = _frame_sample_oracle()


def q_dq_checks(spark, sf_dir):
    """Data-quality assertion suite (dbt-tests-shaped, as dataflow —
    operators/quality.py): uniqueness of the orders PK, not-null and
    accepted-values on status columns, and customer→nation
    referential integrity — each check one aggregation, unioned into
    a single report frame a publish can gate on. The orders PK is
    genuinely non-unique in this synthetic table, so the fail path is
    exercised with a real violation count, not just TRUEs."""
    from smartbots_etl_facturas_spark.operators.quality import (
        check_accepted_values,
        check_not_null,
        check_referential,
        check_unique,
        run_checks,
    )

    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    return run_checks([
        check_unique(orders, ["o_orderkey"]),
        check_not_null(orders, "o_custkey"),
        check_accepted_values(orders, "o_orderstatus", ["O", "F", "P"]),
        check_referential(customer, "c_nationkey", nation, "n_nationkey"),
    ])


SQL_DQ_CHECKS = """
SELECT 'unique:o_orderkey' AS check_name,
       CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS n_violations,
       coalesce(sum(n - 1), 0) = 0 AS passed
FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
UNION ALL
SELECT 'not_null:o_custkey',
       CAST(count(*) AS BIGINT),
       count(*) = 0
FROM orders WHERE o_custkey IS NULL
UNION ALL
SELECT 'accepted_values:o_orderstatus',
       CAST(count(*) AS BIGINT),
       count(*) = 0
FROM orders WHERE o_orderstatus NOT IN ('O', 'F', 'P') OR o_orderstatus IS NULL
UNION ALL
SELECT 'referential:c_nationkey',
       CAST(count(*) AS BIGINT),
       count(*) = 0
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
"""


def q_table_diff(spark, sf_dir):
    """PK-level table reconciliation (the datafold-style diff every
    migration runs before cutover): two lineitem-derived snapshots —
    "yesterday" (linenumber >= 2) vs "today" (linenumber <= 6, with
    every partkey%5 row's quantity bumped) — compared by full-outer
    join on the PK with null-safe value comparison, reported as
    added/removed/changed/unchanged counts (zero-count statuses still
    emitted)."""
    from smartbots_etl_facturas_spark.operators.quality import table_diff

    # lineitem carries duplicate (orderkey, linenumber) pairs: collapse
    # deterministically (min aggregates), never dropDuplicates (which
    # keeps an arbitrary survivor)
    li = (
        _read(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.min(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"),
            F.min("l_partkey").alias("l_partkey"),
        )
    )
    old = li.filter(F.col("l_linenumber") >= 2)
    new = li.filter(F.col("l_linenumber") <= 6).withColumn(
        "qty",
        F.when(F.col("l_partkey") % 5 == 0, F.col("qty") + 1).otherwise(F.col("qty")),
    )
    return table_diff(old, new, ["l_orderkey", "l_linenumber"], ["qty"])


SQL_TABLE_DIFF = """
WITH d AS (
  SELECT l_orderkey, l_linenumber,
         min(CAST(l_quantity AS DECIMAL(18,2))) AS qty,
         min(l_partkey) AS l_partkey
  FROM lineitem GROUP BY 1, 2),
old AS (SELECT l_orderkey, l_linenumber, qty FROM d WHERE l_linenumber >= 2),
new AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_partkey % 5 = 0 THEN qty + 1 ELSE qty END AS qty
  FROM d WHERE l_linenumber <= 6),
joined AS (
  SELECT CASE WHEN o.l_orderkey IS NULL THEN 'added'
              WHEN n.l_orderkey IS NULL THEN 'removed'
              WHEN o.qty IS NOT DISTINCT FROM n.qty THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM old o FULL OUTER JOIN new n
    ON o.l_orderkey = n.l_orderkey AND o.l_linenumber = n.l_linenumber)
SELECT s.status, CAST(coalesce(j.n_rows, 0) AS BIGINT) AS n_rows
FROM (VALUES ('added'), ('removed'), ('changed'), ('unchanged')) s(status)
LEFT JOIN (SELECT status, count(*) AS n_rows FROM joined GROUP BY 1) j
  ON s.status = j.status
"""


def q_attribution_last_touch(spark, sf_dir):
    """Last-touch conversion attribution: each purchase event joined
    to the user's latest click at-or-before it — the marketing
    attribution query, expressed as a REUSE of the as-of join
    operator (operators/asof.py; union-bucket merge, no windows over
    the full stream). Unattributed purchases (no prior click) keep a
    NULL click ts."""
    ev = read_events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id",
        F.col("value").cast("decimal(18,4)").cast("double").alias("amount"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(
        purchases, clicks, on="user_id", ts_col="ts",
        payload_cols=["click_id"], tiebreak="click_id",
    )
    return out.select(
        "user_id", "ts", "event_id", "amount",
        F.col("matched_ts").alias("click_ts"),
        F.col("matched_click_id").alias("click_id"),
    )


SQL_ATTRIBUTION_LAST_TOUCH = """
WITH p AS (
  SELECT user_id, epoch_ns(ts) AS ts, event_id,
         CAST(CAST(value AS DECIMAL(18,4)) AS DOUBLE) AS amount
  FROM events WHERE event_type = 'purchase'),
c AS (
  SELECT user_id, epoch_ns(ts) AS ts, event_id AS click_id
  FROM events WHERE event_type = 'click'),
m AS (
  SELECT p.user_id, p.ts, p.event_id, p.amount, c.ts AS click_ts,
         c.click_id,
         row_number() OVER (PARTITION BY p.user_id, p.event_id
                            ORDER BY c.ts DESC, c.click_id DESC) AS rn
  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts)
SELECT user_id, CAST(ts AS BIGINT) AS ts, event_id, amount,
       CAST(click_ts AS BIGINT) AS click_ts, click_id
FROM m WHERE rn = 1
"""


def q_revenue_share(spark, sf_dir):
    """Percent-of-total (ratio-to-report) window: each user's share of
    their event_type's total value — exact decimal sums on both the
    numerator (per user+type agg) and denominator (partition-total
    window over the AGGREGATED frame, one row per user+type), divided
    once as doubles."""
    ev = read_events(spark, sf_dir).select(
        "user_id", "event_type", F.col("value").cast("decimal(18,4)").alias("v")
    )
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum("v").alias("user_total")
    )
    w = Window.partitionBy("event_type")
    return per_user.select(
        "event_type",
        "user_id",
        F.col("user_total").cast("double").alias("user_total"),
        (
            F.col("user_total").cast("double")
            / F.sum("user_total").over(w).cast("double")
        ).alias("share"),
    )


SQL_REVENUE_SHARE = """
WITH per_user AS (
  SELECT event_type, user_id,
         sum(CAST(value AS DECIMAL(18,4))) AS user_total
  FROM events GROUP BY 1, 2)
SELECT event_type, user_id,
       CAST(user_total AS DOUBLE) AS user_total,
       CAST(user_total AS DOUBLE)
         / CAST(sum(user_total) OVER (PARTITION BY event_type) AS DOUBLE)
         AS share
FROM per_user
"""


def q_contrastive_pairs(spark, sf_dir):
    """Contrastive training-pair mining (the SimCSE/CLIP-style data
    prep step): per anchor document, ONE positive (its most-similar
    pool document by token Jaccard >= 0.7, from the exact
    similarity-join operator, ties to the lower id) and ONE negative
    drawn from the pool via a deterministic 52-bit md5 BUCKET draw:
    pool documents post once to hash buckets, each bucket keeps its
    min-id representative (a keyed aggregation, deliberately NOT a
    global pool ranking, which would be a corpus-scale global sort),
    and the anchor joins its drawn bucket — no RNG state, membership
    reproducible on any engine. Anchors with no qualifying positive
    (or an empty drawn bucket) keep NULLs."""
    from smartbots_etl_facturas_spark.operators.linkage import (
        jaccard_similarity_join,
    )

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    anchors = docs.filter(F.col("doc_id") % 6 == 0)
    pool = docs.filter(F.col("doc_id") % 6 == 3)
    sims = jaccard_similarity_join(anchors, pool, threshold=0.7)
    w = Window.partitionBy("left_id").orderBy(
        F.col("jaccard").desc(), F.col("right_id").asc()
    )
    pos = (
        sims.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("left_id").alias("doc_id"),
            F.col("right_id").alias("pos_id"),
            F.col("jaccard").alias("pos_jaccard"),
        )
    )
    u52 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
    ).cast("long")
    n_buckets = 32
    pool_reps = (
        pool.select(F.col("doc_id").alias("neg_id"),
                    (u52 % n_buckets).alias("__bucket"))
        .groupBy("__bucket")
        .agg(F.min("neg_id").alias("neg_id"))
    )
    return (
        anchors.select("doc_id", (u52 % n_buckets).alias("__bucket"))
        .join(F.broadcast(pool_reps), "__bucket", "left")
        .join(pos, "doc_id", "left")
        .select("doc_id", "pos_id", "pos_jaccard", "neg_id")
    )


SQL_CONTRASTIVE_PAIRS = r"""
WITH a AS (
  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS t
  FROM documents WHERE doc_id % 6 = 0),
p AS (
  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS t
  FROM documents WHERE doc_id % 6 = 3),
sims AS (
  SELECT a.doc_id, p.doc_id AS pos_id,
         CAST(len(list_intersect(a.t, p.t)) AS DOUBLE)
           / CAST(len(list_distinct(a.t || p.t)) AS DOUBLE) AS jaccard
  FROM a CROSS JOIN p
  WHERE CAST(len(list_intersect(a.t, p.t)) AS DOUBLE)
          / CAST(len(list_distinct(a.t || p.t)) AS DOUBLE) >= 0.7),
pos AS (
  SELECT doc_id, pos_id, jaccard AS pos_jaccard
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY jaccard DESC, pos_id ASC) AS rn
        FROM sims)
  WHERE rn = 1),
pool_reps AS (
  SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
              AS BIGINT) % 32 AS bucket,
         min(doc_id) AS neg_id
  FROM p GROUP BY 1),
drawn AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
              AS BIGINT) % 32 AS bucket
  FROM a)
SELECT d.doc_id, pos.pos_id, pos.pos_jaccard, rp.neg_id
FROM drawn d
LEFT JOIN pool_reps rp ON rp.bucket = d.bucket
LEFT JOIN pos ON pos.doc_id = d.doc_id
"""


def q_equi_width_histogram(spark, sf_dir):
    """Per-type equi-WIDTH histogram (the profiling sibling of the
    equi-depth deciles): 16 buckets over each event_type's [min, max]
    value range, bucket index computed in EXACT integer arithmetic on
    ten-thousandth units — ((v - min) * 16) div (range + 1) — so
    bucket membership is engine-identical with no float boundary
    anywhere. Group bounds come from one keyed agg broadcast back;
    empty buckets are simply absent on both sides."""
    ev = read_events(spark, sf_dir).select(
        "event_type",
        (F.col("value").cast("decimal(18,4)") * 10000).cast("long").alias("u"),
    )
    bounds = ev.groupBy("event_type").agg(
        F.min("u").alias("lo"), F.max("u").alias("hi")
    )
    joined = ev.join(F.broadcast(bounds), "event_type")
    bucket = F.expr("((u - lo) * 16) div (hi - lo + 1)").cast("long")
    return (
        joined.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_EQUI_WIDTH_HISTOGRAM = """
WITH e AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS u
  FROM events),
b AS (SELECT event_type, min(u) AS lo, max(u) AS hi FROM e GROUP BY 1)
SELECT e.event_type,
       CAST((e.u - b.lo) * 16 // (b.hi - b.lo + 1) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n
FROM e JOIN b ON e.event_type = b.event_type
GROUP BY 1, 2
"""


def q_source_mixture(spark, sf_dir):
    """Training-mixture balancing (the Pile/ROOTS-style source
    weighting step): given target token-mass proportions over source
    groups, derive per-group keep rates that take ALL of the most
    under-represented group and hash-downsample the rest —
    r_g = C·p_g/T_g with C = min_g(T_g/p_g) — then apply them with
    the same deterministic md5 16-bit uniform as stratified_sample.
    Entirely dataflow: group masses are a groupBy agg, C a 1-row agg
    broadcast back, rates a broadcast join onto the corpus — no
    driver-side collect, so the same plan runs at any corpus size.
    Report: per-group kept docs/tokens + the applied rate."""
    docs = _read(spark, sf_dir, "documents")
    grp = (F.substring("source", 4, 10).cast("int") % 3).alias("grp")
    p = (
        F.when(F.col("grp") == 0, 0.6)
        .when(F.col("grp") == 1, 0.3)
        .otherwise(0.1)
    )
    u16 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("long")
    d = docs.select(
        "doc_id", grp, token_count(F.col("text")).alias("n_tokens"), u16.alias("u16")
    )
    mass = d.groupBy("grp").agg(F.sum("n_tokens").alias("T")).withColumn("p", p)
    c = mass.agg(F.min(F.col("T") / F.col("p")).alias("C"))
    rates = mass.crossJoin(F.broadcast(c)).select(
        "grp",
        F.least(F.lit(1.0), F.col("C") * F.col("p") / F.col("T")).alias("r"),
    )
    kept = d.join(F.broadcast(rates), "grp").filter(
        F.col("u16") < F.col("r") * 65536
    )
    return kept.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
        F.round(F.first("r"), 9).alias("rate"),
    )


SQL_SOURCE_MIXTURE = r"""
WITH d AS (
  SELECT doc_id,
         CAST(substr(source, 4) AS INT) % 3 AS grp,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
          + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
          + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) AS u16
  FROM documents),
mass AS (
  SELECT grp, sum(n_tokens) AS T,
         CASE grp WHEN 0 THEN 0.6 WHEN 1 THEN 0.3 ELSE 0.1 END AS p
  FROM d GROUP BY grp),
c AS (SELECT min(T / p) AS C FROM mass),
rates AS (SELECT grp, least(1.0, c.C * p / T) AS r FROM mass, c),
kept AS (SELECT d.*, r FROM d JOIN rates USING (grp) WHERE u16 < r * 65536)
SELECT grp, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_kept,
       round(any_value(r), 9) AS rate
FROM kept GROUP BY grp
"""


def q_repetition_filter(spark, sf_dir):
    """Intra-document repetition quality filters (Gopher §A1.1):
    most-frequent-token fraction and duplicate-2-gram fraction per
    document, with the boilerplate flag a corpus pass would filter
    on. Array higher-order functions only — no shuffle, no Python."""
    from smartbots_etl_facturas_spark.functions.text import (
        repetition_metrics,
        shingles_from_tokens,
        tokens,
    )

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("w")
    )
    docs = docs.select("doc_id", "w", shingles_from_tokens("w", 2).alias("g"))
    m = repetition_metrics("w", "g")
    return docs.select(
        "doc_id",
        m.getField("n_tokens").alias("n_tokens"),
        F.round(m.getField("top_token_frac"), 9).alias("top_token_frac"),
        F.round(m.getField("dup_2gram_frac"), 9).alias("dup_2gram_frac"),
        (
            (m.getField("top_token_frac") > 0.2)
            | (m.getField("dup_2gram_frac") > 0.5)
        ).alias("repetitive"),
    )


SQL_REPETITION_FILTER = r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
g AS (
  SELECT doc_id, w,
         list_transform(range(1, len(w)),
                        i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]) AS grams
  FROM t),
m AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(list_max(list_transform(list_distinct(w),
                tkn -> len(list_filter(w, x -> x = tkn)))) AS DOUBLE)
           / len(w) AS top_token_frac,
         CASE WHEN len(grams) > 0
              THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
              ELSE 0.0 END AS dup_2gram_frac
  FROM g)
SELECT doc_id, n_tokens,
       round(top_token_frac, 9) AS top_token_frac,
       round(dup_2gram_frac, 9) AS dup_2gram_frac,
       (top_token_frac > 0.2 OR dup_2gram_frac > 0.5) AS repetitive
FROM m
"""


def q_png_image_pipeline(spark, sf_dir):
    """REAL image decode through the multimodal pipeline: gradient
    PNGs encoded with the stdlib codec (sources/multimodal.py
    png_encode), shipped as binary payloads, decoded inside
    mapInPandas (decoder='png' — actual IHDR + unfiltered pixels, no
    image library), then resized (nearest-neighbor numpy gather) and
    re-decoded to verify the emitted PNG. Dimensions are
    deterministic, so the oracle pins exact values."""
    import numpy as np

    from smartbots_etl_facturas_spark.sources.multimodal import (
        extract_image_features,
        png_decode,
        png_encode,
        resize_images,
    )

    def gradient(h, w, ch):
        y = np.arange(h, dtype=np.uint32)[:, None, None]
        x = np.arange(w, dtype=np.uint32)[None, :, None]
        c = np.arange(ch, dtype=np.uint32)[None, None, :]
        return ((y * 7 + x * 13 + c * 101) % 256).astype(np.uint8)

    rows = [
        (i, "image", bytearray(png_encode(gradient(16 + i, 10 + 2 * i, 3))),
         "image/png", f"mem://{i}")
        for i in range(6)
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, media_type string, content binary, "
        "mime string, source_uri string",
    )
    feats = extract_image_features(media, decoder="png").select(
        "media_id", "width", "height", "channels"
    )
    # round-trip the resize stage: decode the emitted PNG again and
    # report ITS dimensions (proves the bytes out are a valid PNG of
    # the target size, not just a passthrough)
    resized = resize_images(media, width=8, height=6, decoder="png")
    schema = "media_id long, rw int, rh int, rch int"

    def _verify(batches):
        import pandas as pd

        for pdf in batches:
            dims = pdf["resized"].map(lambda b: png_decode(bytes(b)).shape)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "rw": dims.map(lambda s: s[1]).astype("Int32"),
                "rh": dims.map(lambda s: s[0]).astype("Int32"),
                "rch": dims.map(lambda s: s[2]).astype("Int32"),
            })

    rdims = resized.mapInPandas(_verify, schema)
    return feats.join(rdims, "media_id").select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("channels").cast("long").alias("channels"),
        F.col("rw").cast("long").alias("resized_w"),
        F.col("rh").cast("long").alias("resized_h"),
        F.col("rch").cast("long").alias("resized_ch"),
    )


SQL_PNG_IMAGE_PIPELINE = "\nUNION ALL\n".join(
    f"SELECT CAST({i} AS BIGINT) AS media_id, CAST({10 + 2 * i} AS BIGINT) AS width, "
    f"CAST({16 + i} AS BIGINT) AS height, CAST(3 AS BIGINT) AS channels, "
    "CAST(8 AS BIGINT) AS resized_w, CAST(6 AS BIGINT) AS resized_h, "
    "CAST(3 AS BIGINT) AS resized_ch"
    for i in range(6)
)


#: pHash family id arithmetic: media_id = doc_id·4 + variant
#: (variant 0 = base, 1 = exact byte copy, 2 = near copy with a +16
#: 4×4 patch; family = media_id div 4, seed = family). Multiplicative
#: encoding is MAGNITUDE-PROOF: it stays correct for any doc_id —
#: including the scale experiment's billion-offset replicas, where an
#: additive offset scheme would mis-decode variants and collide noise
#: seeds across replicas (round-12 review).


def _phash_base_docs(spark, sf_dir):
    return _read(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") % 20 == 0
    )


def _phash_media(docs, variants):
    """One deterministic sha256-noise 32×32 PNG per (doc, variant),
    rendered Arrow-batched IN EXECUTORS (stdlib codec) — variant 2
    perturbs a 4×4 patch by +16 (measured: ≤ 6 Hamming bits from its
    base over 250 seeds; cross-family minimum 14)."""
    arr = F.array(*[
        F.struct((F.col("doc_id") * 4 + F.lit(v)).alias("media_id"))
        for v in variants
    ])
    vdf = docs.select(F.explode(arr).alias("v")).select("v.media_id")

    def _render(batches):
        import hashlib as _hl

        import numpy as np
        import pandas as pd

        from smartbots_etl_facturas_spark.sources.multimodal import (
            png_encode,
        )

        def noise(seed: int):
            out = b""
            i = 0
            while len(out) < 1024:
                out += _hl.sha256(f"{seed}:{i}".encode()).digest()
                i += 1
            return np.frombuffer(out[:1024], dtype=np.uint8).reshape(
                32, 32
            ).copy()

        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                img = noise(mid // 4)
                if mid % 4 == 2:              # near copy: small patch
                    img[4:8, 4:8] = np.minimum(
                        img[4:8, 4:8].astype(np.int64) + 16, 255
                    ).astype(np.uint8)
                payloads.append(bytearray(png_encode(img)))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "content": payloads}
            )

    return vdf.mapInPandas(_render, "media_id long, content binary")


def q_phash_dedup(spark, sf_dir):
    """Image perceptual-hash near-dup dedup (round-12 verdict #8) —
    the IMAGE twin of minhash/simhash text dedup, end to end through
    the real multimodal plumbing: one sha256-noise 32×32 PNG per
    sampled document (rendered Arrow-batched in executors, stdlib
    codec), plus an EXACT byte copy and a NEAR copy (one 4×4 patch
    +16) per base; integer-DCT pHash over decoded pixels
    (operators/phash.py — exact int64 arithmetic, bit-reproducible);
    Hamming-band candidate join (8 bands × 8 bits, lossless for
    d ≤ 7 by pigeonhole — never all-pairs, plan-asserted in
    tests/test_multimodal.py); exact bit_count verify. Ships the
    invariant row the construction guarantees: every exact pair found
    at Hamming 0, every near pair found within 7 (measured max 6 over
    250 seeds, cross-family minimum 14), zero cross-family pairs.
    ``n_base`` recomputed by the oracle."""
    from smartbots_etl_facturas_spark.operators.phash import (
        phash_images,
        phash_near_pairs,
    )

    docs = _phash_base_docs(spark, sf_dir)
    media = _phash_media(docs, (0, 1, 2))
    pairs = phash_near_pairs(phash_images(media), max_distance=7, bands=8)
    same = F.expr("id_a div 4") == F.expr("id_b div 4")
    vsum = F.pmod(F.col("id_a"), F.lit(4)) + F.pmod(F.col("id_b"), F.lit(4))
    agg = pairs.agg(
        F.sum(F.when(same & (vsum == 1) & (F.col("hamming") == 0), 1)
              .otherwise(0)).alias("n_exact0"),
        F.sum(F.when(same & (vsum == 2), 1).otherwise(0)).alias("n_nb"),
        F.sum(F.when(same & (vsum == 3), 1).otherwise(0)).alias("n_ne"),
        F.sum(F.when(~same, 1).otherwise(0)).alias("n_cross"),
    )
    nb = docs.agg(F.count(F.lit(1)).cast("long").alias("n_base"))
    return nb.crossJoin(agg).select(
        "n_base",
        (F.col("n_exact0") == F.col("n_base")).alias("exact_pairs_ok"),
        ((F.col("n_nb") == F.col("n_base"))
         & (F.col("n_ne") == F.col("n_base"))).alias("near_pairs_ok"),
        (F.col("n_cross") == 0).alias("no_cross_pairs"),
    )


SQL_PHASH_DEDUP = """
SELECT CAST(count(*) AS BIGINT) AS n_base, TRUE AS exact_pairs_ok,
       TRUE AS near_pairs_ok, TRUE AS no_cross_pairs
FROM documents WHERE doc_id % 20 = 0
"""


_PHASH_INDEX_CACHE: dict[str, str] = {}


def ensure_phash_index(spark, sf_dir: str) -> str:
    """Build-once half of the image-dedup incremental split: persist
    the Hamming-band postings + hash table of the STANDING corpus
    (base + exact-copy images) through the versioned sink
    (operators/phash.py:build_phash_index), once per process — the
    image member of the persisted-index family (minhash / BM25 / HLL /
    KLL / IVF-PQ). Cached per process, so once built,
    phash_incremental times the per-batch probe only."""
    base = _PHASH_INDEX_CACHE.get(sf_dir)
    if base is None:
        from smartbots_etl_facturas_spark.operators.phash import (
            build_phash_index,
            phash_images,
        )

        base = _scratch_dir("phash_index_")
        corpus = _phash_media(_phash_base_docs(spark, sf_dir), (0, 1))
        build_phash_index(phash_images(corpus), base, bands=8)
        _PHASH_INDEX_CACHE[sf_dir] = base
    return base


def q_phash_incremental(spark, sf_dir):
    """INCREMENTAL image near-dup matching: the arriving batch (the
    near-copy variant of every sampled document) is pHashed ALONE —
    never re-decoding the standing corpus — and probes the PERSISTED
    band postings (ensure_phash_index); candidates exact-verify by one
    xor + bit_count against the stored hash column. Per-batch cost is
    O(|Δ| + candidates) at any corpus size, the dedup_index.py
    discipline applied to images. Invariants shipped: every delta
    matches EXACTLY its base and exact-copy family members (2·n_base
    matches, each within Hamming 7), zero cross-family matches;
    ``n_base`` recomputed by the oracle."""
    from smartbots_etl_facturas_spark.operators.phash import (
        phash_images,
        phash_match_against_index,
    )

    base = ensure_phash_index(spark, sf_dir)
    delta = _phash_media(_phash_base_docs(spark, sf_dir), (2,))
    matches = phash_match_against_index(
        phash_images(delta), base, max_distance=7
    )
    same = F.expr("delta_id div 4") == F.expr("corpus_id div 4")
    per_delta = matches.groupBy("delta_id").agg(
        F.count(F.lit(1)).alias("c"),
        F.min(same.cast("int")).alias("all_same"),
    )
    agg = per_delta.agg(
        F.count(F.lit(1)).cast("long").alias("n_delta_matched"),
        F.min("c").alias("min_c"),
        F.max("c").alias("max_c"),
        F.min("all_same").alias("same_ok"),
    )
    nb = _phash_base_docs(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_base")
    )
    return nb.crossJoin(agg).select(
        "n_base",
        (F.col("n_delta_matched") == F.col("n_base")).alias("coverage_ok"),
        ((F.col("min_c") == 2) & (F.col("max_c") == 2)).alias("family_ok"),
        (F.col("same_ok") == 1).alias("no_cross_matches"),
    )


SQL_PHASH_INCREMENTAL = """
SELECT CAST(count(*) AS BIGINT) AS n_base, TRUE AS coverage_ok,
       TRUE AS family_ok, TRUE AS no_cross_matches
FROM documents WHERE doc_id % 20 = 0
"""


def q_audio_fingerprint_dedup(spark, sf_dir):
    """AUDIO near-dup dedup (round-12) — the third member of the
    near-dup triad (text minhash/simhash, image pHash): exact-integer
    Haitsma-Kalker fingerprint words (operators/audiofp.py — band-
    energy difference-of-difference signs over decoded PCM16, no
    float anywhere) matched by the (frame_idx, word) equi-join. One
    sha256-noise WAV per sampled document, rendered in executors,
    with three derived variants per base: an EXACT byte copy, an
    amplitude-DOUBLED copy (provably identical words — energies scale
    by 4, every difference sign preserved), and a one-frame-corrupted
    NEAR copy (provably ≤ 2 of the 31 words differ). Invariants
    shipped: every family contributes exactly its 6 in-family pairs
    (the three full-31 matches and the three ≥ 29 near matches), zero
    cross-family pairs (cross word collisions: measured max 0 over
    250 seeds on 32-bit words). ``n_base`` recomputed by the oracle;
    media_id = doc_id·4 + variant (the magnitude-proof encoding)."""
    from smartbots_etl_facturas_spark.operators.audiofp import (
        afp_near_pairs,
        audio_fingerprints,
    )

    docs = _phash_base_docs(spark, sf_dir)
    media = _afp_media(docs, (0, 1, 2, 3))
    pairs = afp_near_pairs(audio_fingerprints(media), min_matches=29)
    same = F.expr("id_a div 4") == F.expr("id_b div 4")
    near = (F.pmod(F.col("id_a"), F.lit(4)) == 3) | (
        F.pmod(F.col("id_b"), F.lit(4)) == 3
    )
    agg = pairs.agg(
        F.sum(F.when(same & ~near & (F.col("n_matched") == 31), 1)
              .otherwise(0)).alias("n_full"),
        F.sum(F.when(same & near, 1).otherwise(0)).alias("n_near"),
        F.sum(F.when(~same, 1).otherwise(0)).alias("n_cross"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    nb = docs.agg(F.count(F.lit(1)).cast("long").alias("n_base"))
    return nb.crossJoin(agg).select(
        "n_base",
        (F.col("n_full") == 3 * F.col("n_base")).alias("full_pairs_ok"),
        (F.col("n_near") == 3 * F.col("n_base")).alias("near_pairs_ok"),
        (F.col("n_cross") == 0).alias("no_cross_pairs"),
        (F.col("n_pairs") == 6 * F.col("n_base")).alias("pair_count_ok"),
    )


SQL_AUDIO_FINGERPRINT_DEDUP = """
SELECT CAST(count(*) AS BIGINT) AS n_base, TRUE AS full_pairs_ok,
       TRUE AS near_pairs_ok, TRUE AS no_cross_pairs,
       TRUE AS pair_count_ok
FROM documents WHERE doc_id % 20 = 0
"""


_AFP_INDEX_CACHE: dict[str, str] = {}


def ensure_afp_index(spark, sf_dir: str) -> str:
    """Build-once half of the audio-dedup incremental split: persist
    the fingerprint postings of the STANDING corpus (base + exact +
    amplitude-doubled recordings) through the versioned sink
    (operators/audiofp.py:build_afp_index), once per process — the
    audio member of the persisted-index family. Cached per process,
    so once built, audio_fp_incremental times the per-batch probe
    only."""
    base = _AFP_INDEX_CACHE.get(sf_dir)
    if base is None:
        from smartbots_etl_facturas_spark.operators.audiofp import (
            audio_fingerprints,
            build_afp_index,
        )

        base = _scratch_dir("afp_index_")
        corpus = _afp_media(_phash_base_docs(spark, sf_dir), (0, 1, 2))
        build_afp_index(audio_fingerprints(corpus), base)
        _AFP_INDEX_CACHE[sf_dir] = base
    return base


def _afp_media(docs, variants):
    """One deterministic sha256-noise WAV per (doc, variant) —
    variant 0/1 identical PCM, 2 amplitude-doubled (provably the same
    fingerprint words), 3 one-frame-corrupted (provably <= 2 words
    differ); media_id = doc_id*4 + variant."""
    arr = F.array(*[
        F.struct((F.col("doc_id") * 4 + F.lit(v)).alias("media_id"))
        for v in variants
    ])
    vdf = docs.select(F.explode(arr).alias("v")).select("v.media_id")

    def _render(batches):
        import hashlib as _hl

        import numpy as np
        import pandas as pd

        from smartbots_etl_facturas_spark.sources.multimodal import (
            wav_encode,
        )

        n = 4224

        def pcm(seed: int):
            out = b""
            i = 0
            while len(out) < n * 2:
                out += _hl.sha256(f"a:{seed}:{i}".encode()).digest()
                i += 1
            x = np.frombuffer(out[: n * 2], dtype="<i2").astype(np.int64)
            return np.clip(x // 4, -8192, 8191)

        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                x = pcm(mid // 4)
                v = mid % 4
                if v == 2:
                    x = x * 2
                elif v == 3:
                    x = x.copy()
                    seg = n // 32
                    x[10 * seg:11 * seg] = 0
                payloads.append(bytearray(wav_encode(x.astype(np.int16))))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "content": payloads}
            )

    return vdf.mapInPandas(_render, "media_id long, content binary")


def q_audio_fp_incremental(spark, sf_dir):
    """INCREMENTAL audio near-dup matching: the arriving batch (the
    one-frame-corrupted variant of every sampled recording) is
    fingerprinted ALONE — never re-decoding the standing corpus — and
    probes the PERSISTED (frame_idx, word) postings
    (ensure_afp_index); per-batch cost O(|delta| + candidates). Every
    delta matches EXACTLY its three family members (base, exact copy,
    amplitude-doubled — each with >= 29 of 31 words, the provable
    one-corrupted-frame bound), zero cross-family matches. The audio
    twin of phash_incremental / minhash_incremental; ``n_base``
    recomputed by the oracle."""
    from smartbots_etl_facturas_spark.operators.audiofp import (
        afp_match_against_index,
        audio_fingerprints,
    )

    base = ensure_afp_index(spark, sf_dir)
    delta = _afp_media(_phash_base_docs(spark, sf_dir), (3,))
    matches = afp_match_against_index(
        audio_fingerprints(delta), base, min_matches=29
    )
    same = F.expr("delta_id div 4") == F.expr("corpus_id div 4")
    per_delta = matches.groupBy("delta_id").agg(
        F.count(F.lit(1)).alias("c"),
        F.min(same.cast("int")).alias("all_same"),
    )
    agg = per_delta.agg(
        F.count(F.lit(1)).cast("long").alias("n_delta_matched"),
        F.min("c").alias("min_c"),
        F.max("c").alias("max_c"),
        F.min("all_same").alias("same_ok"),
    )
    nb = _phash_base_docs(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_base")
    )
    return nb.crossJoin(agg).select(
        "n_base",
        (F.col("n_delta_matched") == F.col("n_base")).alias("coverage_ok"),
        ((F.col("min_c") == 3) & (F.col("max_c") == 3)).alias("family_ok"),
        (F.col("same_ok") == 1).alias("no_cross_matches"),
    )


SQL_AUDIO_FP_INCREMENTAL = """
SELECT CAST(count(*) AS BIGINT) AS n_base, TRUE AS coverage_ok,
       TRUE AS family_ok, TRUE AS no_cross_matches
FROM documents WHERE doc_id % 20 = 0
"""


def _vfp_media(docs, variants):
    """One deterministic 8-frame sha256-noise RAWV video per (doc,
    variant), rendered Arrow-batched IN EXECUTORS (stdlib container,
    sources/multimodal.py:rawv_encode) — variant 0/1 identical bytes,
    2 a per-frame +16 4×4 patch (the measured ≤ 6-Hamming-bit pHash
    construction), 3 one FRAME replaced by fresh noise (frames hash
    independently, so EXACTLY that frame's pHash changes — the
    provable locality bound); media_id = doc_id·4 + variant."""
    arr = F.array(*[
        F.struct((F.col("doc_id") * 4 + F.lit(v)).alias("media_id"))
        for v in variants
    ])
    vdf = docs.select(F.explode(arr).alias("v")).select("v.media_id")

    def _render(batches):
        import hashlib as _hl

        import numpy as np
        import pandas as pd

        from smartbots_etl_facturas_spark.sources.multimodal import (
            rawv_encode,
        )

        def noise(seed: str):
            out = b""
            i = 0
            while len(out) < 1024:
                out += _hl.sha256(f"{seed}:{i}".encode()).digest()
                i += 1
            return np.frombuffer(out[:1024], dtype=np.uint8).reshape(
                32, 32
            ).copy()

        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                doc = mid // 4
                frames = np.stack([noise(f"v:{doc}:{j}") for j in range(8)])
                if mid % 4 == 2:          # near copy: per-frame patch
                    f = frames.astype(np.int64)
                    f[:, 4:8, 4:8] = np.minimum(f[:, 4:8, 4:8] + 16, 255)
                    frames = f.astype(np.uint8)
                if mid % 4 == 3:          # one frame replaced entirely
                    frames = frames.copy()
                    frames[3] = noise(f"v:{doc}:corrupt")
                payloads.append(bytearray(rawv_encode(frames)))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "content": payloads}
            )

    return vdf.mapInPandas(_render, "media_id long, content binary")


def q_video_fingerprint_dedup(spark, sf_dir):
    """VIDEO near-dup dedup (round-13 verdict #3) — the fourth member
    completing the modality quad (text minhash/simhash, image pHash,
    audio Haitsma-Kalker): per-frame integer-DCT pHash sequences
    (operators/videofp.py) matched by the keyed (frame_idx, band,
    slice) equi-join. One 8-frame sha256-noise RAWV video per sampled
    document, rendered in executors, with three variants per base: an
    EXACT byte copy, a per-frame-patched NEAR copy (each frame ≤ 6
    Hamming bits from its base — the measured pHash margin), and a
    one-FRAME-REPLACED copy (provably matches on EXACTLY 7 of 8
    frames: frames hash independently and the untouched 7 are
    byte-identical). Invariants shipped: the three full-8 matches and
    the three exactly-7 near matches per family, zero cross-family
    pairs (cross frame-hash minimum 14 bits over 250 seeds — pHash
    margin tests). ``n_base`` recomputed by the oracle."""
    from smartbots_etl_facturas_spark.operators.videofp import (
        vfp_near_pairs,
        video_fingerprints,
    )

    docs = _phash_base_docs(spark, sf_dir)
    media = _vfp_media(docs, (0, 1, 2, 3))
    pairs = vfp_near_pairs(video_fingerprints(media), max_distance=7,
                           bands=8, min_frames=7)
    same = F.expr("id_a div 4") == F.expr("id_b div 4")
    near = (F.pmod(F.col("id_a"), F.lit(4)) == 3) | (
        F.pmod(F.col("id_b"), F.lit(4)) == 3
    )
    agg = pairs.agg(
        F.sum(F.when(same & ~near & (F.col("n_matched") == 8), 1)
              .otherwise(0)).alias("n_full"),
        F.sum(F.when(same & near & (F.col("n_matched") == 7), 1)
              .otherwise(0)).alias("n_near"),
        F.sum(F.when(~same, 1).otherwise(0)).alias("n_cross"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    nb = docs.agg(F.count(F.lit(1)).cast("long").alias("n_base"))
    return nb.crossJoin(agg).select(
        "n_base",
        (F.col("n_full") == 3 * F.col("n_base")).alias("full_pairs_ok"),
        (F.col("n_near") == 3 * F.col("n_base")).alias("near_pairs_ok"),
        (F.col("n_cross") == 0).alias("no_cross_pairs"),
        (F.col("n_pairs") == 6 * F.col("n_base")).alias("pair_count_ok"),
    )


SQL_VIDEO_FINGERPRINT_DEDUP = """
SELECT CAST(count(*) AS BIGINT) AS n_base, TRUE AS full_pairs_ok,
       TRUE AS near_pairs_ok, TRUE AS no_cross_pairs,
       TRUE AS pair_count_ok
FROM documents WHERE doc_id % 20 = 0
"""


_VFP_INDEX_CACHE: dict[str, str] = {}


def ensure_vfp_index(spark, sf_dir: str) -> str:
    """Build-once half of the video-dedup incremental split: persist
    the per-frame band postings of the STANDING corpus (base + exact +
    per-frame-patched videos) through the versioned sink
    (operators/videofp.py:build_vfp_index), once per process — the
    video member of the persisted-index family. Cached per process,
    so once built, video_fp_incremental times the per-batch probe
    only."""
    base = _VFP_INDEX_CACHE.get(sf_dir)
    if base is None:
        from smartbots_etl_facturas_spark.operators.videofp import (
            build_vfp_index,
            video_fingerprints,
        )

        base = _scratch_dir("vfp_index_")
        corpus = _vfp_media(_phash_base_docs(spark, sf_dir), (0, 1, 2))
        build_vfp_index(video_fingerprints(corpus), base, bands=8)
        _VFP_INDEX_CACHE[sf_dir] = base
    return base


def q_video_fp_incremental(spark, sf_dir):
    """INCREMENTAL video near-dup matching: the arriving batch (the
    one-frame-replaced variant of every sampled video) is
    fingerprinted ALONE — never re-decoding the standing corpus — and
    probes the PERSISTED (frame_idx, band, slice) postings
    (ensure_vfp_index); per-batch cost O(|delta| frames + candidates).
    Every delta matches EXACTLY its three family members on EXACTLY 7
    of 8 frames (the provable independent-frame locality bound), zero
    cross-family matches. The video twin of phash_incremental /
    audio_fp_incremental; ``n_base`` recomputed by the oracle."""
    from smartbots_etl_facturas_spark.operators.videofp import (
        vfp_match_against_index,
        video_fingerprints,
    )

    base = ensure_vfp_index(spark, sf_dir)
    delta = _vfp_media(_phash_base_docs(spark, sf_dir), (3,))
    matches = vfp_match_against_index(
        video_fingerprints(delta), base, max_distance=7, min_frames=7
    )
    same = F.expr("delta_id div 4") == F.expr("corpus_id div 4")
    per_delta = matches.groupBy("delta_id").agg(
        F.count(F.lit(1)).alias("c"),
        F.min(same.cast("int")).alias("all_same"),
        F.min("n_matched").alias("min_m"),
        F.max("n_matched").alias("max_m"),
    )
    agg = per_delta.agg(
        F.count(F.lit(1)).cast("long").alias("n_delta_matched"),
        F.min("c").alias("min_c"),
        F.max("c").alias("max_c"),
        F.min("all_same").alias("same_ok"),
        F.min("min_m").alias("min_m"),
        F.max("max_m").alias("max_m"),
    )
    nb = _phash_base_docs(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_base")
    )
    return nb.crossJoin(agg).select(
        "n_base",
        (F.col("n_delta_matched") == F.col("n_base")).alias("coverage_ok"),
        ((F.col("min_c") == 3) & (F.col("max_c") == 3)).alias("family_ok"),
        ((F.col("min_m") == 7) & (F.col("max_m") == 7)).alias("locality_ok"),
        (F.col("same_ok") == 1).alias("no_cross_matches"),
    )


SQL_VIDEO_FP_INCREMENTAL = """
SELECT CAST(count(*) AS BIGINT) AS n_base, TRUE AS coverage_ok,
       TRUE AS family_ok, TRUE AS locality_ok, TRUE AS no_cross_matches
FROM documents WHERE doc_id % 20 = 0
"""


def q_audit_actions(spark, sf_dir):
    """J6 status-lookup join (consolidate_invoices.py:517-548): each
    incoming row mapped to its post-upsert INSERT/UPDATE/UNCHANGED
    action, rolled up with amount totals. Incoming modifies only
    partkey%3 rows so all three actions occur."""
    inv = invoice_view(_read(spark, sf_dir, "lineitem"))
    compare = ["carrier_name", "invoice_date", "net_amount",
               "tax_amount", "total_amount"]
    # Round-14 (guide §2.4): `incoming` feeds BOTH the upsert's
    # full-outer join and the audit lookup join — the old plan scanned
    # lineitem + re-derived the view twice and exchanged each copy on
    # PK separately (3 scans / 4 pre-agg exchanges total). Narrow it
    # to the columns either consumer needs, repartition on the join
    # key ONCE, and materialize; localCheckpoint preserves
    # partitioning, so both joins reuse the single exchange. Pure
    # physical change — rows and values are untouched.
    existing = inv.filter(F.col("l_linenumber") >= 3).select(*PK, *compare)
    incoming = (
        inv.filter(F.col("l_linenumber") <= 4)
        .withColumn(
            "carrier_name",
            F.when(F.col("l_partkey") % 3 == 0,
                   F.concat(F.lit("MOD-"), F.col("l_suppkey").cast("string")))
            .otherwise(F.col("carrier_name")),
        )
        .select(*PK, *compare)
        .repartition(F.col(PK[0]), F.col(PK[1]))
        .localCheckpoint(eager=True)
    )
    result = upsert_full(existing, incoming, PK, compare_cols=compare)
    actions = audit_actions(incoming, result, PK)
    return actions.groupBy("action").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("total_amount").cast("decimal(27,6)")).cast("double").alias("sum_amount"),
    )


SQL_AUDIT_ACTIONS = f"""
WITH {invoices_cte()},
{_EXISTING_SQL},
incoming AS (SELECT * REPLACE (CASE WHEN l_partkey % 3 = 0
                 THEN 'MOD-' || CAST(l_suppkey AS VARCHAR)
                 ELSE carrier_name END AS carrier_name)
             FROM invoices WHERE l_linenumber <= 4),
statuses AS (
  SELECT coalesce(i.invoice_number, e.invoice_number) AS invoice_number,
         coalesce(i.reference_number, e.reference_number) AS reference_number,
         CASE WHEN e.invoice_number IS NULL THEN 'NEW'
              WHEN i.invoice_number IS NULL THEN 'UNCHANGED'
              WHEN i.carrier_name IS DISTINCT FROM e.carrier_name
                OR i.invoice_date IS DISTINCT FROM e.invoice_date
                OR i.net_amount IS DISTINCT FROM e.net_amount
                OR i.tax_amount IS DISTINCT FROM e.tax_amount
                OR i.total_amount IS DISTINCT FROM e.total_amount
                THEN 'UPDATED'
              ELSE 'UNCHANGED' END AS status
  FROM incoming i
  FULL OUTER JOIN existing e
    ON i.invoice_number = e.invoice_number
   AND i.reference_number = e.reference_number)
SELECT CASE s.status WHEN 'NEW' THEN 'INSERT'
                     WHEN 'UPDATED' THEN 'UPDATE'
                     ELSE 'UNCHANGED' END AS action,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(inc.total_amount AS DECIMAL(27,6))) AS DOUBLE) AS sum_amount
FROM incoming inc
LEFT JOIN statuses s USING (invoice_number, reference_number)
GROUP BY 1
"""


def q_fixed_cells(spark, sf_dir):
    """S3 fixed-cell scan: scalar header cells (here: the EUROPE
    region row) broadcast onto every detail row (nation) without
    shuffling the detail side."""
    region = _read(spark, sf_dir, "region")
    nation = _read(spark, sf_dir, "nation")
    fixed = region.filter(F.col("r_regionkey") == 0).select(
        F.col("r_name").alias("fixed_region"),
        F.col("r_regionkey").alias("fixed_regionkey"),
    )
    return nation.select("n_nationkey", "n_name").crossJoin(F.broadcast(fixed))


SQL_FIXED_CELLS = """
SELECT n.n_nationkey, n.n_name, r.r_name AS fixed_region,
       r.r_regionkey AS fixed_regionkey
FROM nation n, (SELECT r_name, r_regionkey FROM region WHERE r_regionkey = 0) r
"""


# --- composed mixed/simple extraction goldens (plans/extract.py) -----------
# One MIXED-layout sheet (fixed cells C6/G3/C8/H6/H7/F4 + tabular
# detail, header at ordinal 9) and one SIMPLE tabular sheet (header at
# ordinal 10, the reference's row-11 rule). The Spark side must DETECT
# the layout at runtime (official_format_extractor.py:111-121); the
# oracle recomputes each sheet's filtering/parsing/derivation from the
# same raw grid with the (known-golden) layout constants pinned.
# Discovery of a header away from rows 9 and 10 is pinned by
# tests/test_extract.py.

GOLDEN_MIXED_SHEET = [
    # row_idx, c0..c8 — fixed cells: C6=(5,c2) carrier, G3=(2,c6) date,
    # C8=(7,c2) invoice, H6=(5,c7) ship, H7=(6,c7) port, F4=(3,c5) approver
    (0, None, None, None, None, None, None, None, None, None),
    (1, None, None, None, None, None, None, None, None, None),
    (2, None, None, None, None, None, None, "15-02-2026", None, None),
    (3, None, None, None, None, None, "Aprobado por: Juan", None, None, None),
    (4, None, None, None, None, None, None, None, None, None),
    (5, None, None, "TransAndes", None, None, None, None, "MV Aconcagua", None),
    (6, None, None, None, None, None, None, None, "Valparaíso", None),
    (7, None, None, "F-778", None, None, None, None, None, None),
    (8, None, None, None, None, None, None, None, None, None),
    (9, "Fecha Servicio", "Órdenes de Embarque", "Guías de Despacho",
     "Flete ($)", "Porteo ($)", "Total Servicio ($)", "Observaciones", None, None),
    (10, "01-02-2026", "OE-100", "GD-1", "100000", "5000", None, "obs uno", None, None),
    (11, "02-02-2026", "OE-101", "GD-2", "50000", None, "200000", "obs dos", None, None),
    (12, "03-02-2026", "OE-999", None, None, None, "999999", "TOTAL GENERAL", None, None),
    (13, "04-02-2026", "", "GD-4", "77", None, None, None, None, None),
    (14, None, None, None, None, None, None, None, None, None),
    (15, "05-02-2026", "OE-102", "GD-5", "abc", None, None, "obs tres", None, None),
]

GOLDEN_SIMPLE_SHEET = [
    (0, "Informe de Facturas", None, None, None, None, None, None),
    *[(i, None, None, None, None, None, None, None) for i in range(1, 10)],
    (10, "N° Factura", "N° Referencia", "Transportista", "Monto Neto",
     "IVA", "Monto Total", "Fecha Factura"),
    (11, "F-900", "R-1", "Carrier A", "1000", "190", "1190", "2026-02-15"),
    (12, "F-901", "", "Carrier B", "2000", "380", "2380", "16/02/2026"),
    (13, "F-902", "R-3", "Carrier C", "x!", "0", "10", "15-02-2026"),
    (14, "F-903", "R-4", "Carrier D", "10", "1", "11", "bad-date"),
    (15, "", None, None, None, None, None, None),
    (16, "F-905", "R-6", "Carrier E", "5", "1", "6", "15-02-2026"),
]

_MIXED_GRID_SCHEMA = "row_idx long, " + ", ".join(f"c{i} string" for i in range(9))
_SIMPLE_GRID_SCHEMA = "row_idx long, " + ", ".join(f"c{i} string" for i in range(7))


def _extract_both_golden(spark):
    """Both golden sheets as ONE union grid (the simple sheet padded to
    the mixed sheet's 9 columns) through the set-based extract."""
    from smartbots_etl_facturas_spark.plans.extract import extract_invoice_files

    mixed = spark.createDataFrame(GOLDEN_MIXED_SHEET, _MIXED_GRID_SCHEMA)
    simple = spark.createDataFrame(GOLDEN_SIMPLE_SHEET, _SIMPLE_GRID_SCHEMA).select(
        "*",
        F.lit(None).cast("string").alias("c7"),
        F.lit(None).cast("string").alias("c8"),
    )
    multi = mixed.select(F.lit("mixed.xlsx").alias("source_file"), "*").unionByName(
        simple.select(F.lit("simple.xlsx").alias("source_file"), "*")
    )
    return extract_invoice_files(multi)


GOLDEN_CONSOL_F1 = [
    (0, "F-1", "R-1", "CarA", 100.0, 19.0, 119.0),   # valid
    (1, "F-1", "R-1", "CarA", 100.0, 19.0, 119.0),   # dup PK → first wins
    (2, "F-2", "R-2", "CarB", 200.0, 38.0, 238.0),   # valid
    (3, "",    "R-3", "CarC", 10.0, 0.0, 10.0),      # blank invoice → error
    (4, "F-3", "R-3", "CarC", 50.0, 9.5, 70.0),      # variance 10.5 → error
    (5, "F-4", "R-4", "CarD", 10.0, 1.9, 12.5),      # variance 0.6 ≤ 1 → valid
]

GOLDEN_CONSOL_F2 = [
    (0, "F-2", "R-2", "CarB", 200.0, 38.0, 238.0),   # re-sent PK → upsert skips
    (1, "F-5", "R-5", "CarE", 300.0, 57.0, 357.0),   # new valid
    (2, "F-6", "R-6", "CarF", -5.0, 0.0, -5.0),      # negative total → error
]

_CONSOL_SCHEMA = (
    "row_idx long, invoice_number string, reference_number string, "
    "carrier_name string, net_amount double, tax_amount double, "
    "total_amount double"
)


def q_consolidation_pipeline(spark, sf_dir):
    """The COMPOSED set-based consolidation round (plans/consolidation.py
    — idempotency → schema validation → validate/split → first-wins
    dedup → insert-only upsert → per-file reconcile → audit → staged
    publish) run end-to-end over a deterministic 2-file scenario,
    returning the PUBLISHED consolidated table. Exercises the pieces *as wired
    together*, not individually: file 2 re-sends an existing PK (must
    be skipped), both files carry validation errors (must be excluded
    but audited), and the publish only happens because both files
    reconcile."""
    from smartbots_etl_facturas_spark.plans.consolidation import consolidate
    from smartbots_etl_facturas_spark.sinks.audit import AuditWriter
    from smartbots_etl_facturas_spark.sinks.staged import read_published

    base = _scratch_dir("consol_q_")
    audit = AuditWriter(spark, f"{base}/audit")
    f1 = spark.createDataFrame(GOLDEN_CONSOL_F1, _CONSOL_SCHEMA)
    f2 = spark.createDataFrame(GOLDEN_CONSOL_F2, _CONSOL_SCHEMA)
    report = consolidate(
        spark, [("f1.xlsx", "t1", f1), ("f2.xlsx", "t2", f2)],
        f"{base}/consolidated", audit,
    )
    assert report.status == "SUCCESS", report
    out = read_published(spark, f"{base}/consolidated")
    return out.select(
        "invoice_number", "reference_number", "carrier_name",
        F.col("net_amount").cast("double").alias("net_amount"),
        F.col("tax_amount").cast("double").alias("tax_amount"),
        F.col("total_amount").cast("double").alias("total_amount"),
        "source_file",
    )


def _consol_values(rows):
    return ", ".join(
        "(" + ", ".join(repr(v) for v in row) + ")" for row in rows
    )


SQL_CONSOLIDATION_PIPELINE = f"""
WITH f1(row_idx, invoice_number, reference_number, carrier_name,
        net_amount, tax_amount, total_amount) AS (
  VALUES {_consol_values(GOLDEN_CONSOL_F1)}),
f2(row_idx, invoice_number, reference_number, carrier_name,
   net_amount, tax_amount, total_amount) AS (
  VALUES {_consol_values(GOLDEN_CONSOL_F2)}),
v1 AS (SELECT * FROM f1
       WHERE trim(invoice_number) != '' AND trim(reference_number) != ''
         AND trim(carrier_name) != ''
         AND CAST(total_amount AS DECIMAL(18,6)) >= 0
         AND abs(CAST(total_amount AS DECIMAL(18,6))
                 - (CAST(net_amount AS DECIMAL(12,2))
                    + CAST(tax_amount AS DECIMAL(18,6)))) <= 1),
d1 AS (SELECT *, row_number() OVER (
         PARTITION BY invoice_number, reference_number
         ORDER BY row_idx) AS rn FROM v1),
c1 AS (SELECT invoice_number, reference_number, carrier_name,
              net_amount, tax_amount, total_amount, 'f1.xlsx' AS source_file
       FROM d1 WHERE rn = 1),
v2 AS (SELECT * FROM f2
       WHERE trim(invoice_number) != '' AND trim(reference_number) != ''
         AND trim(carrier_name) != ''
         AND CAST(total_amount AS DECIMAL(18,6)) >= 0
         AND abs(CAST(total_amount AS DECIMAL(18,6))
                 - (CAST(net_amount AS DECIMAL(12,2))
                    + CAST(tax_amount AS DECIMAL(18,6)))) <= 1),
d2 AS (SELECT *, row_number() OVER (
         PARTITION BY invoice_number, reference_number
         ORDER BY row_idx) AS rn FROM v2),
ins2 AS (SELECT d2.invoice_number, d2.reference_number, d2.carrier_name,
                d2.net_amount, d2.tax_amount, d2.total_amount,
                'f2.xlsx' AS source_file
         FROM d2 LEFT JOIN c1 USING (invoice_number, reference_number)
         WHERE d2.rn = 1 AND c1.invoice_number IS NULL)
SELECT invoice_number, reference_number, carrier_name,
       CAST(CAST(net_amount AS DECIMAL(12,2)) AS DOUBLE) AS net_amount,
       CAST(CAST(tax_amount AS DECIMAL(18,6)) AS DOUBLE) AS tax_amount,
       CAST(CAST(total_amount AS DECIMAL(18,6)) AS DOUBLE) AS total_amount,
       source_file
FROM (SELECT * FROM c1 UNION ALL SELECT * FROM ins2)
"""


def q_invoice_extract_golden(spark, sf_dir):
    """The set-based extraction plan (plans/extract.py
    extract_invoice_files) over BOTH golden layouts as one union grid:
    per-file runtime format detection routes each sheet (mixed →
    S3+S4+P5-P7+A6+F2; simple → S4+P8+F1+F2), normalized into one
    InvoiceRecord StructType; its DuckDB oracle (SQL_INVOICE_EXTRACT)
    is the proof of the program's one extract path. Amounts surface as
    DOUBLE in the final projection (exact at scale ≤ 2)."""
    valid, _ = _extract_both_golden(spark)
    return valid.select(
        "row_idx", "invoice_number", "reference_number", "carrier_name",
        "ship_name", "invoice_date",
        F.col("net_amount").cast("double").alias("net_amount"),
        F.col("tax_amount").cast("double").alias("tax_amount"),
        F.col("total_amount").cast("double").alias("total_amount"),
        "currency", "description", "source_file",
    )


def q_invoice_extract_errors(spark, sf_dir):
    """P10 error side-channel of the set-based extraction plan over the
    same union grid: one row per reference try/except-per-row failure
    (unparseable money in either layout, unparseable date in the
    simple layout)."""
    _, errors = _extract_both_golden(spark)
    return errors


_MIXED_VALUES = ", ".join(
    "(" + ", ".join("NULL" if v is None else repr(v) for v in row) + ")"
    for row in GOLDEN_MIXED_SHEET
)
_SIMPLE_VALUES = ", ".join(
    "(" + ", ".join("NULL" if v is None else repr(v) for v in row) + ")"
    for row in GOLDEN_SIMPLE_SHEET
)

_SQL_EXTRACT_COMMON = f"""
mixed_raw(row_idx, c0, c1, c2, c3, c4, c5, c6, c7, c8) AS (VALUES {_MIXED_VALUES}),
simple_raw(row_idx, c0, c1, c2, c3, c4, c5, c6) AS (VALUES {_SIMPLE_VALUES}),
mfixed AS (
  SELECT max(CASE WHEN row_idx = 5 THEN c2 END) AS carrier,
         max(CASE WHEN row_idx = 2 THEN c6 END) AS fecha,
         max(CASE WHEN row_idx = 7 THEN c2 END) AS invoice,
         max(CASE WHEN row_idx = 5 THEN c7 END) AS nave
  FROM mixed_raw),
mdata AS (
  SELECT row_idx, c0 AS fecha_servicio, c1 AS ordenes, c2 AS guias,
         c3 AS flete, c4 AS porteo, c5 AS total_raw, c6 AS obs, c7, c8
  FROM mixed_raw WHERE row_idx > 9),
mfiltered AS (
  SELECT * FROM mdata
  WHERE NOT (fecha_servicio IS NULL AND ordenes IS NULL AND guias IS NULL
             AND flete IS NULL AND porteo IS NULL AND total_raw IS NULL
             AND obs IS NULL AND c7 IS NULL AND c8 IS NULL)
    AND ordenes IS NOT NULL AND trim(ordenes) != ''
    AND NOT regexp_matches(
          upper(concat_ws(' ', fecha_servicio, ordenes, guias, flete,
                          porteo, total_raw, obs, c7, c8)),
          'NETO|IVA|TOTAL')),
mtyped AS (
  SELECT row_idx, ordenes, obs,
         TRY_CAST(total_raw AS DECIMAL(18,2)) AS total_p,
         total_raw IS NOT NULL AND trim(total_raw) != ''
           AND TRY_CAST(total_raw AS DECIMAL(18,2)) IS NULL AS total_bad,
         TRY_CAST(flete AS DECIMAL(18,2)) AS flete_p,
         flete IS NOT NULL AND trim(flete) != ''
           AND TRY_CAST(flete AS DECIMAL(18,2)) IS NULL AS flete_bad,
         TRY_CAST(porteo AS DECIMAL(18,2)) AS porteo_p,
         porteo IS NOT NULL AND trim(porteo) != ''
           AND TRY_CAST(porteo AS DECIMAL(18,2)) IS NULL AS porteo_bad
  FROM mfiltered),
mfinal AS (
  SELECT row_idx, ordenes, obs, total_bad, flete_bad, porteo_bad,
         CASE WHEN total_p IS NOT NULL AND total_p > 0 THEN total_p
              ELSE coalesce(flete_p, 0) + coalesce(porteo_p, 0) END AS total
  FROM mtyped),
sdata AS (
  SELECT row_idx, c0 AS invoice, c1 AS refnum, c2 AS carrier,
         c3 AS net_raw, c4 AS tax_raw, c5 AS total_raw, c6 AS date_raw
  FROM simple_raw WHERE row_idx > 10),
sstop AS (SELECT min(row_idx) AS stop_at FROM sdata
          WHERE invoice IS NULL OR trim(invoice) = ''),
skept AS (
  SELECT * FROM sdata, sstop
  WHERE (stop_at IS NULL OR row_idx < stop_at)
    AND NOT (invoice IS NULL AND refnum IS NULL AND carrier IS NULL
             AND net_raw IS NULL AND tax_raw IS NULL AND total_raw IS NULL
             AND date_raw IS NULL)),
styped AS (
  SELECT row_idx, invoice, refnum, carrier,
         coalesce(TRY_CAST(net_raw AS DECIMAL(18,2)), 0) AS net,
         net_raw IS NOT NULL AND trim(net_raw) != ''
           AND TRY_CAST(net_raw AS DECIMAL(18,2)) IS NULL AS net_bad,
         coalesce(TRY_CAST(tax_raw AS DECIMAL(18,2)), 0) AS tax,
         tax_raw IS NOT NULL AND trim(tax_raw) != ''
           AND TRY_CAST(tax_raw AS DECIMAL(18,2)) IS NULL AS tax_bad,
         coalesce(TRY_CAST(total_raw AS DECIMAL(18,2)), 0) AS total,
         total_raw IS NOT NULL AND trim(total_raw) != ''
           AND TRY_CAST(total_raw AS DECIMAL(18,2)) IS NULL AS total_bad,
         CAST(coalesce(try_strptime(date_raw, '%d-%m-%Y'),
                       try_strptime(date_raw, '%Y-%m-%d'),
                       try_strptime(date_raw, '%d/%m/%Y')) AS DATE) AS inv_date
  FROM skept)
"""

SQL_INVOICE_EXTRACT = f"""
WITH {_SQL_EXTRACT_COMMON}
SELECT CAST(row_idx AS BIGINT) AS row_idx,
       (SELECT invoice FROM mfixed) AS invoice_number,
       trim(ordenes) AS reference_number,
       (SELECT carrier FROM mfixed) AS carrier_name,
       (SELECT nave FROM mfixed) AS ship_name,
       CAST(try_strptime((SELECT fecha FROM mfixed), '%d-%m-%Y') AS DATE)
         AS invoice_date,
       CAST(total AS DOUBLE) AS net_amount,
       CAST(0 AS DOUBLE) AS tax_amount,
       CAST(total AS DOUBLE) AS total_amount,
       'CLP' AS currency,
       coalesce(obs, '') AS description,
       'mixed.xlsx' AS source_file
FROM mfinal WHERE NOT (total_bad OR flete_bad OR porteo_bad)
UNION ALL
SELECT CAST(row_idx AS BIGINT) AS row_idx,
       trim(invoice) AS invoice_number,
       CASE WHEN refnum IS NOT NULL AND trim(refnum) != ''
            THEN trim(refnum) ELSE 'N/A' END AS reference_number,
       coalesce(carrier, '') AS carrier_name,
       '' AS ship_name,
       inv_date AS invoice_date,
       CAST(net AS DOUBLE) AS net_amount,
       CAST(tax AS DOUBLE) AS tax_amount,
       CAST(total AS DOUBLE) AS total_amount,
       'CLP' AS currency,
       '' AS description,
       'simple.xlsx' AS source_file
FROM styped WHERE NOT (net_bad OR tax_bad OR total_bad OR inv_date IS NULL)
"""

SQL_INVOICE_EXTRACT_ERRORS = f"""
WITH {_SQL_EXTRACT_COMMON}
SELECT 'mixed.xlsx' AS source_file, CAST(row_idx AS BIGINT) AS row_idx,
       CASE WHEN total_bad THEN 'unparseable money: Total Servicio ($)'
            WHEN flete_bad THEN 'unparseable money: Flete ($)'
            WHEN porteo_bad THEN 'unparseable money: Porteo ($)' END AS error
FROM mfinal WHERE total_bad OR flete_bad OR porteo_bad
UNION ALL
SELECT 'simple.xlsx' AS source_file, CAST(row_idx AS BIGINT) AS row_idx,
       CASE WHEN net_bad THEN 'unparseable money: Monto Neto'
            WHEN tax_bad THEN 'unparseable money: IVA'
            WHEN total_bad THEN 'unparseable money: Monto Total'
            ELSE 'invalid invoice date' END AS error
FROM styped WHERE net_bad OR tax_bad OR total_bad OR inv_date IS NULL
"""


GOLDEN_DISPLAY = [
    (0, "1234.0", "abc123"), (1, "007", "file-9"), (2, "12.5", None),
    (3, "not-a-number", "z"), (4, None, ""), (5, "  88 ", "id/with/slash"),
]


def q_display_casts(spark, sf_dir):
    """F7 int-cast-for-display (excel_handler.py:98-104: numeric
    invoice numbers render as int(float(v))) + F9 Drive-link
    construction (dtos.py:60-62)."""
    df = spark.createDataFrame(GOLDEN_DISPLAY, "idx long, raw string, file_id string")
    link = F.when(
        F.col("file_id").isNotNull(),
        F.concat(F.lit("https://drive.google.com/file/d/"), F.col("file_id"), F.lit("/view")),
    )
    return df.select("idx", int_display_cast(F.col("raw")).alias("display"), link.alias("link"))


_DISPLAY_VALUES = ", ".join(
    "(" + ", ".join("NULL" if v is None else repr(v) for v in row) + ")"
    for row in GOLDEN_DISPLAY
)

SQL_DISPLAY_CASTS = f"""
WITH raw(idx, r, file_id) AS (VALUES {_DISPLAY_VALUES})
SELECT CAST(idx AS BIGINT) AS idx,
       CASE WHEN TRY_CAST(trim(r) AS DOUBLE) IS NOT NULL
            THEN CAST(CAST(trunc(TRY_CAST(trim(r) AS DOUBLE)) AS BIGINT) AS VARCHAR)
            ELSE r END AS display,
       CASE WHEN file_id IS NOT NULL
            THEN 'https://drive.google.com/file/d/' || file_id || '/view' END AS link
FROM raw
"""


def q_sessions(spark, sf_dir):
    """Gap-based sessionization (1h inactivity gap) via the built-in
    session_window — the streaming-capable plan run in batch mode;
    the applyInPandasWithState custom-stateful twin is verified in
    tests/test_streaming.py."""
    ev = read_events(spark, sf_dir).select(
        "user_id",
        F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
        "value",
    )
    out = sessionize(ev, gap_seconds=3600)
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events",
        "sum_value",
    )


SQL_SESSIONS = """
WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus, value FROM events),
o AS (SELECT user_id, tus, value,
             CASE WHEN lag(tus) OVER w IS NULL
                    OR tus - lag(tus) OVER w > 3600000000
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY tus
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
SELECT user_id,
       CAST(min(tus) AS BIGINT) AS start_us,
       CAST(max(tus) AS BIGINT) AS end_us,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, sid
"""


def q_manifest_listing(spark, sf_dir):
    """S5/O1/O4 ordered source discovery: newest-first manifest,
    deterministic top-5 (modified desc, name asc tie-break)."""
    orders = _read(spark, sf_dir, "orders")
    manifest = orders.groupBy(
        F.concat(F.lit("file_"), (F.col("o_custkey") % 20).cast("string")).alias("file_name")
    ).agg(
        F.max("o_orderdate").cast("date").alias("modified_time"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return (
        newest_first(manifest)
        .orderBy(F.desc("modified_time"), F.col("file_name"))
        .limit(5)
    )


SQL_MANIFEST_LISTING = """
SELECT 'file_' || CAST(o_custkey % 20 AS VARCHAR) AS file_name,
       CAST(max(o_orderdate) AS DATE) AS modified_time,
       CAST(count(*) AS BIGINT) AS n_rows
FROM orders
GROUP BY 1
ORDER BY modified_time DESC, file_name
LIMIT 5
"""


def q_find_file_by_name(spark, sf_dir):
    """S6 find-file-by-name (sources/manifest.py:find_file; reference
    oauth_google_drive_adapter.py:113-127 lists the folder and returns
    the first exact-name match): the same derived manifest as
    manifest_listing, probed for one exact file_name. The manifest
    keys are unique (one row per file bucket) so limit(1) is
    deterministic and the oracle is a plain equality filter."""
    orders = _read(spark, sf_dir, "orders")
    manifest = orders.groupBy(
        F.concat(
            F.lit("file_"), (F.col("o_custkey") % 20).cast("string")
        ).alias("file_name")
    ).agg(
        F.max("o_orderdate").cast("date").alias("modified_time"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return find_file(manifest, "file_7")


SQL_FIND_FILE_BY_NAME = """
SELECT 'file_' || CAST(o_custkey % 20 AS VARCHAR) AS file_name,
       CAST(max(o_orderdate) AS DATE) AS modified_time,
       CAST(count(*) AS BIGINT) AS n_rows
FROM orders
GROUP BY 1
HAVING 'file_' || CAST(o_custkey % 20 AS VARCHAR) = 'file_7'
"""


GOLDEN_RAW_ROWS = [
    (0, " F-001 ", None, "clp", "Aprobado por: Ana Soto", "x"),
    (1, "F-002", "OE-9", None, "  Luis Rojas ", "y"),
    (2, None, None, None, None, None),
    (3, "", "OE-10", "usd", "Aprobado por: Mia King", "z"),
    (4, "F-005", "OE-11", " eur ", "Jo", None),
]


def q_cleaners(spark, sf_dir):
    """P2/P3/P4/P5/P6 + F4 cleaning pipeline golden: trim/null-to-
    empty, currency normalize with CLP default, prefix strip,
    all-null-row drop, non-blank key filter."""
    df = spark.createDataFrame(
        GOLDEN_RAW_ROWS,
        "idx long, num_factura string, orden string, moneda string, resp string, extra string",
    )
    cleaned = (
        drop_all_null_rows(df, ["num_factura", "orden", "moneda", "resp", "extra"])
        .select(
            "idx",
            clean_string(F.col("num_factura")).alias("invoice_number"),
            normalize_currency(F.col("moneda")).alias("currency"),
            strip_prefix(F.col("resp")).alias("responsable"),
        )
    )
    return filter_nonblank_key(cleaned, "invoice_number")


_RAW_ROW_VALUES = ", ".join(
    "(" + ", ".join("NULL" if v is None else repr(v) for v in row) + ")"
    for row in GOLDEN_RAW_ROWS
)

SQL_CLEANERS = f"""
WITH raw(idx, num_factura, orden, moneda, resp, extra) AS (VALUES {_RAW_ROW_VALUES}),
kept AS (SELECT * FROM raw
         WHERE NOT (num_factura IS NULL AND orden IS NULL AND moneda IS NULL
                    AND resp IS NULL AND extra IS NULL)),
cleaned AS (
  SELECT CAST(idx AS BIGINT) AS idx,
         trim(coalesce(num_factura, '')) AS invoice_number,
         CASE WHEN moneda IS NULL OR trim(moneda) = '' THEN 'CLP'
              ELSE upper(trim(moneda)) END AS currency,
         trim(regexp_replace(trim(coalesce(resp, '')), '^Aprobado por: ', '')) AS responsable
  FROM kept)
SELECT * FROM cleaned
WHERE invoice_number IS NOT NULL AND trim(invoice_number) != ''
"""


def q_json_props(spark, sf_dir):
    """Semi-structured extraction: parse the events.props JSON column
    with a declared schema (from_json; corrupt → null, the scan-level
    error channel) and aggregate on the extracted field."""
    ev = read_events(spark, sf_dir)
    parsed = ev.select(
        "event_type",
        F.from_json(F.col("props"), "k int").getField("k").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("k").cast("long")).alias("sum_k"),
        F.max("k").alias("max_k"),
        F.count(F.when(F.col("k").isNull(), 1)).alias("n_null"),
    )


SQL_JSON_PROPS = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(props ->> 'k' AS INTEGER)) AS BIGINT) AS sum_k,
       max(CAST(props ->> 'k' AS INTEGER)) AS max_k,
       CAST(count(CASE WHEN props ->> 'k' IS NULL THEN 1 END) AS BIGINT) AS n_null
FROM events
GROUP BY 1
"""


# Distinctive character trigrams per language (with boundary spaces,
# like classic n-gram profiles); the vote is the number of profile
# trigram OCCURRENCES in the lowercased text.
_TRIGRAM_PROFILES = {
    "en": [" th", "the", "he ", "ing", "and", " of"],
    "es": [" de", "os ", " la", "ión", "ent", "que"],
    "de": ["der", "ein", "sch", "ich", "nde", "die"],
}


def q_lang_id_ngram(spark, sf_dir):
    """Character-trigram-profile language ID (the classic n-gram
    heuristic, complementing the stopword-voting lang_id): per-language
    score = total occurrences of that language's profile trigrams."""
    docs = _read(spark, sf_dir, "documents")
    low = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    scores = {}
    for lang, grams in _TRIGRAM_PROFILES.items():
        s = None
        for g in grams:
            # occurrences of g = (len(text) - len(remove(g))) / 3
            cnt = (F.length(low) - F.length(F.replace(low, F.lit(g), F.lit("")))) / 3
            s = cnt if s is None else s + cnt
        scores[lang] = s.cast("long")
    out = docs.select("doc_id", *[scores[lang].alias(f"{lang}_score") for lang in scores])
    pred = (
        F.when((F.col("en_score") >= F.col("es_score"))
               & (F.col("en_score") >= F.col("de_score")), F.lit("en"))
        .when(F.col("es_score") >= F.col("de_score"), F.lit("es"))
        .otherwise(F.lit("de"))
    )
    return out.withColumn("lang_pred", pred)


def _sql_trigram_score(grams):
    parts = [
        f"(length(t) - length(replace(t, '{g}', ''))) / 3" for g in grams
    ]
    return "CAST(" + " + ".join(parts) + " AS BIGINT)"


SQL_LANG_ID_NGRAM = f"""
WITH lowered AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents),
s AS (SELECT doc_id,
             {_sql_trigram_score(_TRIGRAM_PROFILES["en"])} AS en_score,
             {_sql_trigram_score(_TRIGRAM_PROFILES["es"])} AS es_score,
             {_sql_trigram_score(_TRIGRAM_PROFILES["de"])} AS de_score
      FROM lowered)
SELECT doc_id, en_score, es_score, de_score,
       CASE WHEN en_score >= es_score AND en_score >= de_score THEN 'en'
            WHEN es_score >= de_score THEN 'es'
            ELSE 'de' END AS lang_pred
FROM s
"""


def q_rolling_fingerprint(spark, sf_dir):
    """Rolling-hash (winnowing-style min-of-k-gram-hashes) document
    fingerprint, md5 tier (round-9: the registered query runs the
    PORTABLE 48-bit hex12 hash so the fingerprint is value-checked
    against a DuckDB oracle that replays the identical window minima;
    the xxhash64 fast tier keeps its locality pytest coverage in
    tests/test_dedup.py)."""
    from smartbots_etl_facturas_spark.functions.text import rolling_fingerprint

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return docs.select(
        "doc_id", rolling_fingerprint("text", hash_fn="md5").alias("fp")
    )


def q_brand_revenue(spark, sf_dir):
    """Star join lineitem ⋈ part ⋈ supplier ⋈ nation with broadcast
    dims: revenue by part brand × supplier nation (TPC-H Q9-shaped).
    part is join-pruned to two columns; dims broadcast so the fact
    table never shuffles for the joins."""
    li = _read(spark, sf_dir, "lineitem")
    part = F.broadcast(_read(spark, sf_dir, "part").select("p_partkey", "p_brand"))
    supp = F.broadcast(_read(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey"))
    nation = F.broadcast(_read(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(8,4)")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .groupBy("p_brand", "n_name")
        .agg(
            F.sum(ep * (1 - disc)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_BRAND_REVENUE = """
SELECT p.p_brand, n.n_name,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS VARCHAR) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1, 2
"""


def q_top_parts_by_size(spark, sf_dir):
    """Windowed top-2 parts by retail price within each size class —
    WindowGroupLimit plan, deterministic tie-break."""
    part = _read(spark, sf_dir, "part")
    w = Window.partitionBy("p_size").orderBy(F.desc("p_retailprice"), F.col("p_partkey"))
    return (
        part.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 2)
        .select("p_size", "p_partkey", "p_brand", "p_retailprice", "rk")
    )


SQL_TOP_PARTS_BY_SIZE = """
SELECT p_size, p_partkey, p_brand, p_retailprice, CAST(rk AS BIGINT) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY p_size
                                   ORDER BY p_retailprice DESC, p_partkey) AS rk
      FROM part)
WHERE rk <= 2
"""


# Two golden workbooks (inline-string and shared-string encodings)
# covering numerics, accents, sparse cells — written fresh per call,
# parsed on EXECUTORS via binaryFile + mapInPandas.
_XLSX_GOLDEN = {
    "inv_a.xlsx": [
        ["invoice_number", "carrier", "total"],
        ["F-001", "ACME", 1500],
        ["F-002", "TRANSPORTES LTDA", 2500.5],
        [None, "sin factura", None],
        ["F-003", "söñé & cía", 99],
    ],
    "inv_b.xlsx": [
        ["invoice_number", "carrier", "total"],
        ["G-001", "NIPPON", 7],
        ["G-002", None, 0.25],
    ],
}


def q_xlsx_distributed(spark, sf_dir):
    """S1/S2 distributed XLSX scan (the reference's native format,
    official_format_extractor.py:354-453): workbook bytes read by the
    binaryFile source on executors, parsed per-file inside
    mapInPandas into the positional grid, then re-headered from each
    file's row 0 into (file, row_idx, declared columns) with the
    per-file row-order invariant. sf_dir is unused — inputs are the
    golden workbooks (XLSX has no sf-scaled testdata)."""
    from smartbots_etl_facturas_spark.sources.xlsx import (
        read_xlsx_grid_distributed,
        write_xlsx,
    )

    d = _scratch_dir("xlsx_golden_")
    paths = []
    for i, (name, rows) in enumerate(sorted(_XLSX_GOLDEN.items())):
        paths.append(os.path.join(d, name))
        write_xlsx(paths[-1], rows, use_shared_strings=bool(i % 2))
    grid = read_xlsx_grid_distributed(spark, paths, 3)
    return (
        grid.filter(F.col("row_idx") > 0)  # row 0 is the header row
        .select(
            F.element_at(F.split("source_file", "/"), -1).alias("file"),
            (F.col("row_idx") - 1).cast("long").alias("row_idx"),
            F.col("c0").alias("invoice_number"),
            F.col("c1").alias("carrier"),
            F.col("c2").alias("total"),
        )
    )


def q_xlsx_to_consolidated(spark, sf_dir):
    """The reference's WHOLE entry point
    (scripts/run_consolidation.py:50-126) as one wired pipeline:
    golden workbooks written as real OOXML files →
    plans/consolidation.consolidate_inbox, which reads the inbox once
    (binaryFile + mapInPandas raw-grid scan, sources/xlsx.py), extracts
    it once (SET-BASED multi-file extraction: per-file fixed cells,
    format detection, header discovery, parsing — plans/extract.py
    extract_invoice_files, materialized at call time) and consolidates
    it as one round (schema validation, validate/split, first-wins
    dedup, insert-only upsert, reconcile, 3-table audit, staged
    publish). Returns the PUBLISHED consolidated table. sf_dir unused:
    XLSX has no sf-scaled testdata, the golden sheets are the
    fixture."""
    from smartbots_etl_facturas_spark.plans.consolidation import consolidate_inbox
    from smartbots_etl_facturas_spark.sinks.audit import AuditWriter
    from smartbots_etl_facturas_spark.sinks.staged import read_published
    from smartbots_etl_facturas_spark.sources.xlsx import write_xlsx

    base = _scratch_dir("x2c_")
    inbox = os.path.join(base, "inbox")
    os.makedirs(inbox)
    write_xlsx(os.path.join(inbox, "mixed.xlsx"),
               [list(r[1:]) for r in GOLDEN_MIXED_SHEET])
    write_xlsx(os.path.join(inbox, "simple.xlsx"),
               [list(r[1:]) for r in GOLDEN_SIMPLE_SHEET],
               use_shared_strings=True)

    # one read and one materialized extraction for the whole inbox;
    # each file's frame filters it, and the file stays the transaction
    # unit (per-file reconcile + rollback) inside one set-based round
    audit = AuditWriter(spark, f"{base}/audit")
    report = consolidate_inbox(spark, inbox, f"{base}/consolidated", audit)
    assert report.status == "SUCCESS", report
    out = read_published(spark, f"{base}/consolidated")
    return out.select(
        "invoice_number", "reference_number", "carrier_name",
        F.col("net_amount").cast("double").alias("net_amount"),
        F.col("tax_amount").cast("double").alias("tax_amount"),
        F.col("total_amount").cast("double").alias("total_amount"),
        "source_file",
    )


SQL_XLSX_TO_CONSOLIDATED = f"""
WITH {_SQL_EXTRACT_COMMON},
ex AS (
  SELECT CAST(row_idx AS BIGINT) AS row_idx,
         trim((SELECT invoice FROM mfixed)) AS invoice_number,
         trim(ordenes) AS reference_number,
         trim((SELECT carrier FROM mfixed)) AS carrier_name,
         CAST(total AS DECIMAL(18,2)) AS net_amount,
         CAST(0 AS DECIMAL(18,2)) AS tax_amount,
         CAST(total AS DECIMAL(18,2)) AS total_amount,
         'mixed.xlsx' AS source_file
  FROM mfinal WHERE NOT (total_bad OR flete_bad OR porteo_bad)
  UNION ALL
  SELECT CAST(row_idx AS BIGINT),
         trim(invoice),
         CASE WHEN refnum IS NOT NULL AND trim(refnum) != ''
              THEN trim(refnum) ELSE 'N/A' END,
         trim(coalesce(carrier, '')),
         net, tax, total, 'simple.xlsx'
  FROM styped WHERE NOT (net_bad OR tax_bad OR total_bad OR inv_date IS NULL)),
v AS (
  SELECT * FROM ex
  WHERE trim(invoice_number) != '' AND trim(reference_number) != ''
    AND trim(carrier_name) != ''
    AND CAST(total_amount AS DECIMAL(18,6)) >= 0
    AND abs(CAST(total_amount AS DECIMAL(18,6))
            - (CAST(net_amount AS DECIMAL(12,2))
               + CAST(tax_amount AS DECIMAL(18,6)))) <= 1),
d AS (
  SELECT *, row_number() OVER (
    PARTITION BY source_file, invoice_number, reference_number
    ORDER BY row_idx) AS rn
  FROM v),
m AS (SELECT * FROM d WHERE source_file = 'mixed.xlsx' AND rn = 1),
s AS (SELECT d.* FROM d LEFT JOIN m
        ON d.invoice_number = m.invoice_number
       AND d.reference_number = m.reference_number
      WHERE d.source_file = 'simple.xlsx' AND d.rn = 1
        AND m.invoice_number IS NULL)
SELECT invoice_number, reference_number, carrier_name,
       CAST(CAST(net_amount AS DECIMAL(12,2)) AS DOUBLE) AS net_amount,
       CAST(CAST(tax_amount AS DECIMAL(18,6)) AS DOUBLE) AS tax_amount,
       CAST(CAST(total_amount AS DECIMAL(18,6)) AS DOUBLE) AS total_amount,
       source_file
FROM (SELECT * FROM m UNION ALL SELECT * FROM s)
"""


def _xlsx_cell_sql(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"'{v!r}'"
    if isinstance(v, int):
        return f"'{v}'"
    return "'" + str(v).replace("'", "''") + "'"


_XLSX_VALUES = ", ".join(
    "(" + ", ".join(
        [f"'{name}'", str(ri)] + [_xlsx_cell_sql(v) for v in row]
    ) + ")"
    for name, rows in sorted(_XLSX_GOLDEN.items())
    for ri, row in enumerate(rows[1:])
)

SQL_XLSX_DISTRIBUTED = f"""
SELECT file, CAST(row_idx AS BIGINT) AS row_idx,
       invoice_number, carrier, total
FROM (VALUES {_XLSX_VALUES})
     AS t(file, row_idx, invoice_number, carrier, total)
"""




# --- round-5 session-3 additions -------------------------------------------

def q_triangle_count(spark, sf_dir):
    """Exact triangle count of the part co-occurrence graph (parts
    appearing in the same order are linked — the TPC-H stand-in for
    a similarity/co-citation graph) via degree-ordered edge
    orientation (operators/graph.py:triangle_count, Suri &
    Vassilvitskii 2011): each triangle counted once at its
    degree-minimal vertex, oriented out-neighborhoods O(sqrt(m)) so
    the wedge join is O(m^1.5) even with hub parts — the shape that
    survives skewed 100 TB graphs. The oracle counts the same
    triangles with the canonical a<b<c three-way self-join (engine-
    independent, no orientation needed at oracle scale)."""
    from smartbots_etl_facturas_spark.operators.graph import triangle_count

    # one-third of orders: the full co-occurrence graph's triangle
    # count is inherently wedge-heavy and would dominate the bench
    # total; the sampled graph still has >100k edges at sf0.1
    li = (
        _read(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 3 == 0)
        .select("l_orderkey", "l_partkey")
    )
    pairs = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("a"), F.col("b.l_partkey").alias("b")
        )
    )
    return triangle_count(pairs)


SQL_TRIANGLE_COUNT = """
WITH und AS (
  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                  greatest(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  WHERE a.l_orderkey % 3 = 0)
SELECT CAST(count(*) AS BIGINT) AS n_triangles
FROM und e1
JOIN und e2 ON e2.u = e1.v
JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
"""


def q_nation_trade_volume(spark, sf_dir):
    """TPC-H Q7 shape — bilateral trade volume: revenue shipped from
    supplier-nation to customer-nation per year, for two nation
    pairs in both directions. Two independent dimension chains
    (orders->customer->nation, lineitem->supplier->nation) meet on
    the fact-fact orderkey join; all dims broadcast, nation filters
    pushed below the fact join so non-matching rows die before the
    shuffle. Exact decimal revenue, one cast to double at the end."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    supplier = F.broadcast(_read(spark, sf_dir, "supplier"))
    n1 = F.broadcast(
        _read(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
        )
    )
    n2 = F.broadcast(
        _read(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
        )
    )
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(8,4)")
    pair = (
        (F.col("cust_nation") == "NATION_3") & (F.col("supp_nation") == "NATION_7")
    ) | (
        (F.col("cust_nation") == "NATION_7") & (F.col("supp_nation") == "NATION_3")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n1, F.col("c_nationkey") == F.col("cn_key"))
        .join(n2, F.col("s_nationkey") == F.col("sn_key"))
        .filter(pair)
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year(F.col("o_orderdate").cast("date")).cast("long").alias("o_year"),
        )
        .agg(
            F.sum(ep * (1 - disc)).cast("double").alias("volume"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_NATION_TRADE_VOLUME = """
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS volume,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE (cn.n_name = 'NATION_3' AND sn.n_name = 'NATION_7')
   OR (cn.n_name = 'NATION_7' AND sn.n_name = 'NATION_3')
GROUP BY 1, 2, 3
"""


def q_market_share(spark, sf_dir):
    """TPC-H Q8 shape — market share of one supplier nation inside
    one customer region per year: conditional decimal aggregation
    (share numerator = volume where supplier is NATION_8, denominator
    = all volume sold into ASIA customers). Numerator and denominator
    stay EXACT decimals; the ratio is one double division rounded to
    9 places at the very end (the accept_prob determinism recipe)."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    supplier = F.broadcast(_read(spark, sf_dir, "supplier"))
    nation = F.broadcast(_read(spark, sf_dir, "nation"))
    region = F.broadcast(_read(spark, sf_dir, "region"))
    sn = F.broadcast(
        _read(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
        )
    )
    vol = (
        F.col("l_extendedprice").cast("decimal(12,2)")
        * (1 - F.col("l_discount").cast("decimal(8,4)"))
    )
    zero = F.lit(0).cast("decimal(21,6)")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(
            F.year(F.col("o_orderdate").cast("date")).cast("long").alias("o_year")
        )
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_8", vol.cast("decimal(21,6)"))
                .otherwise(zero)
            ).alias("__num"),
            F.sum(vol.cast("decimal(21,6)")).alias("__den"),
        )
        .select(
            "o_year",
            F.col("__num").cast("double").alias("nation_volume"),
            F.col("__den").cast("double").alias("total_volume"),
            F.round(
                F.col("__num").cast("double") / F.col("__den").cast("double"), 9
            ).alias("mkt_share"),
        )
    )


SQL_MARKET_SHARE = """
WITH v AS (
  SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
         CAST(CAST(l_extendedprice AS DECIMAL(12,2))
              * (1 - CAST(l_discount AS DECIMAL(8,4))) AS DECIMAL(21,6)) AS vol,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region   ON cn.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE r_name = 'ASIA')
SELECT CAST(o_year AS BIGINT) AS o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_8' THEN vol
                     ELSE CAST(0 AS DECIMAL(21,6)) END) AS DOUBLE) AS nation_volume,
       CAST(sum(vol) AS DOUBLE) AS total_volume,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_8' THEN vol
                           ELSE CAST(0 AS DECIMAL(21,6)) END) AS DOUBLE)
             / CAST(sum(vol) AS DOUBLE), 9) AS mkt_share
FROM v GROUP BY o_year
"""


def q_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape — orders-per-customer distribution including
    the zero-order tail: LEFT join (so customers with no orders
    count at c_count=0) -> per-customer count -> histogram of the
    counts. The canonical double aggregation; both shuffles are
    keyed (custkey, then c_count) — no global anything."""
    customer = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


SQL_CUSTOMER_DISTRIBUTION = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey) t
GROUP BY c_count
"""


def q_large_orders(spark, sf_dir):
    """TPC-H Q18 shape — large-volume orders: HAVING on a grouped
    fact (orders whose summed lineitem quantity exceeds 300), then
    the qualifying keys pull in their order/customer context. The
    aggregate-then-semi-join pattern: the HAVING side reduces 60k
    lineitems to a handful of keys BEFORE any wide join."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


SQL_LARGE_ORDERS = """
SELECT c_name, o_orderkey, o_orderdate,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(total_qty AS DOUBLE) AS total_qty
FROM (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 300) big
JOIN orders   ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


_SQL_HEX8 = (
    "((strpos('0123456789abcdef', substr({h}, 1, 1)) - 1) * 268435456"
    " + (strpos('0123456789abcdef', substr({h}, 2, 1)) - 1) * 16777216"
    " + (strpos('0123456789abcdef', substr({h}, 3, 1)) - 1) * 1048576"
    " + (strpos('0123456789abcdef', substr({h}, 4, 1)) - 1) * 65536"
    " + (strpos('0123456789abcdef', substr({h}, 5, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr({h}, 6, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr({h}, 7, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr({h}, 8, 1)) - 1))"
)


def q_training_shards(spark, sf_dir):
    """Deterministic training-shard materialization
    (operators/sharding.py:assign_shards): every document gets a
    (shard, position) from two independent md5 draws — globally
    shuffled order, zero RNG state, bit-reproducible across engines,
    cluster sizes and reruns (the property that makes training runs
    resumable mid-epoch). Plan: ONE hash shuffle on the shard key +
    per-shard sort; writers pair it with partitionBy(shard) +
    sortWithinPartitions. The FULL assignment is value-checked."""
    from smartbots_etl_facturas_spark.operators.sharding import assign_shards

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return assign_shards(docs, "doc_id", n_shards=8).select(
        "shard", F.col("pos").cast("long").alias("pos"), "doc_id"
    )


SQL_TRAINING_SHARDS = f"""
WITH d AS (
  SELECT doc_id,
         md5('shards-v1:s:' || CAST(doc_id AS VARCHAR)) AS hs,
         md5('shards-v1:o:' || CAST(doc_id AS VARCHAR)) AS ho
  FROM documents),
s AS (
  SELECT doc_id, CAST({_SQL_HEX8.format(h='hs')} % 8 AS INT) AS shard, ho
  FROM d)
SELECT shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY ho, doc_id)
            AS BIGINT) AS pos,
       doc_id
FROM s
"""


def q_curriculum_interleave(spark, sf_dir):
    """Deterministic weighted source interleaving
    (operators/sharding.py:interleave_key): the mixture scheduler of
    multi-domain training — language l with integer weight w emits
    its r-th (md5-shuffled) example at schedule key r/w, so any
    schedule prefix holds the sources in ~w proportion with NO
    global window in the plan (one per-source window; consumers
    range-partition by the key). Weights en:8 zh:4 es:2 fr:2 de:1.
    The head of the schedule (top-200 via TakeOrdered — scale-safe)
    is value-checked row-for-row."""
    from smartbots_etl_facturas_spark.operators.sharding import interleave_key

    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    keyed = interleave_key(
        docs, "lang", "doc_id",
        weights={"en": 8, "zh": 4, "es": 2, "fr": 2, "de": 1},
    )
    return (
        keyed.orderBy("schedule_key", "__draw", "doc_id")
        .limit(200)
        .select(
            "lang",
            F.col("rank_in_source").cast("long").alias("rank_in_source"),
            "schedule_key",
            "doc_id",
        )
    )


SQL_CURRICULUM_INTERLEAVE = """
WITH d AS (
  SELECT doc_id, lang,
         md5('interleave-v1:' || CAST(doc_id AS VARCHAR)) AS h,
         CASE lang WHEN 'en' THEN 8 WHEN 'zh' THEN 4 WHEN 'es' THEN 2
                   WHEN 'fr' THEN 2 WHEN 'de' THEN 1 ELSE 1 END AS w
  FROM documents),
r AS (
  SELECT doc_id, lang, h,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
              AS BIGINT) AS rank_in_source,
         CAST(720720 / w AS BIGINT) AS step
  FROM d)
SELECT lang, rank_in_source,
       CAST(rank_in_source * step AS BIGINT) AS schedule_key, doc_id
FROM r
ORDER BY schedule_key, h, doc_id
LIMIT 200
"""


_BLOOM_K = 5


def _bloom_dim_orders(spark, sf_dir):
    """The selective dim side shared by the bloom queries: urgent
    high-value orders (~4% of orderkeys at any sf)."""
    return _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 400000)
    )


def q_bloom_join_prune(spark, sf_dir):
    """Runtime Bloom-filter join pruning
    (operators/bloom.py:bloom_prefilter — the Spark
    InjectRuntimeFilter technique as explicit dataflow): the dim side
    (urgent high-value orders, ~4% of keys) builds an auto-sized
    bitmap (16 bits/key, fp ~0.6%) as a bounded aggregation, broadcast onto the lineitem scan, and
    ~96% of fact rows die MAP-SIDE before the join shuffle. The
    exact join afterwards removes the Bloom's false positives, so
    the result is bit-identical to the plain join the oracle runs —
    only the shuffled volume differs (measured in PERF.md)."""
    from smartbots_etl_facturas_spark.operators.bloom import bloom_prefilter

    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    dim = _bloom_dim_orders(spark, sf_dir)
    cand = bloom_prefilter(
        li, "l_orderkey", dim.select("o_orderkey"), "o_orderkey",
        m_bits=None, k=_BLOOM_K,  # auto-sized from the dim count
    )
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(8,4)")
    return (
        cand.join(F.broadcast(dim), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.year(F.col("o_orderdate").cast("date")).cast("long").alias("o_year")
        )
        .agg(
            F.sum(ep * (1 - disc)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_BLOOM_JOIN_PRUNE = """
SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 400000
GROUP BY 1
"""


def q_bloom_prune_invariants(spark, sf_dir):
    """The Bloom pre-filter's contract, as data: (a) NO FALSE
    NEGATIVES — every fact row the exact semi-join keeps survives
    the bitmap (anti-join of truth against candidates is empty);
    (b) the filter actually prunes (candidates < fact rows). The
    counts n_fact / n_true are engine-independent and value-checked
    by the oracle; the booleans are pinned TRUE (candidate count
    itself is xxhash64-specific — recorded in PERF.md, not hashed)."""
    from smartbots_etl_facturas_spark.operators.bloom import bloom_prefilter

    li = _read(spark, sf_dir, "lineitem").select("l_orderkey")
    dim = _bloom_dim_orders(spark, sf_dir).select("o_orderkey")
    cand = bloom_prefilter(
        li, "l_orderkey", dim, "o_orderkey", m_bits=None, k=_BLOOM_K
    )
    truth = li.join(
        dim, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    )
    n_fact = li.agg(F.count(F.lit(1)).alias("n_fact"))
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("__n_cand"))
    missed = truth.join(
        cand.select("l_orderkey").distinct(), "l_orderkey", "left_anti"
    ).agg(F.count(F.lit(1)).alias("__missed"))
    return (
        n_fact.crossJoin(n_true).crossJoin(n_cand).crossJoin(missed)
        .select(
            "n_fact",
            "n_true",
            (F.col("__missed") == 0).alias("no_false_negatives"),
            (F.col("__n_cand") < F.col("n_fact")).alias("pruned_some"),
            (F.col("__n_cand") >= F.col("n_true")).alias("superset_of_truth"),
        )
    )


SQL_BLOOM_PRUNE_INVARIANTS = """
SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_fact,
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                             WHERE o_orderpriority = '1-URGENT'
                               AND o_totalprice > 400000)) AS n_true,
       TRUE AS no_false_negatives,
       TRUE AS pruned_some,
       TRUE AS superset_of_truth
"""




def q_hll_distinct(spark, sf_dir):
    """Engine-portable HyperLogLog (operators/sketches.py): distinct
    customers in orders estimated from 64 integer registers derived
    from md5 hashes — every register and the exact-integer harmonic
    sum are reproduced BIT-FOR-BIT by the DuckDB oracle (vs Spark's
    approx_count_distinct, whose sketch is engine-private). Register
    table is bounded (2^p rows) at any input size and merges with a
    plain groupBy-max (mergeability pinned in tests/test_sketches.py);
    the only float step is one IEEE division of two exactly-agreed
    integers. The relative-error contract (<20% at m=64) is asserted
    as a value-checked boolean."""
    from smartbots_etl_facturas_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    orders = _read(spark, sf_dir, "orders")
    est = hll_estimate(hll_registers(orders, "o_custkey", p=6), p=6)
    exact = orders.agg(
        F.countDistinct("o_custkey").cast("long").alias("n_exact")
    )
    return exact.crossJoin(est).select(
        "n_exact",
        "int_sum",
        "n_zero_buckets",
        "hll_estimate",
        (
            F.abs(F.col("hll_estimate") - F.col("n_exact"))
            / F.col("n_exact").cast("double")
            < 0.2
        ).alias("rel_err_ok"),
    )


SQL_HLL_DISTINCT = """
WITH h AS (
  SELECT ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 17592186044416
   + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 1099511627776
   + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 68719476736
   + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 4294967296
   + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 268435456
   + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 16777216
   + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 1048576
   + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1) * 65536
   + (strpos('0123456789abcdef', substr(h, 9, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substr(h, 10, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substr(h, 11, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(h, 12, 1)) - 1)) AS hv
  FROM (SELECT md5('hll-v1:' || CAST(o_custkey AS VARCHAR)) AS h FROM orders)),
br AS (
  SELECT CAST(hv // 4398046511104 AS BIGINT) AS bucket,
         hv % 4398046511104 AS rest
  FROM h),
regs AS (
  SELECT bucket,
         max(CASE WHEN rest = 0 THEN 43
                  ELSE 42 - length(bin(rest)) + 1 END) AS rho_max
  FROM br GROUP BY bucket),
agg AS (
  SELECT CAST(coalesce(sum(CAST(2 AS BIGINT) ** (43 - rho_max)), 0)
              + (64 - count(*)) * 8796093022208 AS BIGINT) AS int_sum,
         CAST(64 - count(*) AS BIGINT) AS n_zero_buckets
  FROM regs),
ex AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact FROM orders)
SELECT n_exact, int_sum, n_zero_buckets,
       round(CAST(0.7093409548395029 AS DOUBLE) * 64 * 64 * 8796093022208.0
             / CAST(int_sum AS DOUBLE), 3) AS hll_estimate,
       (abs(round(CAST(0.7093409548395029 AS DOUBLE) * 64 * 64 * 8796093022208.0
                  / CAST(int_sum AS DOUBLE), 3) - n_exact)
        / CAST(n_exact AS DOUBLE)) < 0.2 AS rel_err_ok
FROM ex, agg
"""


def q_cms_heavy_hitters(spark, sf_dir):
    """Engine-portable count-min sketch (operators/sketches.py): the
    event stream's 10 heaviest users estimated from a 4x256 integer
    counter matrix built with md5-derived hashes — the DuckDB oracle
    rebuilds the SAME matrix and value-checks every estimate EXACTLY
    (not bounds: equality). The matrix is bounded at d*w cells
    forever, merges by cell-wise sum (pinned in tests), and the
    no-underestimate guarantee (CMS can only over-count) is a
    value-checked boolean per probe key."""
    from smartbots_etl_facturas_spark.operators.sketches import (
        cms_cells,
        cms_lookup,
    )

    events = _read(spark, sf_dir, "events").select("user_id")
    cells = cms_cells(events, "user_id", d=4, w=256)
    top = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "user_id")
        .limit(10)
    )
    return (
        cms_lookup(cells, top.select("user_id"), "user_id", d=4, w=256)
        .join(top, "user_id")
        .select(
            "user_id",
            "true_cnt",
            "cms_est",
            (F.col("cms_est") >= F.col("true_cnt")).alias("no_underestimate"),
        )
    )


SQL_CMS_HEAVY_HITTERS = """
WITH cells_src AS (
  SELECT 0 AS row, ((strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 17592186044416
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 1099511627776
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 68719476736
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 4, 1)) - 1) * 4294967296
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 5, 1)) - 1) * 268435456
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 6, 1)) - 1) * 16777216
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 7, 1)) - 1) * 1048576
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 8, 1)) - 1) * 65536
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 9, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 10, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 11, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 12, 1)) - 1)) % 256 AS col FROM events
  UNION ALL
  SELECT 1 AS row, ((strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 17592186044416
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 1099511627776
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 68719476736
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 4, 1)) - 1) * 4294967296
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 5, 1)) - 1) * 268435456
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 6, 1)) - 1) * 16777216
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 7, 1)) - 1) * 1048576
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 8, 1)) - 1) * 65536
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 9, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 10, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 11, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 12, 1)) - 1)) % 256 AS col FROM events
  UNION ALL
  SELECT 2 AS row, ((strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 17592186044416
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 1099511627776
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 68719476736
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 4, 1)) - 1) * 4294967296
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 5, 1)) - 1) * 268435456
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 6, 1)) - 1) * 16777216
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 7, 1)) - 1) * 1048576
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 8, 1)) - 1) * 65536
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 9, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 10, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 11, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 12, 1)) - 1)) % 256 AS col FROM events
  UNION ALL
  SELECT 3 AS row, ((strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 17592186044416
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 1099511627776
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 68719476736
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 4, 1)) - 1) * 4294967296
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 5, 1)) - 1) * 268435456
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 6, 1)) - 1) * 16777216
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 7, 1)) - 1) * 1048576
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 8, 1)) - 1) * 65536
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 9, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 10, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 11, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 12, 1)) - 1)) % 256 AS col FROM events),
cells AS (
  SELECT row, col, CAST(count(*) AS BIGINT) AS cnt
  FROM cells_src GROUP BY row, col),
top AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS true_cnt
  FROM events GROUP BY user_id
  ORDER BY true_cnt DESC, user_id LIMIT 10),
probes_src AS (
  SELECT user_id, 0 AS row, ((strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 17592186044416
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 1099511627776
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 68719476736
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 4, 1)) - 1) * 4294967296
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 5, 1)) - 1) * 268435456
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 6, 1)) - 1) * 16777216
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 7, 1)) - 1) * 1048576
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 8, 1)) - 1) * 65536
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 9, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 10, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 11, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(md5('cms-v1:0:' || CAST(user_id AS VARCHAR)), 12, 1)) - 1)) % 256 AS col FROM top
  UNION ALL
  SELECT user_id, 1 AS row, ((strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 17592186044416
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 1099511627776
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 68719476736
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 4, 1)) - 1) * 4294967296
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 5, 1)) - 1) * 268435456
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 6, 1)) - 1) * 16777216
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 7, 1)) - 1) * 1048576
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 8, 1)) - 1) * 65536
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 9, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 10, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 11, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(md5('cms-v1:1:' || CAST(user_id AS VARCHAR)), 12, 1)) - 1)) % 256 AS col FROM top
  UNION ALL
  SELECT user_id, 2 AS row, ((strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 17592186044416
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 1099511627776
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 68719476736
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 4, 1)) - 1) * 4294967296
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 5, 1)) - 1) * 268435456
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 6, 1)) - 1) * 16777216
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 7, 1)) - 1) * 1048576
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 8, 1)) - 1) * 65536
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 9, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 10, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 11, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(md5('cms-v1:2:' || CAST(user_id AS VARCHAR)), 12, 1)) - 1)) % 256 AS col FROM top
  UNION ALL
  SELECT user_id, 3 AS row, ((strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 17592186044416
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 1099511627776
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 68719476736
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 4, 1)) - 1) * 4294967296
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 5, 1)) - 1) * 268435456
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 6, 1)) - 1) * 16777216
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 7, 1)) - 1) * 1048576
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 8, 1)) - 1) * 65536
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 9, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 10, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 11, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(md5('cms-v1:3:' || CAST(user_id AS VARCHAR)), 12, 1)) - 1)) % 256 AS col FROM top),
est AS (
  SELECT p.user_id, min(coalesce(c.cnt, 0)) AS cms_est
  FROM probes_src p LEFT JOIN cells c ON p.row = c.row AND p.col = c.col
  GROUP BY p.user_id)
SELECT t.user_id, t.true_cnt, e.cms_est,
       e.cms_est >= t.true_cnt AS no_underestimate
FROM top t JOIN est e ON t.user_id = e.user_id
"""




def q_join_cardinality_estimate(spark, sf_dir):
    """Pre-join cardinality estimation from merged HLL sketches — the
    cost-based-optimizer statistic every distributed planner keeps:
    |keys(A) ∩ keys(B)| estimated by inclusion–exclusion over three
    register tables (left, right, and their groupBy-MAX union — union
    of HLLs is exact by construction, the intersection inherits the
    subtraction's amplified error, bounded here at 35%). Each side's
    sketch is one bounded aggregation over that table alone — the two
    tables are never joined to get the estimate, which is the point:
    at 100 TB the planner reads two 64-row sketches instead of
    shuffling either input. Registers, integer harmonic sums, and the
    final estimates are reproduced bit-for-bit by the oracle; the
    exact intersection rides along for the error contract."""
    from smartbots_etl_facturas_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    left = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    right = _read(spark, sf_dir, "customer")
    ra = hll_registers(left, "o_custkey", p=6)
    rb = hll_registers(right, "c_custkey", p=6)
    ru = (
        ra.unionByName(rb)
        .groupBy("bucket")
        .agg(F.max("rho_max").alias("rho_max"))
    )
    ea = hll_estimate(ra, p=6).select(F.col("hll_estimate").alias("est_left"))
    eb = hll_estimate(rb, p=6).select(F.col("hll_estimate").alias("est_right"))
    eu = hll_estimate(ru, p=6).select(F.col("hll_estimate").alias("est_union"))
    exact = (
        left.select("o_custkey")
        .distinct()
        .join(right, F.col("o_custkey") == F.col("c_custkey"))
        .agg(F.count(F.lit(1)).alias("n_exact_intersection"))
    )
    est_i = F.round(
        F.col("est_left") + F.col("est_right") - F.col("est_union"), 3
    )
    return (
        ea.crossJoin(eb).crossJoin(eu).crossJoin(exact)
        .select(
            "est_left",
            "est_right",
            "est_union",
            est_i.alias("est_intersection"),
            "n_exact_intersection",
            (
                F.abs(est_i - F.col("n_exact_intersection"))
                / F.col("n_exact_intersection").cast("double")
                < 0.35
            ).alias("rel_err_ok"),
        )
    )


SQL_JOIN_CARDINALITY_ESTIMATE = """
WITH a_h AS (
  SELECT ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 17592186044416
   + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 1099511627776
   + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 68719476736
   + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 4294967296
   + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 268435456
   + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 16777216
   + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 1048576
   + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1) * 65536
   + (strpos('0123456789abcdef', substr(h, 9, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substr(h, 10, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substr(h, 11, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(h, 12, 1)) - 1)) AS hv
  FROM (SELECT md5('hll-v1:' || CAST(o_custkey AS VARCHAR)) AS h FROM (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'))),
a_regs AS (
  SELECT CAST(hv // 4398046511104 AS BIGINT) AS bucket,
         max(CASE WHEN hv % 4398046511104 = 0 THEN 43
                  ELSE 42 - length(bin(hv % 4398046511104)) + 1 END) AS rho_max
  FROM a_h GROUP BY bucket),
b_h AS (
  SELECT ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 17592186044416
   + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 1099511627776
   + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 68719476736
   + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 4294967296
   + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 268435456
   + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 16777216
   + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 1048576
   + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1) * 65536
   + (strpos('0123456789abcdef', substr(h, 9, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substr(h, 10, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substr(h, 11, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(h, 12, 1)) - 1)) AS hv
  FROM (SELECT md5('hll-v1:' || CAST(c_custkey AS VARCHAR)) AS h FROM customer)),
b_regs AS (
  SELECT CAST(hv // 4398046511104 AS BIGINT) AS bucket,
         max(CASE WHEN hv % 4398046511104 = 0 THEN 43
                  ELSE 42 - length(bin(hv % 4398046511104)) + 1 END) AS rho_max
  FROM b_h GROUP BY bucket),
u_regs AS (
  SELECT bucket, max(rho_max) AS rho_max
  FROM (SELECT * FROM a_regs UNION ALL SELECT * FROM b_regs)
  GROUP BY bucket),
a_agg AS (
  SELECT CAST(coalesce(sum(CAST(2 AS BIGINT) ** (43 - rho_max)), 0)
              + (64 - count(*)) * 8796093022208 AS BIGINT) AS int_sum
  FROM a_regs),
a_est AS (
  SELECT round(CAST(0.7093409548395029 AS DOUBLE) * 64 * 64 * 8796093022208.0
               / CAST(int_sum AS DOUBLE), 3) AS est
  FROM a_agg),
b_agg AS (
  SELECT CAST(coalesce(sum(CAST(2 AS BIGINT) ** (43 - rho_max)), 0)
              + (64 - count(*)) * 8796093022208 AS BIGINT) AS int_sum
  FROM b_regs),
b_est AS (
  SELECT round(CAST(0.7093409548395029 AS DOUBLE) * 64 * 64 * 8796093022208.0
               / CAST(int_sum AS DOUBLE), 3) AS est
  FROM b_agg),
u_agg AS (
  SELECT CAST(coalesce(sum(CAST(2 AS BIGINT) ** (43 - rho_max)), 0)
              + (64 - count(*)) * 8796093022208 AS BIGINT) AS int_sum
  FROM u_regs),
u_est AS (
  SELECT round(CAST(0.7093409548395029 AS DOUBLE) * 64 * 64 * 8796093022208.0
               / CAST(int_sum AS DOUBLE), 3) AS est
  FROM u_agg),
ex AS (
  SELECT CAST(count(*) AS BIGINT) AS n_exact_intersection
  FROM (SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderpriority = '1-URGENT') o
  JOIN customer c ON o.o_custkey = c.c_custkey)
SELECT a_est.est AS est_left, b_est.est AS est_right, u_est.est AS est_union,
       round(a_est.est + b_est.est - u_est.est, 3) AS est_intersection,
       n_exact_intersection,
       (abs(round(a_est.est + b_est.est - u_est.est, 3)
            - n_exact_intersection)
        / CAST(n_exact_intersection AS DOUBLE)) < 0.35 AS rel_err_ok
FROM a_est, b_est, u_est, ex
"""




def q_sample_exact_k(spark, sf_dir):
    """EXACT-k deterministic uniform sample (the reservoir-sampling
    contract without RNG state): the k=50 documents with the smallest
    md5 draw — every engine, partitioning, and rerun picks the SAME
    50 rows, unlike rand()-based sampling, and unlike rate-based
    hash sampling (stratified_sample) the output size is exactly k.
    Plan: TakeOrderedAndProject — a per-partition top-k + one k-row
    merge, NO global sort at any input size."""
    docs = _read(spark, sf_dir, "documents")
    draw = F.md5(F.concat(F.lit("sample-v1:"), F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", "lang", "source", draw.alias("draw"))
        .orderBy("draw", "doc_id")
        .limit(50)
    )


SQL_SAMPLE_EXACT_K = """
SELECT doc_id, lang, source,
       md5('sample-v1:' || CAST(doc_id AS VARCHAR)) AS draw
FROM documents
ORDER BY draw, doc_id
LIMIT 50
"""


def q_relational_division(spark, sf_dir):
    """Relational DIVISION ("customers who ordered under EVERY
    priority class") — the one classic relational-algebra operator no
    other registered query exercises. Implemented divisor-driven:
    per-customer distinct-priority count equi-joined (on a constant
    key, a plain hash join — no nested loop) against the global
    distinct-priority count, keeping customers whose coverage is
    total. Both sides are aggregates; no correlated subquery needed."""
    orders = _read(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.countDistinct("o_orderpriority").alias("n_prio")
    )
    total = orders.agg(
        F.countDistinct("o_orderpriority").alias("n_total")
    ).withColumn("__k", F.lit(1))
    return (
        per_cust.withColumn("__k", F.lit(1))
        .join(total, "__k")
        .filter(F.col("n_prio") == F.col("n_total"))
        .select(F.col("o_custkey").alias("c_custkey"), F.col("n_prio").cast("long").alias("n_prio"))
    )


SQL_RELATIONAL_DIVISION = """
SELECT o_custkey AS c_custkey,
       CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prio
FROM orders
GROUP BY o_custkey
HAVING count(DISTINCT o_orderpriority)
       = (SELECT count(DISTINCT o_orderpriority) FROM orders)
"""




def q_sample_exact_k_per_group(spark, sf_dir):
    """Stratified EXACT-k sampling: the 5 smallest md5 draws PER
    LANGUAGE — the per-stratum twin of sample_exact_k (which is
    global top-k) and the exact-size twin of stratified_sample
    (which is rate-based). One key-partitioned window, no global
    sort; deterministic membership at any partitioning."""
    docs = _read(spark, sf_dir, "documents")
    draw = F.md5(F.concat(F.lit("sample-v1:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy("draw", "doc_id")
    return (
        docs.select("doc_id", "lang", draw.alias("draw"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("lang", F.col("rk").cast("long").alias("rk"), "doc_id", "draw")
    )


SQL_SAMPLE_EXACT_K_PER_GROUP = """
SELECT lang, rk, doc_id, draw
FROM (SELECT lang, doc_id,
             md5('sample-v1:' || CAST(doc_id AS VARCHAR)) AS draw,
             CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('sample-v1:' || CAST(doc_id AS VARCHAR)), doc_id)
             AS BIGINT) AS rk
      FROM documents) t
WHERE rk <= 5
"""


def q_winsorized_stats(spark, sf_dir):
    """Robust per-segment statistics via rank-based winsorization:
    order-balance values are clipped at their segment's exact p10/p90
    BOUNDARY VALUES (the value at rank ceil(q·n) — pure integer rank
    arithmetic, no interpolation, so both engines agree bit-for-bit)
    before the mean — the outlier-resistant aggregate a metrics
    pipeline reports instead of a raw mean. Scale-safe since round
    8: the p10/p90 boundaries come from histogram selection
    (operators/orderstats.py:group_quantile_values — corpus touched
    by one map-side-combinable agg, cumulative window on the
    (segment × distinct-value) frame), replacing the 5-segment data
    rank that sorted ~20% of all customers per task; exact decimal
    mean numerator, one final rounded division."""
    from smartbots_etl_facturas_spark.operators.orderstats import (
        group_quantile_values,
    )

    cust = _read(spark, sf_dir, "customer")
    base = cust.select(
        "c_mktsegment",
        F.col("c_acctbal").cast("decimal(12,2)").alias("v"),
    )
    bounds = group_quantile_values(
        base, ["c_mktsegment"], "v", [("p10", 1, 10), ("p90", 9, 10)]
    ).select("c_mktsegment", "p10", "p90")
    clipped = base.join(F.broadcast(bounds), "c_mktsegment").select(
        "c_mktsegment",
        F.least(F.greatest(F.col("v"), F.col("p10")), F.col("p90")).alias("cv"),
    )
    return clipped.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cv").cast("double").alias("p10"),
        F.max("cv").cast("double").alias("p90"),
        F.round(F.sum("cv").cast("double") / F.count(F.lit(1)), 6).alias(
            "winsorized_mean"
        ),
    )


SQL_WINSORIZED_STATS = """
WITH ranked AS (
  SELECT c_mktsegment, CAST(c_acctbal AS DECIMAL(12,2)) AS v,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY CAST(c_acctbal AS DECIMAL(12,2)),
                                     c_custkey) AS rk,
         count(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM customer),
bounds AS (
  SELECT c_mktsegment, min(v) AS p10, max(v) AS p90
  FROM ranked
  WHERE rk = CAST(ceil(n * 0.1) AS INT) OR rk = CAST(ceil(n * 0.9) AS INT)
  GROUP BY c_mktsegment),
clipped AS (
  SELECT r.c_mktsegment,
         least(greatest(r.v, b.p10), b.p90) AS cv
  FROM ranked r JOIN bounds b ON r.c_mktsegment = b.c_mktsegment)
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
       CAST(min(cv) AS DOUBLE) AS p10, CAST(max(cv) AS DOUBLE) AS p90,
       round(CAST(sum(cv) AS DOUBLE) / count(*), 6) AS winsorized_mean
FROM clipped GROUP BY c_mktsegment
"""




def q_k_core(spark, sf_dir):
    """K-core decomposition (operators/graph.py:k_core, Seidman
    1983): 4 synchronous peeling rounds at k=8 over the sampled part
    co-occurrence graph — each round drops nodes whose CURRENT degree
    is below k plus their edges (one degree agg + two semi-joins per
    round, lineage checkpointed). The fixed round count makes the
    operator deterministic; the oracle unrolls the SAME 4 rounds as
    chained CTEs and value-checks every surviving (node, degree).
    Cascading-peel semantics (chains collapsing to nothing, cores
    surviving exactly) are pinned on adversarial toy graphs in
    tests/test_graph.py."""
    from smartbots_etl_facturas_spark.operators.graph import k_core

    li = (
        _read(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 3 == 0)
        .select("l_orderkey", "l_partkey")
    )
    pairs = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("a"), F.col("b.l_partkey").alias("b")
        )
    )
    # strict=False: this query's CONTRACT is the fixed-round peel —
    # the oracle unrolls the same 4 rounds, so both engines agree
    # whether or not the peel reached fixpoint at this scale
    return k_core(pairs, k=8, rounds=4, strict=False)


SQL_K_CORE = """
WITH e0 AS (
  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                  greatest(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  WHERE a.l_orderkey % 3 = 0),
d0 AS (
  SELECT node, count(*) AS deg FROM
    (SELECT u AS node FROM e0 UNION ALL SELECT v AS node FROM e0) t
  GROUP BY node),
k0 AS (SELECT node FROM d0 WHERE deg >= 8),
e1 AS (
  SELECT u, v FROM e0
  WHERE u IN (SELECT node FROM k0) AND v IN (SELECT node FROM k0)),
d1 AS (
  SELECT node, count(*) AS deg FROM
    (SELECT u AS node FROM e1 UNION ALL SELECT v AS node FROM e1) t
  GROUP BY node),
k1 AS (SELECT node FROM d1 WHERE deg >= 8),
e2 AS (
  SELECT u, v FROM e1
  WHERE u IN (SELECT node FROM k1) AND v IN (SELECT node FROM k1)),
d2 AS (
  SELECT node, count(*) AS deg FROM
    (SELECT u AS node FROM e2 UNION ALL SELECT v AS node FROM e2) t
  GROUP BY node),
k2 AS (SELECT node FROM d2 WHERE deg >= 8),
e3 AS (
  SELECT u, v FROM e2
  WHERE u IN (SELECT node FROM k2) AND v IN (SELECT node FROM k2)),
d3 AS (
  SELECT node, count(*) AS deg FROM
    (SELECT u AS node FROM e3 UNION ALL SELECT v AS node FROM e3) t
  GROUP BY node),
k3 AS (SELECT node FROM d3 WHERE deg >= 8),
e4 AS (
  SELECT u, v FROM e3
  WHERE u IN (SELECT node FROM k3) AND v IN (SELECT node FROM k3))
SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
  (SELECT u AS node FROM e4 UNION ALL SELECT v AS node FROM e4) t
GROUP BY node
"""




def q_mad_outliers(spark, sf_dir):
    """Robust outlier detection via median absolute deviation
    (Hampel's rule): per market segment, median and MAD are the
    VALUES at rank ceil(n/2) — pure integer rank arithmetic, no
    interpolation, so every boundary is an exact decimal both engines
    agree on — and the report counts accounts beyond median ± 3·MAD.
    The robust twin of group_anomalies (whose z-scores a single
    outlier can drag); MAD's 50% breakdown point is why profiling
    suites prefer it at corpus scale. Scale-safe since round 8: both
    medians come from histogram selection
    (operators/orderstats.py:group_quantile_values) — the corpus is
    touched only by map-side-combinable groupBy aggregations and the
    cumulative windows run on (segment × distinct-value) frames, so
    no group ever sorts on a single task (the 5-segment data rank the
    previous plan used put ~20% of all customers on each of 5
    tasks)."""
    from smartbots_etl_facturas_spark.operators.orderstats import (
        group_quantile_values,
    )

    cust = _read(spark, sf_dir, "customer")
    base = cust.select(
        "c_mktsegment",
        F.col("c_custkey"),
        F.col("c_acctbal").cast("decimal(12,2)").alias("v"),
    )
    med = group_quantile_values(
        base, ["c_mktsegment"], "v", [("med", 1, 2)]
    ).select("c_mktsegment", "med")
    dev = base.join(F.broadcast(med), "c_mktsegment").select(
        "c_mktsegment",
        "c_custkey",
        "v",
        "med",
        F.abs(F.col("v") - F.col("med")).alias("ad"),
    )
    mad = group_quantile_values(
        dev, ["c_mktsegment"], "ad", [("mad", 1, 2)]
    ).select("c_mktsegment", "mad")
    return (
        dev.join(F.broadcast(mad), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med").cast("double").alias("med"),
            F.min("mad").cast("double").alias("mad"),
            F.sum(
                F.when(
                    F.abs(F.col("v") - F.col("med")) > 3 * F.col("mad"), 1
                ).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
    )


SQL_MAD_OUTLIERS = """
WITH ranked AS (
  SELECT c_mktsegment, c_custkey, CAST(c_acctbal AS DECIMAL(12,2)) AS v,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY CAST(c_acctbal AS DECIMAL(12,2)),
                                     c_custkey) AS rk,
         count(*) OVER (PARTITION BY c_mktsegment) AS n
  FROM customer),
med AS (
  SELECT c_mktsegment, v AS med FROM ranked
  WHERE rk = CAST(ceil(n * 0.5) AS INT)),
dev AS (
  SELECT r.c_mktsegment, r.c_custkey, r.v, m.med, abs(r.v - m.med) AS ad
  FROM ranked r JOIN med m ON r.c_mktsegment = m.c_mktsegment),
dr AS (
  SELECT c_mktsegment, ad,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY ad, c_custkey) AS rk2,
         count(*) OVER (PARTITION BY c_mktsegment) AS n2
  FROM dev),
mad AS (
  SELECT c_mktsegment, ad AS mad FROM dr
  WHERE rk2 = CAST(ceil(n2 * 0.5) AS INT))
SELECT d.c_mktsegment, CAST(count(*) AS BIGINT) AS n,
       CAST(min(d.med) AS DOUBLE) AS med,
       CAST(min(m.mad) AS DOUBLE) AS mad,
       CAST(sum(CASE WHEN abs(d.v - d.med) > 3 * m.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.c_mktsegment = m.c_mktsegment
GROUP BY d.c_mktsegment
"""




def q_bm25_search(spark, sf_dir):
    """Full BM25 retrieval (Robertson/Spärck Jones; k1=1.2, b=0.75):
    top-10 documents for the query {spark, join, window} scored from
    inverted-index statistics (tf per doc-term, df per term, doc
    length, corpus avgdl). Float discipline is the lm_quality recipe:
    each per-term score is rounded to 6 places THEN summed as an
    exact decimal — order-free, so the total is bit-identical across
    engines and partitionings even though ln() is only
    ulp-deterministic. Plan: tokenize-explode + two keyed aggs; only
    rows containing query terms survive past the inverted-index
    filter, and corpus constants ride a constant-key 1-row hash join
    (no nested loop)."""
    from smartbots_etl_facturas_spark.functions.text import tokens

    q_terms = ["spark", "join", "window"]
    docs = _read(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = tok.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_len"),
    ).withColumn("__k", F.lit(1))
    dfreq = (
        tf.filter(F.col("term").isin(q_terms))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    m = (
        tf.filter(F.col("term").isin(q_terms))
        .join(dfreq, "term")
        .join(dl, "doc_id")
        .withColumn("__k", F.lit(1))
        .join(stats, "__k")
    )
    idf = F.log(
        1.0
        + (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
    )
    denom = F.col("tf").cast("double") + 1.2 * (
        0.25
        + 0.75
        * (
            (F.col("dl") * F.col("n_docs")).cast("double")
            / F.col("total_len").cast("double")
        )
    )
    term_score = F.round(
        idf * (F.col("tf").cast("double") * 2.2) / denom, 6
    ).cast("decimal(28,6)")
    return (
        m.select("doc_id", term_score.alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum("s").alias("__bm"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
        .orderBy(F.desc("__bm"), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            F.col("__bm").cast("double").alias("bm25"),
            "n_terms_matched",
        )
    )


SQL_BM25_SEARCH = r"""
WITH tok AS (
  SELECT doc_id, u.term
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        FROM documents) t,
       unnest(t.w) AS u(term)),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
stats AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                 CAST(count(*) AS BIGINT) AS total_len FROM tok),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM tf WHERE term IN ('spark', 'join', 'window') GROUP BY 1),
scored AS (
  SELECT f.doc_id,
         CAST(round(
           ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                    / (CAST(df AS DOUBLE) + 0.5))
           * (CAST(tf AS DOUBLE) * 2.2)
           / (CAST(tf AS DOUBLE)
              + 1.2 * (0.25 + 0.75 * (CAST(d.dl * n_docs AS DOUBLE)
                                      / CAST(total_len AS DOUBLE)))),
           6) AS DECIMAL(28,6)) AS s
  FROM tf f
  JOIN dfreq USING (term)
  JOIN dl d ON f.doc_id = d.doc_id
  CROSS JOIN stats
  WHERE f.term IN ('spark', 'join', 'window'))
SELECT doc_id, CAST(sum(s) AS DOUBLE) AS bm25,
       CAST(count(*) AS BIGINT) AS n_terms_matched
FROM scored GROUP BY doc_id
ORDER BY sum(s) DESC, doc_id
LIMIT 10
"""




_SKETCH_STATE_CACHE: dict = {}


def ensure_sketch_state(spark, sf_dir: str) -> str:
    """Build-once half of the incremental-sketch split: persist the
    HLL register table of the events seen so far (event_id % 10 != 0
    — the standing corpus) through the versioned sink, once per
    process. The register table IS the durable state a profiling
    service keeps between ingest batches: 64 rows at any corpus
    size."""
    base = _SKETCH_STATE_CACHE.get(sf_dir)
    if base is None:
        from smartbots_etl_facturas_spark.operators.sketches import hll_registers
        from smartbots_etl_facturas_spark.sinks.staged import publish

        base = _scratch_dir("hll_state_")
        corpus = _read(spark, sf_dir, "events").filter(
            F.col("event_id") % 10 != 0
        )
        publish(hll_registers(corpus, "user_id", p=6), base)
        _SKETCH_STATE_CACHE[sf_dir] = base
    return base


def q_hll_incremental(spark, sf_dir):
    """Incremental distinct-count maintenance against PERSISTED
    sketch state: the stored register table (published once through
    the versioned sink by ensure_sketch_state) merges with the
    freshly-arriving batch's registers via groupBy-MAX — touching
    ONLY the 64-row state and the delta, never re-reading the
    corpus — and because HLL merge is exact by construction, the
    merged estimate is BIT-IDENTICAL to a full rebuild, which is
    exactly what the oracle computes (DuckDB re-derives the
    whole-table sketch from scratch; the incremental path must land
    on the same registers and the same float estimate). The
    sketch-state twin of minhash_incremental/ann_pq_prebuilt's
    build-once/probe-many split."""
    from smartbots_etl_facturas_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from smartbots_etl_facturas_spark.sinks.staged import read_published

    base = ensure_sketch_state(spark, sf_dir)
    stored = read_published(spark, base)
    events = _read(spark, sf_dir, "events")
    delta = events.filter(F.col("event_id") % 10 == 0)
    merged = (
        stored.unionByName(hll_registers(delta, "user_id", p=6))
        .groupBy("bucket")
        .agg(F.max("rho_max").alias("rho_max"))
    )
    est = hll_estimate(merged, p=6)
    exact = events.agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return exact.crossJoin(est).select(
        "n_exact",
        "int_sum",
        "n_zero_buckets",
        "hll_estimate",
        (
            F.abs(F.col("hll_estimate") - F.col("n_exact"))
            / F.col("n_exact").cast("double")
            < 0.2
        ).alias("rel_err_ok"),
    )


SQL_HLL_INCREMENTAL = """
WITH h AS (
  SELECT ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 17592186044416
   + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 1099511627776
   + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 68719476736
   + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 4294967296
   + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 268435456
   + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 16777216
   + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 1048576
   + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1) * 65536
   + (strpos('0123456789abcdef', substr(h, 9, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substr(h, 10, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substr(h, 11, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(h, 12, 1)) - 1)) AS hv
  FROM (SELECT md5('hll-v1:' || CAST(user_id AS VARCHAR)) AS h FROM events)),
br AS (
  SELECT CAST(hv // 4398046511104 AS BIGINT) AS bucket,
         hv % 4398046511104 AS rest
  FROM h),
regs AS (
  SELECT bucket,
         max(CASE WHEN rest = 0 THEN 43
                  ELSE 42 - length(bin(rest)) + 1 END) AS rho_max
  FROM br GROUP BY bucket),
agg AS (
  SELECT CAST(coalesce(sum(CAST(2 AS BIGINT) ** (43 - rho_max)), 0)
              + (64 - count(*)) * 8796093022208 AS BIGINT) AS int_sum,
         CAST(64 - count(*) AS BIGINT) AS n_zero_buckets
  FROM regs),
ex AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events)
SELECT n_exact, int_sum, n_zero_buckets,
       round(CAST(0.7093409548395029 AS DOUBLE) * 64 * 64 * 8796093022208.0
             / CAST(int_sum AS DOUBLE), 3) AS hll_estimate,
       (abs(round(CAST(0.7093409548395029 AS DOUBLE) * 64 * 64 * 8796093022208.0
                  / CAST(int_sum AS DOUBLE), 3) - n_exact)
        / CAST(n_exact AS DOUBLE)) < 0.2 AS rel_err_ok
FROM ex, agg
"""


_KLL_STATE_CACHE: dict[str, str] = {}


def ensure_kll_state(spark, sf_dir: str) -> str:
    """Build-once half of the incremental-quantile split: persist the
    per-(group, partition) KLL partials of the standing lineitem
    corpus (l_orderkey % 10 != 0) through the versioned sink, once
    per process. The partials table IS the durable state a
    percentile service keeps between ingest batches — O(groups ×
    partitions) sketch rows at any corpus size, each O(k·log(n/k))
    doubles."""
    base = _KLL_STATE_CACHE.get(sf_dir)
    if base is None:
        from smartbots_etl_facturas_spark.operators.quantiles import (
            kll_group_partials,
        )
        from smartbots_etl_facturas_spark.sinks.staged import publish

        base = _scratch_dir("kll_state_")
        corpus = (
            _read(spark, sf_dir, "lineitem")
            .filter(F.col("l_orderkey") % 10 != 0)
            .select(
                "l_returnflag",
                F.col("l_extendedprice").cast("double").alias("price"),
            )
        )
        publish(kll_group_partials(corpus, "l_returnflag", "price", k=256), base)
        _KLL_STATE_CACHE[sf_dir] = base
    return base


def q_kll_incremental(spark, sf_dir):
    """Incremental percentile maintenance against PERSISTED sketch
    state (operators/quantiles.py): the stored KLL partials table
    (published once by ensure_kll_state) unions with the freshly-
    arriving batch's partials — touching ONLY the sketch rows and the
    delta, never re-reading the corpus — and the merged estimates are
    rank-checked against the FULL corpus exactly like kll_quantiles:
    the oracle recomputes true per-group row counts and the pinned
    invariant is |rank(est) − q·n| ≤ max(1%·n, 1). Delta partials get
    a disjoint __pid range so the pinned merge order stays total.
    The quantile member of the persisted-state family
    (hll_incremental / minhash_incremental / ann_pq_prebuilt)."""
    from smartbots_etl_facturas_spark.operators.quantiles import (
        kll_group_partials,
        kll_group_quantiles,
    )
    from smartbots_etl_facturas_spark.sinks.staged import read_published

    base = ensure_kll_state(spark, sf_dir)
    stored = read_published(spark, base)
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("price"),
    )
    delta = li.filter(F.col("l_orderkey") % 10 == 0).select(
        "l_returnflag", "price"
    )
    delta_partials = kll_group_partials(delta, "l_returnflag", "price", k=256)
    partials = stored.unionByName(
        delta_partials.withColumn("__pid", F.col("__pid") + F.lit(1_000_000))
    )
    qs = [0.25, 0.5, 0.75, 0.95]
    est = kll_group_quantiles(
        li, "l_returnflag", "price", qs, k=256, partials=partials
    )
    return (
        li.join(F.broadcast(est), "l_returnflag")
        .groupBy("l_returnflag", "q", "n")
        .agg(
            F.sum(F.when(F.col("price") <= F.col("est"), 1).otherwise(0))
            .cast("long")
            .alias("rank_of_est"),
        )
        .select(
            "l_returnflag",
            "q",
            F.col("n").alias("n_rows"),
            (
                F.abs(F.col("rank_of_est") - F.col("q") * F.col("n"))
                <= F.greatest(F.col("n") * 0.01, F.lit(1.0))
            ).alias("rank_err_ok"),
        )
        .orderBy("l_returnflag", "q")
    )


SQL_KLL_INCREMENTAL = """
SELECT l_returnflag,
       q,
       CAST(count(*) AS BIGINT) AS n_rows,
       TRUE AS rank_err_ok
FROM lineitem
CROSS JOIN (VALUES (0.25), (0.5), (0.75), (0.95)) AS qs(q)
GROUP BY l_returnflag, q
ORDER BY l_returnflag, q
"""


_SQL_HEX12 = (
    "((strpos('0123456789abcdef', substr({h}, 1, 1)) - 1) * 17592186044416"
    " + (strpos('0123456789abcdef', substr({h}, 2, 1)) - 1) * 1099511627776"
    " + (strpos('0123456789abcdef', substr({h}, 3, 1)) - 1) * 68719476736"
    " + (strpos('0123456789abcdef', substr({h}, 4, 1)) - 1) * 4294967296"
    " + (strpos('0123456789abcdef', substr({h}, 5, 1)) - 1) * 268435456"
    " + (strpos('0123456789abcdef', substr({h}, 6, 1)) - 1) * 16777216"
    " + (strpos('0123456789abcdef', substr({h}, 7, 1)) - 1) * 1048576"
    " + (strpos('0123456789abcdef', substr({h}, 8, 1)) - 1) * 65536"
    " + (strpos('0123456789abcdef', substr({h}, 9, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr({h}, 10, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr({h}, 11, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr({h}, 12, 1)) - 1))"
)


def q_kmv_set_cardinality(spark, sf_dir):
    """K-minimum-values sketch set operations (operators/sketches.py:
    kmv_minima/kmv_set_estimates, Beyer et al. 2007): union AND
    intersection cardinality of the urgent-priority vs high-priority
    customer sets estimated from two 64-row hash-minima sketches.
    The capability HLL lacks: the minima are an md5-uniform sample of
    the distinct values, so the INTERSECTION is estimated directly
    (shared members under the combined 64th minimum), not by
    inclusion–exclusion. Every minima row, count and both estimates
    are reproduced BIT-FOR-BIT by the DuckDB oracle (the estimates
    are fixed-shape IEEE divisions of exactly-agreed integers). Plan:
    raw custkeys never shuffle — a map-side Arrow pass keeps ≤ 64
    unique hashes per partition, then k-row TakeOrdered merges; every
    join in the set algebra is sketch-sized (≤ 64 rows)."""
    from smartbots_etl_facturas_spark.operators.sketches import (
        kmv_estimate,
        kmv_minima,
        kmv_set_estimates,
    )

    orders = _read(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = orders.filter(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    ma, mb = kmv_minima(a, "o_custkey", k=64), kmv_minima(b, "o_custkey", k=64)
    ea = kmv_estimate(ma, 64).select(
        F.col("n_minima").alias("n_minima_a"),
        F.col("kmv_estimate").alias("est_a"),
    )
    eb = kmv_estimate(mb, 64).select(
        F.col("n_minima").alias("n_minima_b"),
        F.col("kmv_estimate").alias("est_b"),
    )
    sets = kmv_set_estimates(ma, mb, k=64)
    da, db = a.distinct(), b.distinct()
    exact = (
        da.unionByName(db)
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact_union"))
        .crossJoin(
            da.join(db, "o_custkey", "left_semi").agg(
                F.count(F.lit(1)).cast("long").alias("n_exact_intersect")
            )
        )
    )
    return exact.crossJoin(ea).crossJoin(eb).crossJoin(sets).select(
        "n_exact_union",
        "n_exact_intersect",
        "n_minima_a",
        "n_minima_b",
        "est_a",
        "est_b",
        "n_union_minima",
        "union_kth_h",
        "n_both",
        "est_union",
        "est_intersect",
        (
            F.abs(F.col("est_union") - F.col("n_exact_union"))
            / F.col("n_exact_union").cast("double")
            < 0.5
        ).alias("union_err_ok"),
        (
            F.abs(F.col("est_intersect") - F.col("n_exact_intersect"))
            / F.col("n_exact_intersect").cast("double")
            < 0.5
        ).alias("intersect_err_ok"),
    )


SQL_KMV_SET_CARDINALITY = f"""
WITH da AS (SELECT DISTINCT o_custkey FROM orders
            WHERE o_orderpriority = '1-URGENT'),
db AS (SELECT DISTINCT o_custkey FROM orders
       WHERE o_orderpriority = '2-HIGH'),
ha AS (SELECT {_SQL_HEX12.format(h="md5('kmv-v1:' || CAST(o_custkey AS VARCHAR))")} AS h
       FROM da),
hb AS (SELECT {_SQL_HEX12.format(h="md5('kmv-v1:' || CAST(o_custkey AS VARCHAR))")} AS h
       FROM db),
ma AS (SELECT h FROM ha ORDER BY h LIMIT 64),
mb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
mu AS (SELECT h FROM (SELECT h FROM ma UNION SELECT h FROM mb) u
       ORDER BY h LIMIT 64),
stats AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM ma) AS n_minima_a,
         (SELECT CAST(count(*) AS BIGINT) FROM mb) AS n_minima_b,
         (SELECT CAST(count(*) AS BIGINT) FROM mu) AS n_union_minima,
         (SELECT max(h) FROM mu) AS union_kth_h,
         (SELECT CAST(count(*) AS BIGINT) FROM mu
          WHERE h IN (SELECT h FROM ma) AND h IN (SELECT h FROM mb)) AS n_both,
         (SELECT max(h) FROM ma) AS kth_a,
         (SELECT max(h) FROM mb) AS kth_b),
ests AS (
  SELECT *,
    CASE WHEN n_minima_a < 64 THEN CAST(n_minima_a AS DOUBLE)
         ELSE round(CAST(63 AS DOUBLE) * 281474976710656.0
                    / CAST(kth_a AS DOUBLE), 3) END AS est_a,
    CASE WHEN n_minima_b < 64 THEN CAST(n_minima_b AS DOUBLE)
         ELSE round(CAST(63 AS DOUBLE) * 281474976710656.0
                    / CAST(kth_b AS DOUBLE), 3) END AS est_b,
    CASE WHEN n_union_minima < 64 THEN CAST(n_union_minima AS DOUBLE)
         ELSE round(CAST(63 AS DOUBLE) * 281474976710656.0
                    / CAST(union_kth_h AS DOUBLE), 3) END AS est_union
  FROM stats),
ex AS (
  SELECT (SELECT CAST(count(*) AS BIGINT)
          FROM (SELECT o_custkey FROM da UNION SELECT o_custkey FROM db) u
         ) AS n_exact_union,
         (SELECT CAST(count(*) AS BIGINT) FROM da
          WHERE o_custkey IN (SELECT o_custkey FROM db)) AS n_exact_intersect)
SELECT n_exact_union, n_exact_intersect, n_minima_a, n_minima_b,
       est_a, est_b, n_union_minima, union_kth_h, n_both, est_union,
       round(CAST(n_both AS DOUBLE) * est_union
             / CAST(n_union_minima AS DOUBLE), 3) AS est_intersect,
       (abs(est_union - n_exact_union) / CAST(n_exact_union AS DOUBLE) < 0.5)
         AS union_err_ok,
       (abs(round(CAST(n_both AS DOUBLE) * est_union
                  / CAST(n_union_minima AS DOUBLE), 3) - n_exact_intersect)
        / CAST(n_exact_intersect AS DOUBLE) < 0.5) AS intersect_err_ok
FROM ex, ests
"""


def q_bfs_reach(spark, sf_dir):
    """Multi-source BFS reachability (operators/graph.py:bfs_levels):
    minimum hop distance from the seed part (lowest key in the
    sampled co-occurrence graph) out to 3 hops — the
    level-synchronous Pregel shape: per level one frontier⋈edges
    equi-join + one anti-join against visited, lineage checkpointed.
    Min-distance is partition-order-free, so a depth-bounded
    recursive CTE (UNION-dedup, dist < 3 guard) value-checks every
    (node, dist) on the oracle engine."""
    from smartbots_etl_facturas_spark.operators.graph import bfs_levels

    li = (
        _read(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    pairs = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("a"), F.col("b.l_partkey").alias("b")
        )
    )
    seeds = li.agg(F.min("l_partkey").alias("node"))
    return bfs_levels(pairs, seeds, max_depth=3)


SQL_BFS_REACH = """
WITH RECURSIVE und AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  WHERE a.l_orderkey % 5 = 0),
seed AS (
  SELECT min(l_partkey) AS n FROM lineitem WHERE l_orderkey % 5 = 0),
walk(n, dist) AS (
  SELECT n, 0 FROM seed
  UNION
  SELECT u.t, w.dist + 1
  FROM walk w JOIN und u ON u.s = w.n
  WHERE w.dist < 3)
SELECT n AS node, CAST(min(dist) AS BIGINT) AS dist
FROM walk GROUP BY n
"""


def q_xlsx_template_append(spark, sf_dir):
    """S8 TEMPLATE-PRESERVING in-place append, end-to-end (round 10 —
    the reference's excel_handler.py:61-132 append + :185-233 image
    preservation, previously the recorded S8 non-goal): build a
    STYLED template workbook (number formats + an embedded media
    part), append rows derived from the region dim via
    sources/xlsx.py:append_rows_xlsx — which rewrites ONLY the sheet
    part, copies styles/images byte-for-byte, and lets appended cells
    inherit the last styled cell's s= ref per column — then read the
    whole grid back through the stdlib OOXML codec. The oracle
    re-derives the exact expected grid (header + template row +
    appended region rows) from the region table in SQL, so the
    append's VALUES and POSITIONS are value-checked cross-engine;
    the byte-identity of untouched members is pinned in
    tests/test_xlsx.py. Per-file finishing step by design (workbooks
    are not splittable); the distributed surface stays
    read_xlsx_grid_distributed."""
    from smartbots_etl_facturas_spark.sources.xlsx import (
        append_rows_xlsx,
        parse_xlsx_grid,
        write_xlsx,
    )

    d = _scratch_dir("xlsx_append_")
    p = os.path.join(d, "t.xlsx")
    # round-12: the template is built through the AUTHORED-style path
    # (alignments + bold/bordered header — the new-workbook styling
    # the reference inherits from COLUMN_FORMATS + pandas to_excel);
    # values are oracle-checked here, the style bytes are pinned in
    # tests/test_xlsx.py
    write_xlsx(
        p,
        [["key", "name"], [99, "TEMPLATE"]],
        column_formats={0: "0"},
        column_alignments={0: "center", 1: "left"},
        header_style=True,
    )
    region = sorted(
        (int(r.r_regionkey), str(r.r_name))
        for r in _read(spark, sf_dir, "region")
        .select("r_regionkey", "r_name").collect()
    )  # 5-row dim: driver-side collect is dim-bounded by contract
    append_rows_xlsx(p, [[k, n] for k, n in region])
    grid = parse_xlsx_grid(open(p, "rb").read())
    return spark.createDataFrame(
        [(i, row[0], row[1]) for i, row in enumerate(grid)],
        "row_idx long, c0 string, c1 string",
    )


SQL_XLSX_TEMPLATE_APPEND = """
SELECT CAST(0 AS BIGINT) AS row_idx, 'key' AS c0, 'name' AS c1
UNION ALL
SELECT CAST(1 AS BIGINT), '99', 'TEMPLATE'
UNION ALL
SELECT CAST(2 + rk AS BIGINT), CAST(rk AS VARCHAR), r_name
FROM (SELECT r_regionkey AS rk, r_name FROM region)
"""


def q_sssp_weighted(spark, sf_dir):
    """Weighted single-source shortest paths (operators/graph.py:sssp):
    Bellman-Ford relaxation rounds over the same sampled part
    co-occurrence graph as bfs_reach, with deterministic integer edge
    weights ((a+b) % 7 + 1). Three rounds ⇒ exact min distance over
    paths of ≤ 3 edges — a hop-bounded contract a depth-bounded
    recursive CTE value-checks node by node. All-integer distances:
    no float accumulation order to disagree on."""
    from smartbots_etl_facturas_spark.operators.graph import sssp

    li = (
        _read(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    edges = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("s"),
            F.col("b.l_partkey").alias("t"),
            ((F.col("a.l_partkey") + F.col("b.l_partkey")) % 7 + 1).alias("w"),
        )
        .distinct()
    )
    seeds = li.agg(F.min("l_partkey").alias("node"))
    return sssp(edges, seeds, rounds=3)


SQL_SSSP_WEIGHTED = """
WITH RECURSIVE und AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t,
         (a.l_partkey + b.l_partkey) % 7 + 1 AS w
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  WHERE a.l_orderkey % 5 = 0),
seed AS (
  SELECT min(l_partkey) AS n FROM lineitem WHERE l_orderkey % 5 = 0),
walk(n, dist, hop) AS (
  SELECT n, CAST(0 AS BIGINT), 0 FROM seed
  UNION
  SELECT u.t, w.dist + u.w, w.hop + 1
  FROM walk w JOIN und u ON u.s = w.n
  WHERE w.hop < 3)
SELECT n AS node, CAST(min(dist) AS BIGINT) AS dist
FROM walk GROUP BY n
"""


def q_incremental_join(spark, sf_dir):
    """Incremental JOIN-view maintenance
    (operators/incremental.py:join_view_delta): the maintained view
    V = orders ⋈ customer refreshed from delta batches on BOTH sides
    (ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB) without recomputing A⋈B — the join half of
    incremental view maintenance, completing the incremental family
    (incremental_agg / hll_incremental / minhash_incremental). The
    result must equal the full recompute: the oracle joins the whole
    tables."""
    from smartbots_etl_facturas_spark.operators.incremental import (
        join_view_delta,
    )

    orders = _read(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_totalprice").cast(DEC).alias("o_totalprice"),
    )
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_name")
    a_old, delta_a = (
        orders.filter(F.col("o_orderkey") % 10 != 0),
        orders.filter(F.col("o_orderkey") % 10 == 0),
    )
    b_old, delta_b = (
        cust.filter(F.col("c_custkey") % 7 != 0),
        cust.filter(F.col("c_custkey") % 7 == 0),
    )
    v_old = a_old.join(b_old, "c_custkey")
    delta = join_view_delta(a_old, delta_a, b_old, delta_b, "c_custkey")
    # Final output ships DOUBLE, not DECIMAL: the harness compare goes
    # through pandas, where DuckDB renders decimals as float64 while
    # Spark keeps decimal.Decimal — '123.50' vs '123.5' hash-mismatch.
    # Both engines cast the same exact decimal to the identical double.
    return v_old.unionByName(delta).select(
        "o_orderkey",
        "c_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "c_name",
    )


SQL_INCREMENTAL_JOIN = """
SELECT o.o_orderkey, c.c_custkey,
       CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
       c.c_name
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
"""


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (operators/events.py:transition_matrix): lag() under a
    total (ts, event_id) order per user, (from,to) counts, and
    row-normalized probabilities in exact integer micro-units
    ((n·1e6) div total — the graph.py integer-nanos discipline, so
    the matrix is bit-identical on any engine). Matrix size is
    |event types|², never corpus-scale."""
    from smartbots_etl_facturas_spark.operators.events import (
        transition_matrix,
    )

    ev = read_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    return transition_matrix(ev)


SQL_EVENT_TRANSITIONS = """
WITH e AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_ns(ts), event_id) AS prev
  FROM events),
c AS (SELECT prev AS from_type, event_type AS to_type, count(*) AS n
      FROM e WHERE prev IS NOT NULL GROUP BY 1, 2),
t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n,
       CAST((c.n * 1000000) // t.tot AS BIGINT) AS prob_micros
FROM c JOIN t USING (from_type)
"""


def q_cusum_changepoints(spark, sf_dir):
    """Per-user one-sided CUSUM drift detection
    (operators/timeseries.py:cusum): s_i = max(0, s_{i-1} + x_i - T)
    over the value stream in exact ten-thousandth units (T = 60.0,
    flag at h = 200.0). The max-reset recurrence LOOKS sequential
    like EWMA but has a closed two-window form (prefix sum minus
    running min — the drawdown identity), so unlike ewma_values this
    stays whole-stage-codegen'd JVM windows sharing ONE key shuffle;
    the oracle replays the same two windows instead of a recursive
    CTE. All int64: bit-identical flags on any engine."""
    from smartbots_etl_facturas_spark.operators.timeseries import cusum

    ev = read_events(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value").cast("decimal(18,4)") * 10000)
        .cast("long")
        .alias("x_units"),
    )
    flagged = cusum(ev, "x_units", target_units=600000).filter(
        F.col("cusum_units") > 2000000
    )
    return flagged.select("user_id", "ts", "event_id", "cusum_units")


SQL_CUSUM_CHANGEPOINTS = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS tsn, event_id,
         CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS x
  FROM events),
s AS (
  SELECT user_id, tsn, event_id,
         sum(x - 600000) OVER (PARTITION BY user_id
                               ORDER BY tsn, event_id
                               ROWS UNBOUNDED PRECEDING) AS S
  FROM e),
c AS (
  SELECT user_id, tsn, event_id,
         S - least(0, min(S) OVER (PARTITION BY user_id
                                   ORDER BY tsn, event_id
                                   ROWS UNBOUNDED PRECEDING)) AS cu
  FROM s)
SELECT user_id, CAST(tsn AS BIGINT) AS ts, event_id,
       CAST(cu AS BIGINT) AS cusum_units
FROM c WHERE cu > 2000000
"""


def q_weighted_sample_k(spark, sf_dir):
    """Deterministic weighted sampling WITHOUT replacement
    (operators/sampling.py:weighted_sample_topk): Efraimidis-Spirakis
    A-ES re-expressed float-free — each doc explodes into w replicas
    (w = n_chars%32+1), each replica draws a 13-hex-char md5 key, and
    the doc's sort key is the MAX draw (max of w uniforms ranks
    identically to u^(1/w)); top-40 by key. Fixed-length lowercase
    hex compares lexicographically == numerically, so both engines
    sort the identical keys with zero float arithmetic. Plan:
    narrow explode → keyed max-agg → TakeOrderedAndProject."""
    from smartbots_etl_facturas_spark.operators.sampling import (
        weighted_sample_topk,
    )

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", (F.col("n_chars") % 32 + 1).alias("w")
    )
    return weighted_sample_topk(docs, "w", k=40)


SQL_WEIGHTED_SAMPLE_K = """
WITH rep AS (
  SELECT doc_id,
         unnest(generate_series(1,
           CAST(least(n_chars % 32 + 1, 64) AS BIGINT))) AS j
  FROM documents WHERE n_chars % 32 + 1 > 0),
keys AS (
  SELECT doc_id,
         max(substring(md5('wsamp-v1:' || CAST(doc_id AS VARCHAR) || ':'
                           || CAST(j AS VARCHAR)), 1, 13)) AS sample_key
  FROM rep GROUP BY doc_id)
SELECT doc_id, sample_key FROM keys
ORDER BY sample_key DESC, doc_id LIMIT 40
"""


def q_token_drift(spark, sf_dir):
    """Corpus drift: the 25 tokens whose share differs most between
    the English and non-English document partitions — per-token
    shares in exact integer micro-units ((n·1e6) div N, integer div:
    no cross-engine float rounding), drift = |p_en - p_rest|. ONE
    token-keyed aggregation with conditional counts (no second
    shuffle), 1-row totals broadcast back. The distribution-compare
    primitive behind train/serve drift monitors and corpus mixture
    audits."""
    docs = _read(spark, sf_dir, "documents").select("lang", "text")
    tok = docs.select(
        "lang", F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    )
    counts = tok.groupBy("token").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0))
        .cast("long")
        .alias("nb"),
    )
    totals = counts.agg(
        F.sum("na").alias("__ta"), F.sum("nb").alias("__tb")
    )
    shares = counts.crossJoin(F.broadcast(totals)).select(
        "token",
        F.expr("(na * 1000000) div __ta").cast("long").alias("p_en_micros"),
        F.expr("(nb * 1000000) div __tb").cast("long").alias("p_rest_micros"),
    )
    return (
        shares.withColumn(
            "drift_micros",
            F.abs(F.col("p_en_micros") - F.col("p_rest_micros")).cast("long"),
        )
        .orderBy(F.col("drift_micros").desc(), "token")
        .limit(25)
    )


SQL_TOKEN_DRIFT = r"""
WITH tok AS (
  SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents),
counts AS (
  SELECT token,
         count(*) FILTER (WHERE lang = 'en') AS na,
         count(*) FILTER (WHERE lang <> 'en') AS nb
  FROM tok GROUP BY token),
tot AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM counts)
SELECT token,
       CAST((na * 1000000) // ta AS BIGINT) AS p_en_micros,
       CAST((nb * 1000000) // tb AS BIGINT) AS p_rest_micros,
       CAST(abs((na * 1000000) // ta - (nb * 1000000) // tb) AS BIGINT)
         AS drift_micros
FROM counts, tot
ORDER BY drift_micros DESC, token LIMIT 25
"""


def q_token_drift_total(spark, sf_dir):
    """Total-variation distance between the en / non-en token
    distributions — 2·TV in integer micro-units (sum over the FULL
    vocabulary of |p_en - p_rest|, micro-share integer arithmetic as
    in token_drift), plus the token totals. One token-keyed shuffle,
    1-row output: the single drift score a mixture monitor alerts
    on."""
    docs = _read(spark, sf_dir, "documents").select("lang", "text")
    tok = docs.select(
        "lang", F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    )
    counts = tok.groupBy("token").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0))
        .cast("long")
        .alias("nb"),
    )
    totals = counts.agg(
        F.sum("na").alias("__ta"), F.sum("nb").alias("__tb")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            F.abs(
                F.expr("(na * 1000000) div __ta")
                - F.expr("(nb * 1000000) div __tb")
            ).alias("d"),
            F.col("__ta"),
            F.col("__tb"),
        )
        .groupBy()
        .agg(
            F.sum("d").cast("long").alias("tv_twice_micros"),
            F.max("__ta").cast("long").alias("n_tokens_en"),
            F.max("__tb").cast("long").alias("n_tokens_rest"),
        )
    )


SQL_TOKEN_DRIFT_TOTAL = r"""
WITH tok AS (
  SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS token
  FROM documents),
counts AS (
  SELECT token,
         count(*) FILTER (WHERE lang = 'en') AS na,
         count(*) FILTER (WHERE lang <> 'en') AS nb
  FROM tok GROUP BY token),
tot AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM counts)
SELECT CAST(sum(abs((na * 1000000) // ta - (nb * 1000000) // tb)) AS BIGINT)
         AS tv_twice_micros,
       CAST(max(ta) AS BIGINT) AS n_tokens_en,
       CAST(max(tb) AS BIGINT) AS n_tokens_rest
FROM counts, tot
"""


def q_exact_quantiles_qty(spark, sf_dir):
    """Exact distributed quantiles WITHOUT a global sort
    (operators/orderstats.py:exact_quantiles): one keyed
    count-per-distinct-value aggregation over the corpus, cumulative
    selection on the 50-value reduced frame — the bounded-domain
    complement to approx_percentile_sketch. Integer ceil-rank
    arithmetic ((n·num + den - 1) div den = quantile_disc semantics)
    keeps every engine's pick identical; the oracle re-derives the
    same cumulative selection in SQL windows (and pytest additionally
    pins the operator to DuckDB's native quantile_disc)."""
    from smartbots_etl_facturas_spark.operators.orderstats import (
        exact_quantiles,
    )

    li = _read(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty")
    )
    return exact_quantiles(li, "qty").select(
        "quantile", F.col("value").cast("long").alias("value")
    )


SQL_EXACT_QUANTILES_QTY = """
WITH counts AS (
  SELECT CAST(l_quantity AS BIGINT) AS v, count(*) AS c
  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
cum AS (
  SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM counts),
tot AS (SELECT sum(c) AS n FROM counts),
probs(quantile, num, den) AS (
  VALUES ('p25', 1, 4), ('p50', 1, 2), ('p75', 3, 4),
         ('p90', 9, 10), ('p99', 99, 100)),
ranks AS (SELECT quantile, (n * num + den - 1) // den AS r FROM probs, tot)
SELECT quantile, CAST(min(v) AS BIGINT) AS value
FROM cum JOIN ranks ON cum >= r GROUP BY quantile
"""


def q_trend_slope_per_user(spark, sf_dir):
    """Per-user least-squares value trend
    (operators/regression.py:group_trend): ONE keyed aggregation
    builds the five OLS sufficient statistics (the algebraic-
    aggregate/monoid shape, so the trend state is incrementally
    maintainable like incremental_agg); the slope ships as the exact
    integer ratio slope_num/slope_den on DECIMAL(38,0) — no float
    division to round differently across engines. x = minutes since
    the user's first event, y = value ten-thousandths."""
    from smartbots_etl_facturas_spark.operators.regression import group_trend

    ev = read_events(spark, sf_dir).select(
        "user_id",
        "ts",
        (F.col("value").cast("decimal(18,4)") * 10000)
        .cast("long")
        .alias("y"),
    )
    first = ev.groupBy("user_id").agg(F.min("ts").alias("__t0"))
    xy = ev.join(first, "user_id").select(
        "user_id",
        F.expr("(ts - __t0) div 60000000000").alias("x"),
        "y",
    )
    t = group_trend(xy, "user_id", "x", "y")
    # Exact integer ratios ship as STRING: the values exceed 2^53, so a
    # double cast would be lossy, and pandas-layer decimal rendering
    # differs between engines ('115…292' vs '115…292.0'). Both engines
    # render the same integer to the same digits.
    return t.select(
        "user_id",
        "n",
        F.col("slope_num").cast("string").alias("slope_num"),
        F.col("slope_den").cast("string").alias("slope_den"),
    )


SQL_TREND_SLOPE_PER_USER = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS tsn,
         CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS y
  FROM events),
xy AS (
  SELECT user_id,
         (tsn - min(tsn) OVER (PARTITION BY user_id)) // 60000000000 AS x,
         y
  FROM e),
s AS (
  SELECT user_id, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM xy GROUP BY user_id)
SELECT user_id, CAST(n AS BIGINT) AS n,
       CAST(CAST(n * sxy - sx * sy AS DECIMAL(38,0)) AS VARCHAR) AS slope_num,
       CAST(CAST(n * sxx - sx * sx AS DECIMAL(38,0)) AS VARCHAR) AS slope_den
FROM s
"""


def q_decile_lift(spark, sf_dir):
    """Decile lift table (model-eval / marketing-analytics staple):
    users ranked by total spend, split into ntile(10) deciles under a
    TOTAL (spend desc, user_id) order, each decile reporting size,
    spend mass, and conversion rate (any 'purchase' event) in exact
    integer micro-units. The ntile is DERIVED from the adaptive rank
    (operators/ranking.py: global_order_index + ntile_from_rank,
    closed-form NTILE semantics): a frame measured under the 2M-row
    crossover ranks in one bounded constant-partitioned window, a
    larger one takes the two-pass range-partitioned scheme — so the
    plan survives a 100M-user frame unchanged AND pays no fixed
    two-pass overhead locally."""
    ev = read_events(spark, sf_dir).select(
        "user_id",
        (F.col("value").cast("decimal(18,4)") * 10000)
        .cast("long")
        .alias("units"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("p"),
    )
    users = ev.groupBy("user_id").agg(
        F.sum("units").cast("long").alias("spend_units"),
        F.max("p").alias("converted"),
    )
    ranked = global_order_index(
        users,
        [F.col("spend_units").desc(), F.col("user_id")],
        rank_col="__i",
        total_count_col="__n",
    )
    deciles = ranked.withColumn(
        "decile", ntile_from_rank(F.col("__i"), F.col("__n"), 10)
    ).drop("__i", "__n")
    return (
        deciles.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("spend_units").cast("long").alias("spend_units"),
            F.sum("converted").cast("long").alias("n_converted"),
        )
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n_users",
            "spend_units",
            "n_converted",
            F.expr("(n_converted * 1000000) div n_users")
            .cast("long")
            .alias("conversion_micros"),
        )
    )


SQL_DECILE_LIFT = """
WITH e AS (
  SELECT user_id,
         CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS units,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
  FROM events),
users AS (
  SELECT user_id, sum(units) AS spend_units, max(p) AS converted
  FROM e GROUP BY user_id),
d AS (
  SELECT user_id, spend_units, converted,
         ntile(10) OVER (ORDER BY spend_units DESC, user_id) AS decile
  FROM users)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(spend_units) AS BIGINT) AS spend_units,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       CAST((sum(converted) * 1000000) // count(*) AS BIGINT)
         AS conversion_micros
FROM d GROUP BY decile
"""


def q_connected_components(spark, sf_dir):
    """General connected components
    (operators/graph.py:connected_components): min-label propagation
    to FIXPOINT over a sampled part co-occurrence graph (two keyed
    shuffles per round, convergence probed by a bounded 1-row driver
    read, lineage checkpoint-cut). Component id = the component's
    minimum node id — canonical and partition-order-free, so a
    reachability recursive CTE (min reachable label, lbl < t pruned)
    value-checks every (node, component) row on the oracle engine."""
    from smartbots_etl_facturas_spark.operators.graph import (
        connected_components,
    )

    li = (
        _read(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 25 == 0)
        .select("l_orderkey", "l_partkey")
    )
    pairs = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") != F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
    )
    return connected_components(pairs)


SQL_CONNECTED_COMPONENTS = """
WITH RECURSIVE und AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  WHERE a.l_orderkey % 25 = 0),
nodes AS (SELECT DISTINCT s AS n FROM und),
walk(n, lbl) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT u.t, w.lbl FROM walk w JOIN und u ON u.s = w.n WHERE w.lbl < u.t)
SELECT n AS node, min(lbl) AS component FROM walk GROUP BY n
"""


def q_scd2_asof_lookup(spark, sf_dir):
    """Point-in-time (as-of) lookup against the SCD2 history
    (operators/scd.py:scd2_lookup): every purchase event fetches the
    tier version valid AT its timestamp — the bitemporal query every
    warehouse runs against dimension history. ONE equi-join on the
    entity key + an interval filter (versions per entity bound the
    fan-out; no range-join machinery needed because the key carries
    the selectivity). The oracle re-derives the history AND the
    interval join in SQL."""
    from smartbots_etl_facturas_spark.operators.scd import (
        scd2_from_changelog,
        scd2_lookup,
    )

    ev = read_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type",
        (F.col("value").cast("decimal(18,4)") % 5).cast("string").alias("tier"),
    )
    hist = scd2_from_changelog(
        ev, ["user_id"], "ts", ["tier"], "event_id"
    ).select("user_id", "tier", "valid_from", "valid_to")
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    return scd2_lookup(hist, probes, ["user_id"], "ts").select(
        "user_id", "ts", "event_id", "tier"
    )


SQL_SCD2_ASOF_LOOKUP = """
WITH log AS (
  SELECT user_id, epoch_ns(ts) AS ts, event_id, event_type,
         CAST(CAST(value AS DECIMAL(18,4)) % 5 AS VARCHAR) AS tier
  FROM events),
flagged AS (
  SELECT *,
         (lag(tier) OVER w IS DISTINCT FROM tier
          OR row_number() OVER w = 1) AS chg
  FROM log
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
hist AS (
  SELECT user_id, tier, ts AS valid_from, lead(ts) OVER w2 AS valid_to
  FROM (SELECT * FROM flagged WHERE chg)
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT p.user_id, CAST(p.ts AS BIGINT) AS ts, p.event_id, h.tier
FROM (SELECT user_id, ts, event_id FROM log
      WHERE event_type = 'purchase') p
JOIN hist h ON h.user_id = p.user_id
          AND p.ts >= h.valid_from
          AND (h.valid_to IS NULL OR p.ts < h.valid_to)
"""


def q_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (operators/fusion.py) of two
    heterogeneous rankers for the query {spark, join, window}: the
    BM25 ranking (bm25_search's scoring) fused with a
    length-normalized term-coverage ranking ((Σtf·1e6) div dl —
    integer-exact). Fused score = Σ 1e6 div (60 + rank) in exact
    micro-units, so the merged ordering is bit-identical across
    engines. The rank windows run on the MATCHED-candidate frame
    (docs containing a query term), never the corpus."""
    from smartbots_etl_facturas_spark.functions.text import tokens
    from smartbots_etl_facturas_spark.operators.fusion import (
        reciprocal_rank_fusion,
    )

    q_terms = ["spark", "join", "window"]
    docs = _read(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = tok.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_len"),
    ).withColumn("__k", F.lit(1))
    qtf = tf.filter(F.col("term").isin(q_terms))
    dfreq = qtf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    m = (
        qtf.join(dfreq, "term")
        .join(dl, "doc_id")
        .withColumn("__k", F.lit(1))
        .join(stats, "__k")
    )
    idf = F.log(
        1.0
        + (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
    )
    denom = F.col("tf").cast("double") + 1.2 * (
        0.25
        + 0.75
        * (
            (F.col("dl") * F.col("n_docs")).cast("double")
            / F.col("total_len").cast("double")
        )
    )
    term_score = F.round(
        idf * (F.col("tf").cast("double") * 2.2) / denom, 6
    ).cast("decimal(28,6)")
    bm = (
        m.select("doc_id", term_score.alias("s"))
        .groupBy("doc_id")
        .agg(F.sum("s").alias("__bm"))
    )
    w1 = Window.orderBy(F.col("__bm").desc(), F.col("doc_id"))
    list_bm25 = bm.select(
        "doc_id", F.row_number().over(w1).alias("rank")
    )
    cov = (
        qtf.groupBy("doc_id")
        .agg(F.sum("tf").alias("__qtf"))
        .join(dl, "doc_id")
        .select(
            "doc_id",
            F.expr("(__qtf * 1000000) div dl").alias("__cov"),
        )
    )
    w2 = Window.orderBy(F.col("__cov").desc(), F.col("doc_id"))
    list_cov = cov.select(
        "doc_id", F.row_number().over(w2).alias("rank")
    )
    fused = reciprocal_rank_fusion(
        [("bm25", list_bm25), ("cov", list_cov)], "doc_id", k=60
    )
    return fused.orderBy(
        F.col("rrf_micros").desc(), F.col("doc_id")
    ).limit(15)


SQL_RRF_FUSION = r"""
WITH tok AS (
  SELECT doc_id, u.term
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        FROM documents) t,
       unnest(t.w) AS u(term)),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
stats AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                 CAST(count(*) AS BIGINT) AS total_len FROM tok),
qtf AS (SELECT * FROM tf WHERE term IN ('spark', 'join', 'window')),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM qtf GROUP BY 1),
bm AS (
  SELECT f.doc_id,
         sum(CAST(round(
           ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                    / (CAST(df AS DOUBLE) + 0.5))
           * (CAST(tf AS DOUBLE) * 2.2)
           / (CAST(tf AS DOUBLE)
              + 1.2 * (0.25 + 0.75 * (CAST(d.dl * n_docs AS DOUBLE)
                                      / CAST(total_len AS DOUBLE)))),
           6) AS DECIMAL(28,6))) AS s
  FROM qtf f
  JOIN dfreq USING (term)
  JOIN dl d ON f.doc_id = d.doc_id
  CROSS JOIN stats
  GROUP BY f.doc_id),
list_bm25 AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rank
  FROM bm),
covs AS (
  SELECT q.doc_id, (sum(q.tf) * 1000000) // max(d.dl) AS cov
  FROM qtf q JOIN dl d ON q.doc_id = d.doc_id GROUP BY q.doc_id),
list_cov AS (
  SELECT doc_id, row_number() OVER (ORDER BY cov DESC, doc_id) AS rank
  FROM covs),
u AS (
  SELECT doc_id, rank AS rank_bm25, NULL AS rank_cov,
         1000000 // (60 + rank) AS contrib
  FROM list_bm25
  UNION ALL
  SELECT doc_id, NULL, rank, 1000000 // (60 + rank) FROM list_cov)
SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS rrf_micros,
       CAST(count(*) AS BIGINT) AS n_lists,
       CAST(min(rank_bm25) AS BIGINT) AS rank_bm25,
       CAST(min(rank_cov) AS BIGINT) AS rank_cov
FROM u GROUP BY doc_id
ORDER BY rrf_micros DESC, doc_id LIMIT 15
"""


def q_time_to_convert(spark, sf_dir):
    """Signup→purchase conversion-time quantiles: per user, minutes
    from first signup to the first LATER purchase (strictly-after,
    the funnel_counts ordering rule), then exact quantiles of that
    per-user delta via histogram selection
    (operators/orderstats.py:exact_quantiles — the distinct-delta
    frame is user-bounded). The product-analytics "how long to
    convert" metric, integer end to end."""
    from smartbots_etl_facturas_spark.operators.orderstats import (
        exact_quantiles,
    )

    ev = read_events(spark, sf_dir).select("user_id", "ts", "event_type")
    s = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("ts").alias("__t0")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("__t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("__t1"), F.min("__t0").alias("__t0"))
        .select(F.expr("(__t1 - __t0) div 60000000000").alias("mins"))
    )
    return exact_quantiles(p, "mins").select(
        "quantile", F.col("value").cast("long").alias("minutes")
    )


SQL_TIME_TO_CONVERT = """
WITH e AS (SELECT user_id, epoch_ns(ts) AS ts, event_type FROM events),
s AS (SELECT user_id, min(ts) AS t0 FROM e
      WHERE event_type = 'signup' GROUP BY 1),
d AS (
  SELECT (min(e.ts) - min(s.t0)) // 60000000000 AS mins
  FROM e JOIN s USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s.t0
  GROUP BY e.user_id),
counts AS (SELECT mins AS v, count(*) AS c FROM d GROUP BY 1),
cum AS (SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
        FROM counts),
tot AS (SELECT sum(c) AS n FROM counts),
probs(quantile, num, den) AS (
  VALUES ('p25', 1, 4), ('p50', 1, 2), ('p75', 3, 4),
         ('p90', 9, 10), ('p99', 99, 100)),
ranks AS (SELECT quantile, (n * num + den - 1) // den AS r FROM probs, tot)
SELECT quantile, CAST(min(v) AS BIGINT) AS minutes
FROM cum JOIN ranks ON cum >= r GROUP BY quantile
"""


def q_label_centroid_pairs(spark, sf_dir):
    """Pairwise centroid dot products between embedding label groups
    — the cluster-drift / class-separation matrix. Vectors are scaled
    to exact integer micro-units (floor(x·1e6 + 0.5), the
    embedding_quantize tie rule both engines evaluate identically),
    summed per (label, dimension) in long form, and pairs join on the
    DIMENSION key (64 rows per label) — keyed equi-joins end to end,
    no array crossJoin. Self-pairs (a = b) carry the squared centroid
    norms, so cosine is derivable downstream by cross-multiplying
    exact DECIMAL(38,0) integers."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("pos", "x")
    )
    sums = emb.groupBy("label", "pos").agg(
        F.sum(F.floor(F.col("x").cast("double") * 1000000 + F.lit(0.5))
              .cast("long"))
        .cast("decimal(38,0)")
        .alias("s")
    )
    a = sums.select(
        F.col("label").alias("label_a"), "pos", F.col("s").alias("sa")
    )
    b = sums.select(
        F.col("label").alias("label_b"), "pos", F.col("s").alias("sb")
    )
    return (
        a.join(b, "pos")
        .filter(F.col("label_a") <= F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            # STRING, not DECIMAL(38,0): dot_units exceeds 2^53, and
            # the harness pandas compare renders decimals differently
            # per engine; the digits of the exact integer are portable.
            F.sum(F.col("sa") * F.col("sb"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("dot_units")
        )
    )


SQL_LABEL_CENTROID_PAIRS = """
WITH ex AS (
  SELECT label, i AS pos, embedding[i] AS x
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS g(i)),
sums AS (
  SELECT label, pos,
         sum(CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS s
  FROM ex GROUP BY 1, 2)
SELECT a.label AS label_a, b.label AS label_b,
       CAST(CAST(sum(a.s * b.s) AS DECIMAL(38,0)) AS VARCHAR) AS dot_units
FROM sums a JOIN sums b ON a.pos = b.pos AND a.label <= b.label
GROUP BY 1, 2
"""


_TEXT_INDEX_CACHE: dict[str, str] = {}


def ensure_text_index(spark, sf_dir: str) -> str:
    """Build-once half of the text-retrieval split: persist the
    inverted index (postings (term, doc_id, tf), doc lengths, and the
    1-row corpus stats) through the versioned sink, once per process.
    This is the build-once/probe-many pattern ann_pq_prebuilt /
    minhash_incremental / hll_incremental establish, applied to the
    lexical index a real search path keeps between queries."""
    base = _TEXT_INDEX_CACHE.get(sf_dir)
    if base is None:
        from smartbots_etl_facturas_spark.functions.text import tokens
        from smartbots_etl_facturas_spark.sinks.staged import publish

        base = _scratch_dir("text_index_")
        docs = _read(spark, sf_dir, "documents")
        tok = docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("term")
        )
        postings = tok.groupBy("term", "doc_id").agg(
            F.count(F.lit(1)).alias("tf")
        )
        dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
        stats = tok.agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("total_len"),
        )
        publish(postings, os.path.join(base, "postings"))
        publish(dl, os.path.join(base, "doclen"))
        publish(stats, os.path.join(base, "stats"))
        _TEXT_INDEX_CACHE[sf_dir] = base
    return base


def _bm25_probe(postings, dl, stats, q_terms):
    """Shared probe half of the lexical index split: term-filtered
    postings scan → df derivation → doc-length join → broadcast
    1-row stats → BM25 scoring, identical to bm25_search's (which is
    why every caller shares its full-recompute oracle)."""
    stats = stats.withColumn("__k", F.lit(1))
    qp = postings.filter(F.col("term").isin(q_terms))
    dfreq = qp.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    m = (
        qp.join(dfreq, "term")
        .join(dl, "doc_id")
        .withColumn("__k", F.lit(1))
        .join(stats, "__k")
    )
    idf = F.log(
        1.0
        + (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
    )
    denom = F.col("tf").cast("double") + 1.2 * (
        0.25
        + 0.75
        * (
            (F.col("dl") * F.col("n_docs")).cast("double")
            / F.col("total_len").cast("double")
        )
    )
    term_score = F.round(
        idf * (F.col("tf").cast("double") * 2.2) / denom, 6
    ).cast("decimal(28,6)")
    return (
        m.select("doc_id", term_score.alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum("s").alias("__bm"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
        .orderBy(F.desc("__bm"), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            F.col("__bm").cast("double").alias("bm25"),
            "n_terms_matched",
        )
    )


def q_bm25_prebuilt(spark, sf_dir):
    """Probe-only BM25 against the PERSISTED inverted index
    (ensure_text_index): the query touches the postings of its three
    terms (a pushed-down term filter on the postings scan — never
    re-tokenizing the corpus), derives df from those postings, joins
    doc lengths, broadcasts the 1-row stats, and scores exactly like
    bm25_search — which is why it shares bm25_search's full-recompute
    oracle. The lexical build-once/probe-many split every serving
    path has; the registered query is the probe alone."""
    from smartbots_etl_facturas_spark.sinks.staged import read_published

    base = ensure_text_index(spark, sf_dir)
    return _bm25_probe(
        read_published(spark, os.path.join(base, "postings")),
        read_published(spark, os.path.join(base, "doclen")),
        read_published(spark, os.path.join(base, "stats")),
        ["spark", "join", "window"],
    )


_TEXT_INDEX_BASE_CACHE: dict = {}


def ensure_text_index_base(spark, sf_dir: str) -> str:
    """Standing-corpus half of the INCREMENTAL lexical-index split:
    the inverted index over documents with doc_id % 10 != 0 (90% of
    the corpus, "already indexed"), published once per process —
    what a search service holds while new documents keep arriving."""
    base = _TEXT_INDEX_BASE_CACHE.get(sf_dir)
    if base is None:
        from smartbots_etl_facturas_spark.functions.text import tokens
        from smartbots_etl_facturas_spark.sinks.staged import publish

        base = _scratch_dir("text_index_base_")
        docs = _read(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 != 0
        )
        tok = docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("term")
        )
        publish(
            tok.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf")),
            os.path.join(base, "postings"),
        )
        publish(
            tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")),
            os.path.join(base, "doclen"),
        )
        publish(
            tok.agg(
                F.countDistinct("doc_id").alias("n_docs"),
                F.count(F.lit(1)).alias("total_len"),
            ),
            os.path.join(base, "stats"),
        )
        _TEXT_INDEX_BASE_CACHE[sf_dir] = base
    return base


def q_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape (three OR-blocks of brand x size x quantity
    bands): the disjunction lives in ONE join condition over the
    broadcast part dim, exercising Catalyst's predicate normalization
    — each block still prunes (common l_quantity bounds factor out to
    the scan). Revenue exact in integer units as everywhere."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    disc = F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    qty = F.col("l_quantity")
    block = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 10))
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(1, 15))
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(1, 25))
            & qty.between(20, 30)
        )
    )
    j = li.join(
        F.broadcast(part),
        (F.col("l_partkey") == F.col("p_partkey")) & block,
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.sum(cents * disc), F.lit(0))
        .cast("long")
        .alias("revenue_units"),
    )


SQL_DISJUNCTIVE_REVENUE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                               AS BIGINT)
                          * (100 - CAST(round(l_discount * 100) AS BIGINT))),
                     0) AS BIGINT) AS revenue_units
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 20 AND 30)
"""


def q_interarrival_histogram(spark, sf_dir):
    """Inter-arrival-time analysis: per-user consecutive event gaps
    (a user-partitioned lag — partitions are per-user, never global)
    binned into power-of-two second buckets via INTEGER bit-length
    (length(bin(x)) — the HLL rho trick, no float log), one bounded
    histogram out. The distribution behind session-gap and
    rate-limit tuning."""
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            F.lag("ts").over(w).alias("__prev"),
        )
        .filter(F.col("__prev").isNotNull())
        .select((F.col("ts") - F.col("__prev")).alias("__gap_ns"))
        .select(F.expr("__gap_ns div 1000000000").alias("gap_s"))
    )
    bucket = (
        F.when(F.col("gap_s") <= 0, F.lit(0))
        .otherwise(F.length(F.bin(F.col("gap_s"))))
        .cast("long")
    )
    return gaps.groupBy(bucket.alias("log2_bucket")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_s").alias("min_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )


SQL_INTERARRIVAL_HISTOGRAM = """
WITH g AS (
  SELECT CAST((ns - lag(ns) OVER (PARTITION BY user_id
                                  ORDER BY ns, event_id))
              // 1000000000 AS BIGINT) AS gap_s
  FROM (SELECT user_id, event_id,
               epoch_ns(CAST(ts AS TIMESTAMP)) AS ns FROM events)),
b AS (
  SELECT CASE WHEN gap_s <= 0 THEN 0
              ELSE length(bin(gap_s)) END AS log2_bucket, gap_s
  FROM g WHERE gap_s IS NOT NULL)
SELECT CAST(log2_bucket AS BIGINT) AS log2_bucket,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(min(gap_s) AS BIGINT) AS min_gap_s,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s
FROM b GROUP BY 1
"""


def q_decayed_revenue(spark, sf_dir):
    """Half-life-decayed revenue per order priority — the recency
    weighting behind trending-score feeds — with the decay EXACT: the
    weight 2^-(age div halflife) is applied as an integer SHIFT of
    cent amounts scaled by 2^max_bucket (ages are bounded, so the
    scale is a constant), making the weighted sum a lossless long —
    no exp(), no float accumulation. One scan + one bounded
    aggregation + the 1-row ledger-date broadcast."""
    orders = _read(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderpriority",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("d"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    ref = o.agg(F.max("d").alias("__ref"))
    half_life_days = 365
    max_bucket = 8  # ages span < 8*365 days in this data
    bucket = F.least(
        (F.col("__ref") - F.col("d")) / F.lit(half_life_days), F.lit(max_bucket)
    ).cast("int")
    # cents * 2^(max_bucket - bucket) == cents * 2^max_bucket * weight
    scaled = F.col("cents") * F.pow(F.lit(2.0), F.lit(max_bucket) - bucket).cast(
        "long"
    )
    return (
        o.crossJoin(F.broadcast(ref))  # 1-row ledger-date normalizer
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(scaled).cast("long").alias("decayed_units_x256"),
        )
    )


SQL_DECAYED_REVENUE = """
WITH o AS (
  SELECT o_orderpriority,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders),
r AS (SELECT max(d) AS ref_d FROM o)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents * CAST(pow(2.0, 8 - least((ref_d - d) // 365, 8))
                             AS BIGINT)) AS BIGINT) AS decayed_units_x256
FROM o CROSS JOIN r
GROUP BY 1
"""


def q_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape (forecasting revenue change): one scan with all
    three predicates pushed to the parquet reader, revenue = Σ price ×
    discount kept EXACT in ten-thousandth-dollar integer units
    (cents × discount-hundredths — no float multiply-accumulate), so
    the single output row is engine-identical with no rounding at
    all. The canonical filter-aggregate: no join, no shuffle beyond
    the 1-row final combine."""
    li = _read(spark, sf_dir, "lineitem")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    pct = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.filter(
            (F.year(F.col("l_shipdate").cast("date")) == 1996)
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(cents * pct).cast("long").alias("revenue_ten_thousandths"),
        )
    )


SQL_FORECAST_REVENUE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
         AS revenue_ten_thousandths
FROM lineitem
WHERE year(CAST(l_shipdate AS DATE)) = 1996
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape (promotion effect): the part dim broadcasts
    onto the lineitem scan, discounted revenue is kept as EXACT
    integer units (cents × (100-discount_pct)) for both the promo
    numerator and the total, and the ratio is one final IEEE division
    of two exactly-agreed longs."""
    li = _read(spark, sf_dir, "lineitem").filter(
        F.year(F.col("l_shipdate").cast("date")) == 1997
    )
    part = _read(spark, sf_dir, "part")
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    disc = F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    promo = F.col("p_type").startswith("PROMO")
    return j.agg(
        F.sum(F.when(promo, cents * disc).otherwise(F.lit(0)))
        .cast("long")
        .alias("promo_units"),
        F.sum(cents * disc).cast("long").alias("total_units"),
    ).select(
        "promo_units",
        "total_units",
        F.round(
            F.lit(100.0)
            * F.col("promo_units").cast("double")
            / F.col("total_units").cast("double"),
            9,
        ).alias("promo_pct"),
    )


SQL_PROMO_REVENUE = """
WITH j AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS units,
         p_type LIKE 'PROMO%' AS promo
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE year(CAST(l_shipdate AS DATE)) = 1997),
s AS (
  SELECT CAST(sum(CASE WHEN promo THEN units ELSE 0 END) AS BIGINT)
           AS promo_units,
         CAST(sum(units) AS BIGINT) AS total_units
  FROM j)
SELECT promo_units, total_units,
       round(100.0 * CAST(promo_units AS DOUBLE)
             / CAST(total_units AS DOUBLE), 9) AS promo_pct
FROM s
"""


def q_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    "below 20% of this part's average quantity" predicate
    DECORRELATED into a per-part aggregate joined back — and the
    average threshold compared by EXACT integer cross-multiplication
    (qty × 5 × n_part < Σqty_part), so no division ever happens.
    Output: count + exact cent total of qualifying brand rows."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#3"
    )
    qty = F.round(F.col("l_quantity")).cast("long")
    per_part = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(qty).cast("long").alias("__sq"),
    )
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    j = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("__pk"))
        .filter(qty * 5 * F.col("__n") < F.col("__sq"))
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.sum(cents), F.lit(0)).cast("long").alias("total_cents"),
    )


SQL_SMALL_QTY_REVENUE = """
WITH pp AS (
  SELECT l_partkey AS pk, count(*) AS n,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sq
  FROM lineitem GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                               AS BIGINT)), 0) AS BIGINT) AS total_cents
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#3'
JOIN pp ON l_partkey = pp.pk
WHERE CAST(round(l_quantity) AS BIGINT) * 5 * n < sq
"""


def q_top_supplier_revenue(spark, sf_dir):
    """TPC-H Q15 shape (top supplier): per-supplier discounted
    revenue over one year in exact integer units, then the
    supplier(s) achieving the MAXIMUM — the max arrives as a 1-row
    broadcast onto the supplier-scale revenue frame (never a global
    sort), and ties are all returned, exactly like the reference
    query's nested max."""
    li = _read(spark, sf_dir, "lineitem").filter(
        F.year(F.col("l_shipdate").cast("date")) == 1996
    )
    cents = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    disc = F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(cents * disc).cast("long").alias("revenue_units")
    )
    mx = rev.agg(F.max("revenue_units").alias("__mx"))
    return (
        rev.crossJoin(F.broadcast(mx))  # 1-row normalizer
        .filter(F.col("revenue_units") == F.col("__mx"))
        .select("l_suppkey", "revenue_units")
    )


SQL_TOP_SUPPLIER_REVENUE = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT)))
              AS BIGINT) AS revenue_units
  FROM lineitem
  WHERE year(CAST(l_shipdate AS DATE)) = 1996
  GROUP BY 1)
SELECT l_suppkey, revenue_units
FROM rev
WHERE revenue_units = (SELECT max(revenue_units) FROM rev)
"""


def q_group_mode(spark, sf_dir):
    """Exact MODE per group with a deterministic tie-break (highest
    count, then smallest value — the convention SQL's ANY_VALUE-based
    modes lack): per market segment, the modal nation of its
    customers. One hash aggregation builds the (group, value) counts;
    the argmax is a row_number over the COUNTS frame (category-scale,
    key-partitioned — never over the data)."""
    cust = _read(spark, sf_dir, "customer")
    counts = cust.groupBy(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nation"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("seg").orderBy(F.desc("cnt"), F.col("nation"))
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("seg", F.col("nation").alias("mode_nation"), "cnt")
    )


SQL_GROUP_MODE = """
WITH c AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nation,
         CAST(count(*) AS BIGINT) AS cnt
  FROM customer GROUP BY 1, 2),
r AS (
  SELECT seg, nation, cnt,
         row_number() OVER (PARTITION BY seg
                            ORDER BY cnt DESC, nation) AS rn
  FROM c)
SELECT seg, nation AS mode_nation, cnt FROM r WHERE rn = 1
"""


def q_embedding_drift(spark, sf_dir):
    """Embedding-space drift: cosine similarity between the centroids
    of two embedding cohorts (vec_id parity), in EXACT integer
    arithmetic — each float32 component is quantized to micro-units
    (float→double is exact, so both engines quantize identically),
    per-dimension sums are exact longs, and cosine is computed from
    the SUM vectors (scale-invariant: cos(centroids) == cos(sums)) as
    one final double expression. The numeric member of the drift
    family (psi/chi-square/mi are categorical); one posexplode + one
    (cohort, dim) aggregation — 2·dims rows — then a dim-scale join."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.select(
        (F.col("vec_id") % 2).alias("c"),
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "c",
        "pos",
        F.round(F.col("x").cast("double") * 1e6).cast("long").alias("qv"),
    )
    sums = q.groupBy("c", "pos").agg(F.sum("qv").cast("long").alias("sv"))
    a = sums.filter(F.col("c") == 0).select("pos", F.col("sv").alias("sa"))
    b = sums.filter(F.col("c") == 1).select("pos", F.col("sv").alias("sb"))
    j = a.join(b, "pos")
    D38 = "decimal(38,0)"
    stats = j.agg(
        F.sum((F.col("sa").cast(D38) * F.col("sb").cast(D38))).alias("__dot"),
        F.sum((F.col("sa").cast(D38) * F.col("sa").cast(D38))).alias("__naa"),
        F.sum((F.col("sb").cast(D38) * F.col("sb").cast(D38))).alias("__nbb"),
    )
    counts = emb.agg(
        F.sum(((F.col("vec_id") % 2) == 0).cast("long")).alias("n_a"),
        F.sum(((F.col("vec_id") % 2) == 1).cast("long")).alias("n_b"),
    )
    return counts.crossJoin(F.broadcast(stats)).select(
        "n_a",
        "n_b",
        F.round(
            F.col("__dot").cast("double")
            / F.sqrt(
                F.col("__naa").cast("double") * F.col("__nbb").cast("double")
            ),
            9,
        ).alias("centroid_cosine"),
    )


SQL_EMBEDDING_DRIFT = """
WITH q AS (
  SELECT vec_id % 2 AS c, r.range + 1 AS pos,
         CAST(round(CAST(embedding[r.range + 1] AS DOUBLE) * 1000000.0)
              AS BIGINT) AS qv
  FROM embeddings CROSS JOIN range(64) r),
s AS (SELECT c, pos, CAST(sum(qv) AS BIGINT) AS sv FROM q GROUP BY 1, 2),
j AS (
  SELECT a.sv AS sa, b.sv AS sb
  FROM (SELECT pos, sv FROM s WHERE c = 0) a
  JOIN (SELECT pos, sv FROM s WHERE c = 1) b USING (pos)),
st AS (
  SELECT sum(CAST(sa AS HUGEINT) * sb) AS dot,
         sum(CAST(sa AS HUGEINT) * sa) AS naa,
         sum(CAST(sb AS HUGEINT) * sb) AS nbb
  FROM j),
n AS (
  SELECT CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_a,
         CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_b
  FROM embeddings)
SELECT n_a, n_b,
       round(CAST(dot AS DOUBLE)
             / sqrt(CAST(naa AS DOUBLE) * CAST(nbb AS DOUBLE)), 9)
         AS centroid_cosine
FROM n CROSS JOIN st
"""


_BENFORD = {
    1: "0.301029995664", 2: "0.176091259056", 3: "0.124938736608",
    4: "0.096910013008", 5: "0.079181246048", 6: "0.066946789631",
    7: "0.057991946978", 8: "0.051152522447", 9: "0.045757490561",
}


def q_benford_digits(spark, sf_dir):
    """Benford's-law fraud screen over the invoice ledger: first-digit
    distribution of order amounts vs the log10(1+1/d) expectation,
    with per-digit chi-square contributions. The digit is string
    arithmetic on the exact cent integer (no float log); the Benford
    probabilities are 12-place literals embedded IDENTICALLY in both
    engines (computing log10 at runtime would race the two libms'
    last ulp). One scan, one 9-row aggregation, 1-row total
    broadcast. TPC-H amounts are uniform-ish, so the screen correctly
    reports a Benford violation — the value-checked numbers are the
    point, not conformance."""
    orders = _read(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("long")
    counts = orders.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("observed")
    )
    total = counts.agg(F.sum("observed").alias("__n"))
    p = F.element_at(
        F.array(*[F.lit(float(_BENFORD[d])) for d in range(1, 10)]),
        F.col("digit").cast("int"),
    )
    expected = F.col("__n").cast("double") * p
    return (
        counts.crossJoin(F.broadcast(total))  # 1-row normalizer
        .select(
            "digit",
            "observed",
            F.round(expected, 6).alias("expected"),
            F.round(
                (F.col("observed").cast("double") - expected) ** 2 / expected,
                6,
            ).alias("chi2_contrib"),
        )
    )


SQL_BENFORD_DIGITS = """
WITH c AS (
  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                               AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT)
           AS digit,
         CAST(count(*) AS BIGINT) AS observed
  FROM orders GROUP BY 1),
t AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM c),
p AS (
  SELECT digit, observed, n,
         CAST(n AS DOUBLE) * (CASE digit
            WHEN 1 THEN 0.301029995664 WHEN 2 THEN 0.176091259056
            WHEN 3 THEN 0.124938736608 WHEN 4 THEN 0.096910013008
            WHEN 5 THEN 0.079181246048 WHEN 6 THEN 0.066946789631
            WHEN 7 THEN 0.057991946978 WHEN 8 THEN 0.051152522447
            ELSE 0.045757490561 END) AS expected
  FROM c CROSS JOIN t)
SELECT digit, observed, round(expected, 6) AS expected,
       round(pow(CAST(observed AS DOUBLE) - expected, 2) / expected, 6)
         AS chi2_contrib
FROM p
"""


def q_rfm_segments(spark, sf_dir):
    """RFM customer segmentation (recency / frequency / monetary
    quintiles) — the three independent ranks come from ONE
    multi_order_index call (operators/ranking.py): the customer frame
    is measured and pinned once, then ranked per order — the adaptive
    small-frame tier runs all three as bounded single-task windows
    locally, while past the measured threshold each rank takes the
    two-pass range-partitioned scheme (three range shuffles are
    inherent to three sort keys, but the triple persist/checkpoint
    the round-7 chained form paid is not). Integer NTILE derivation
    (ntile_from_rank) as before; output is the 5x5x5 segment-count
    cube (at most 125 rows) with exact decimal spend per segment."""
    from smartbots_etl_facturas_spark.operators.ranking import (
        multi_order_index,
        ntile_from_rank,
    )

    orders = _read(spark, sf_dir, "orders")
    frame = orders.groupBy("o_custkey").agg(
        F.max(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
        ).cast("long").alias("last_d"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        ).cast("long").alias("cents"),
    )
    ranked = multi_order_index(
        frame,
        {
            "__rr": [F.col("last_d"), F.col("o_custkey")],
            "__fr": [F.col("freq"), F.col("o_custkey")],
            "__mr": [F.col("cents"), F.col("o_custkey")],
        },
        total_count_col="__n",
    )
    n = F.col("__n")
    return (
        ranked.select(
            ntile_from_rank(F.col("__rr"), n, 5).alias("r_score"),
            ntile_from_rank(F.col("__fr"), n, 5).alias("f_score"),
            ntile_from_rank(F.col("__mr"), n, 5).alias("m_score"),
            "cents",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").cast("long").alias("segment_cents"),
        )
    )


SQL_RFM_SEGMENTS = """
WITH f AS (
  SELECT o_custkey,
         max(date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE))) AS last_d,
         count(*) AS freq,
         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1),
s AS (
  SELECT cents,
         ntile(5) OVER (ORDER BY last_d, o_custkey) AS r_score,
         ntile(5) OVER (ORDER BY freq, o_custkey) AS f_score,
         ntile(5) OVER (ORDER BY cents, o_custkey) AS m_score
  FROM f)
SELECT CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS segment_cents
FROM s GROUP BY 1, 2, 3
"""


def q_fx_normalize(spark, sf_dir):
    """Multi-currency normalization — the reference parses localized
    money (F1) in ONE currency; a consolidation across entities also
    needs dated FX conversion. Orders are assigned a deterministic
    currency (o_orderkey % 3), a SPARSE daily rate table (one quote
    every 3 days, micro-unit integer rates from pure arithmetic) is
    generated in-plan, and each order takes the LATEST QUOTE AT OR
    BEFORE its date via the as-of join (operators/asof.py — the
    sparse-quote semantics an equi-join cannot express). Conversion
    stays exact: cents x micro-rate summed as DECIMAL(38,0), shipped
    as digits. Output is (currency, year)-scale."""
    from smartbots_etl_facturas_spark.operators.asof import asof_join

    orders = _read(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("d"),
        F.year(F.col("o_orderdate").cast("date")).cast("long").alias("yr"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
        (F.col("o_orderkey") % 3).cast("long").alias("ccy"),
    )
    lo, hi = 8000, 10000  # orderdate day span (1992-1998) with margin
    # one flat range enumerates (day, ccy) pairs — no generator join
    day = F.expr("id div 3 * 3")
    quotes = spark.range((lo // 3) * 3, (hi // 3 + 1) * 3).select(
        (F.col("id") % 3).alias("ccy"),
        day.alias("d"),
        # micro-units: 0.8..1.3-ish, exact integer arithmetic
        (
            F.lit(800_000)
            + ((day * 31 + (F.col("id") % 3) * 7919) % 500) * 1000
        ).alias("rate_micro"),
    )
    # 3 currencies would serialize the carry-forward merge onto 3
    # tasks; salting spreads each currency across 32 buckets with the
    # (tiny) quote stream replicated per bucket — identical output
    enriched = asof_join(
        orders, quotes, on="ccy", ts_col="d", payload_cols=["rate_micro"],
        salt_partitions=32,
    )
    return (
        enriched.groupBy("ccy", "yr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("cents") * F.col("matched_rate_micro")).cast(
                    "decimal(38,0)"
                )
            ).alias("__sum"),
        )
        .select(
            "ccy",
            "yr",
            "n",
            F.col("__sum").cast("string").alias("sum_micro_cents"),
        )
    )


SQL_FX_NORMALIZE = """
WITH o AS (
  SELECT o_orderkey,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         CAST(o_orderkey % 3 AS BIGINT) AS ccy
  FROM orders),
q AS (
  SELECT CAST(c.range AS BIGINT) AS ccy, CAST(r.range * 3 AS BIGINT) AS d,
         CAST(800000 + ((r.range * 3 * 31 + c.range * 7919) % 500) * 1000
              AS BIGINT) AS rate_micro
  FROM range(2666, 3334) r CROSS JOIN range(3) c),
m AS (
  SELECT o.ccy, o.yr, o.cents, q.rate_micro
  FROM o ASOF LEFT JOIN q ON o.ccy = q.ccy AND o.d >= q.d)
SELECT ccy, yr, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(cents AS HUGEINT) * rate_micro) AS VARCHAR)
         AS sum_micro_cents
FROM m GROUP BY 1, 2
"""


def q_ar_aging(spark, sf_dir):
    """Accounts-receivable AGING — the canonical invoice-ledger
    report over the reference's domain: open orders (status <> 'F')
    bucketed by age at the ledger date (the max order date, derived
    in-plan as a 1-row broadcast so the report is reproducible on any
    snapshot), exact decimal outstanding totals per (bucket,
    priority). One scan + one bounded aggregation; the buckets are
    integer day arithmetic."""
    orders = _read(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderpriority",
        F.col("o_orderstatus").alias("st"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("d"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    asof = o.agg(F.max("d").alias("__asof"))
    age = F.col("__asof") - F.col("d")
    bucket = (
        F.when(age <= 30, F.lit("0-30"))
        .when(age <= 60, F.lit("31-60"))
        .when(age <= 90, F.lit("61-90"))
        .otherwise(F.lit("90+"))
    )
    return (
        o.filter(F.col("st") != "F")
        .crossJoin(F.broadcast(asof))  # 1-row ledger-date normalizer
        .groupBy(bucket.alias("age_bucket"), "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_open"),
            F.sum("cents").cast("long").alias("outstanding_cents"),
        )
    )


SQL_AR_AGING = """
WITH o AS (
  SELECT o_orderpriority, o_orderstatus AS st,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders),
a AS (SELECT max(d) AS ref_d FROM o)
SELECT CASE WHEN ref_d - d <= 30 THEN '0-30'
            WHEN ref_d - d <= 60 THEN '31-60'
            WHEN ref_d - d <= 90 THEN '61-90'
            ELSE '90+' END AS age_bucket,
       o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_open,
       CAST(sum(cents) AS BIGINT) AS outstanding_cents
FROM o CROSS JOIN a
WHERE st <> 'F'
GROUP BY 1, 2
"""


def q_impute_median(spark, sf_dir):
    """Data repair (operators/quality.py:impute_group_median): a
    deterministic 1-in-37 "sensor dropout" nulls lineitem quantities,
    which are then filled with the EXACT rank-derived median of the
    surviving values in the same (returnflag, linestatus) group —
    pure integer rank arithmetic, no interpolation, so the filled
    value is a number both engines agree on. Ships only the repaired
    rows (bounded by the dropout rate); one key-partitioned window +
    one keyed join, no global sort."""
    from smartbots_etl_facturas_spark.operators.quality import (
        impute_group_median,
    )

    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.concat_ws("|", "l_returnflag", "l_linestatus").alias("grp"),
        F.when(
            F.col("l_orderkey") % 37 == 0, F.lit(None).cast("long")
        )
        .otherwise(F.round(F.col("l_quantity")).cast("long"))
        .alias("qty"),
    )
    out = impute_group_median(li, "grp", "qty", ["l_orderkey", "l_linenumber"])
    return out.filter(F.col("was_imputed")).select(
        "l_orderkey", "l_linenumber", "grp", "qty", "was_imputed"
    )


SQL_IMPUTE_MEDIAN = """
WITH base AS (
  SELECT l_orderkey, l_linenumber,
         l_returnflag || '|' || l_linestatus AS grp,
         CASE WHEN l_orderkey % 37 = 0 THEN NULL
              ELSE CAST(round(l_quantity) AS BIGINT) END AS qty
  FROM lineitem),
ranked AS (
  SELECT grp, qty,
         row_number() OVER (PARTITION BY grp
                            ORDER BY qty, l_orderkey, l_linenumber) AS rk,
         count(*) OVER (PARTITION BY grp) AS n
  FROM base WHERE qty IS NOT NULL),
med AS (
  SELECT grp, qty AS med FROM ranked
  WHERE rk = CAST(ceil(n * 0.5) AS INTEGER))
SELECT b.l_orderkey, b.l_linenumber, b.grp,
       coalesce(b.qty, m.med) AS qty,
       TRUE AS was_imputed
FROM base b LEFT JOIN med m ON b.grp = m.grp
WHERE b.qty IS NULL
"""


def q_hll_by_group(spark, sf_dir):
    """GROUPED HyperLogLog (operators/sketches.py:hll_registers_by):
    one independent 64-register sketch per order priority, all built
    in ONE map-side-combinable aggregation — the cube/rollup form of
    the distinct-count sketch (per-group tables re-max to the global
    sketch, pinned in tests/test_sketches.py). Every per-group
    register set, exact-integer harmonic sum, and estimate is
    reproduced bit-for-bit by the oracle; the <35% relative-error
    contract at m=64 is a value-checked boolean per group."""
    from smartbots_etl_facturas_spark.operators.sketches import (
        hll_estimate_by,
        hll_registers_by,
    )

    orders = _read(spark, sf_dir, "orders")
    est = hll_estimate_by(
        hll_registers_by(orders, "o_orderpriority", "o_custkey", p=6), p=6
    )
    exact = orders.groupBy(
        F.col("o_orderpriority").alias("grp")
    ).agg(F.countDistinct("o_custkey").cast("long").alias("n_exact"))
    return exact.join(est, "grp").select(
        "grp",
        "n_exact",
        "int_sum",
        "n_zero_buckets",
        "hll_estimate",
        (
            F.abs(F.col("hll_estimate") - F.col("n_exact"))
            / F.col("n_exact").cast("double")
            < 0.35
        ).alias("rel_err_ok"),
    )


SQL_HLL_BY_GROUP = """
WITH h AS (
  SELECT o_orderpriority AS grp,
         ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 17592186044416
   + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 1099511627776
   + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 68719476736
   + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 4294967296
   + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 268435456
   + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 16777216
   + (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 1048576
   + (strpos('0123456789abcdef', substr(h, 8, 1)) - 1) * 65536
   + (strpos('0123456789abcdef', substr(h, 9, 1)) - 1) * 4096
   + (strpos('0123456789abcdef', substr(h, 10, 1)) - 1) * 256
   + (strpos('0123456789abcdef', substr(h, 11, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(h, 12, 1)) - 1)) AS hv
  FROM (SELECT o_orderpriority,
               md5('hll-v1:' || CAST(o_custkey AS VARCHAR)) AS h
        FROM orders)),
br AS (
  SELECT grp, CAST(hv // 4398046511104 AS BIGINT) AS bucket,
         hv % 4398046511104 AS rest
  FROM h),
regs AS (
  SELECT grp, bucket,
         max(CASE WHEN rest = 0 THEN 43
                  ELSE 42 - length(bin(rest)) + 1 END) AS rho_max
  FROM br GROUP BY 1, 2),
agg AS (
  SELECT grp,
         CAST(coalesce(sum(CAST(2 AS BIGINT) ** (43 - rho_max)), 0)
              + (64 - count(*)) * 8796093022208 AS BIGINT) AS int_sum,
         CAST(64 - count(*) AS BIGINT) AS n_zero_buckets
  FROM regs GROUP BY 1),
ex AS (SELECT o_orderpriority AS grp,
              CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact
       FROM orders GROUP BY 1)
SELECT ex.grp, n_exact, int_sum, n_zero_buckets,
       round(CAST(0.7093409548395029 AS DOUBLE) * 64 * 64 * 8796093022208.0
             / CAST(int_sum AS DOUBLE), 3) AS hll_estimate,
       (abs(round(CAST(0.7093409548395029 AS DOUBLE) * 64 * 64
                  * 8796093022208.0 / CAST(int_sum AS DOUBLE), 3) - n_exact)
        / CAST(n_exact AS DOUBLE)) < 0.35 AS rel_err_ok
FROM ex JOIN agg ON ex.grp = agg.grp
"""


def q_bm25_incremental(spark, sf_dir):
    """INCREMENTAL inverted-index maintenance: the arriving batch
    (doc_id % 10 == 0) is tokenized ALONE — never re-reading the
    standing corpus — and merged into the persisted index by pure
    monoid algebra: postings/doclen rows are doc-disjoint so the
    merge is a union, corpus stats (n_docs, total_len) are an
    element-wise sum of two 1-row frames. The merged index then
    serves the SAME probe as bm25_prebuilt and must land on the
    full-rebuild scores BIT-FOR-BIT — which is exactly what the
    shared bm25_search oracle recomputes from the whole corpus. The
    lexical member of the incremental-index family
    (minhash_incremental, hll_incremental, ann_pq_prebuilt);
    per-batch cost is O(Δ tokens + probe), independent of corpus
    size."""
    from smartbots_etl_facturas_spark.functions.text import tokens
    from smartbots_etl_facturas_spark.sinks.staged import read_published

    base = ensure_text_index_base(spark, sf_dir)
    delta = _read(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    dtok = delta.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    postings = read_published(
        spark, os.path.join(base, "postings")
    ).unionByName(
        dtok.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = read_published(spark, os.path.join(base, "doclen")).unionByName(
        dtok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    )
    stats = (
        read_published(spark, os.path.join(base, "stats"))
        .unionByName(
            dtok.agg(
                F.countDistinct("doc_id").alias("n_docs"),
                F.count(F.lit(1)).alias("total_len"),
            )
        )
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("total_len").cast("long").alias("total_len"),
        )
    )
    return _bm25_probe(postings, dl, stats, ["spark", "join", "window"])


def q_spend_gini(spark, sf_dir):
    """Gini concentration of per-customer order spend — the
    inequality metric a revenue-concentration monitor alerts on.
    Reported as the exact integer ratio
    (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over cents, never divided:
    deterministic on any engine (ties in spend cannot change Σ i·x —
    swapping equal values leaves it fixed — so the total order is for
    rank stability only). Ranks come from the adaptive tier
    (operators/ranking.py:global_order_index): two-pass
    range-partitioned past the measured 2M-row crossover — no single
    task ever owns an UNMEASURED customer frame."""
    orders = _read(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    spend = orders.groupBy("o_custkey").agg(
        F.sum("cents").cast("long").alias("x")
    )
    # two-pass distributed rank (operators/ranking.py): range-
    # partitioned local row_number + broadcast offsets — no
    # single-partition window even at a 100M-customer frame
    ranked = global_order_index(
        spend, [F.col("x"), F.col("o_custkey")], rank_col="i"
    )
    # The exact ratio ships as STRING digits (not DECIMAL): portable
    # across the harness pandas compare, lossless past 2^53.
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (2 * F.sum(F.col("i") * F.col("x"))
         - (F.count(F.lit(1)) + 1) * F.sum("x"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("gini_num"),
        (F.count(F.lit(1)) * F.sum("x"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("gini_den"),
    )


SQL_SPEND_GINI = """
WITH spend AS (
  SELECT o_custkey,
         sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS x
  FROM orders GROUP BY 1),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i FROM spend)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(2 * sum(i * x) - (count(*) + 1) * sum(x) AS DECIMAL(38,0))
            AS VARCHAR) AS gini_num,
       CAST(CAST(count(*) * sum(x) AS DECIMAL(38,0)) AS VARCHAR) AS gini_den
FROM ranked
"""


def q_stickiness_dau_wau(spark, sf_dir):
    """Daily/weekly active users + stickiness (DAU/WAU) per day — the
    engagement ratio every product dashboard tracks. Exact trailing-
    7-day distinct counts WITHOUT a sliding countDistinct: each
    (user, day) activity fans out to the ≤7 window-end days it covers
    (a BOUNDED sequence-explode — cost 7×|activity|, the standard
    exact-sliding-distinct rewrite), then one distinct + one count
    per day. Stickiness ships as integer micro-units; only days with
    activity are reported."""
    ev = read_events(spark, sf_dir).select(
        "user_id", F.expr("ts div 86400000000000").alias("day")
    ).distinct()
    dau = ev.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    wau = (
        ev.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + 6)
            ).alias("day"),
        )
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            F.col("day").cast("long").alias("day"),
            "dau",
            "wau",
            F.expr("(dau * 1000000) div wau").cast("long")
            .alias("stickiness_micros"),
        )
    )


SQL_STICKINESS_DAU_WAU = """
WITH act AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
  FROM events),
dau AS (SELECT day, count(*) AS dau FROM act GROUP BY 1),
fan AS (
  SELECT DISTINCT user_id, day + i AS day
  FROM act, unnest(generate_series(0, 6)) AS g(i)),
wau AS (SELECT day, count(*) AS wau FROM fan GROUP BY 1)
SELECT CAST(d.day AS BIGINT) AS day, CAST(d.dau AS BIGINT) AS dau,
       CAST(w.wau AS BIGINT) AS wau,
       CAST((d.dau * 1000000) // w.wau AS BIGINT) AS stickiness_micros
FROM dau d JOIN wau w ON d.day = w.day
"""


def q_embedding_project(spark, sf_dir):
    """Deterministic random-projection dimensionality reduction
    (Achlioptas-style sparse integer weights) as a DISTRIBUTED
    matrix multiply re-expressed join-aggregate: embeddings explode
    to (vec_id, i, x_units) long form (exact micro-units via the
    embedding_quantize floor(x·1e6+0.5) tie rule), the 16×64 weight
    matrix — w(j,i) = (md5-hex8(j:i) mod 7) − 3, derivable on ANY
    engine — broadcasts onto the dimension key, and one keyed
    aggregation sums per (vec_id, j). All int64: the projected
    matrix is bit-identical everywhere. The long-form output (no
    array reassembly) is the shape the next pipeline stage consumes."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).select(
        "vec_id",
        "i",
        F.floor(F.col("x").cast("double") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("x_units"),
    )
    weights = (
        spark.range(16 * 64)
        .select(
            (F.col("id") % 64).cast("int").alias("i"),
            F.expr("id div 64").cast("long").alias("j"),
        )
        .withColumn(
            "w",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("proj-v1:"),
                                F.col("j").cast("string"),
                                F.lit(":"),
                                F.col("i").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 7
                - 3
            ).cast("long"),
        )
    )
    return (
        emb.join(F.broadcast(weights), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("x_units") * F.col("w")).cast("long").alias("y_units"))
    )


SQL_EMBEDDING_PROJECT = f"""
WITH ex AS (
  SELECT vec_id, i - 1 AS i,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
           AS x_units
  FROM embeddings,
       unnest(generate_series(1, len(embedding))) AS g(i)),
w AS (
  SELECT CAST(ij % 64 AS INT) AS i, ij // 64 AS j,
         {_SQL_HEX8.format(h="md5('proj-v1:' || CAST(ij // 64 AS VARCHAR)"
                             " || ':' || CAST(ij % 64 AS VARCHAR))")}
           % 7 - 3 AS wv
  FROM unnest(generate_series(0, 16 * 64 - 1)) AS t(ij))
SELECT e.vec_id, CAST(w.j AS BIGINT) AS j,
       CAST(sum(e.x_units * w.wv) AS BIGINT) AS y_units
FROM ex e JOIN w ON e.i = w.i
GROUP BY 1, 2
"""


def q_important_parts(spark, sf_dir):
    """TPC-H Q11-shaped 'important stock': parts whose lineitem
    revenue exceeds 1/2000 of GLOBAL revenue — a grouped aggregate
    HAVING-compared against a 1-row global total broadcast (the
    fraction test cross-multiplied in exact decimals: rev · 2000 >
    total, no division). The classic share-of-total gate at any
    scale: one keyed agg + one 1-row broadcast."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev"),
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum("rev").cast("decimal(38,2)").alias("part_rev")
    )
    total = per_part.agg(
        F.sum("part_rev").cast("decimal(38,2)").alias("__total")
    )
    # The share-of-total GATE stays in exact decimals (no float
    # threshold drift); only the SHIPPED column casts to double, the
    # pandas-portable rendering both engines agree on bit-for-bit.
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_rev") * 2000 > F.col("__total"))
        .select(
            "l_partkey", F.col("part_rev").cast("double").alias("part_rev")
        )
    )


SQL_IMPORTANT_PARTS = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
           AS part_rev
  FROM lineitem GROUP BY 1),
tot AS (SELECT CAST(sum(part_rev) AS DECIMAL(38,2)) AS total FROM per_part)
SELECT l_partkey, CAST(part_rev AS DOUBLE) AS part_rev
FROM per_part, tot
WHERE part_rev * 2000 > total
"""


def q_idle_customers(spark, sf_dir):
    """TPC-H Q22-shaped 'global sales opportunity': customers with
    ABOVE-AVERAGE account balance who have placed NO orders since
    2000-01-01 (lapsed high-value accounts) — a scalar-subquery
    threshold (1-row broadcast, avg compared by cross-multiplication:
    bal · n > total, exact decimals) plus a left-anti join against
    the recent-orders set. Aggregated per market segment so the
    output is segment counts + balance mass, the report shape the
    original query ships."""
    cust = _read(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").cast("decimal(18,2)").alias("bal"),
    )
    stats = cust.agg(
        F.sum("bal").cast("decimal(38,2)").alias("__total"),
        F.count(F.lit(1)).alias("__n"),
    )
    orders = (
        _read(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate").cast("date")
            >= F.lit("2000-01-01").cast("date")
        )
        .select("o_custkey")
    )
    rich = cust.crossJoin(F.broadcast(stats)).filter(
        F.col("bal") * F.col("__n") > F.col("__total")
    )
    idle = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    # Exact decimal internally; double at the ship boundary (see
    # important_parts — pandas-portable rendering across engines).
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_custs"),
        F.sum("bal").cast("decimal(38,2)").cast("double").alias("total_bal"),
    )


SQL_IDLE_CUSTOMERS = """
WITH c AS (
  SELECT c_custkey, c_mktsegment,
         CAST(c_acctbal AS DECIMAL(18,2)) AS bal
  FROM customer),
stats AS (SELECT CAST(sum(bal) AS DECIMAL(38,2)) AS total,
                 count(*) AS n FROM c),
rich AS (
  SELECT c.* FROM c, stats WHERE bal * n > total),
idle AS (
  SELECT * FROM rich
  WHERE NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = rich.c_custkey
                      AND CAST(o.o_orderdate AS DATE) >= DATE '2000-01-01'))
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_custs,
       CAST(CAST(sum(bal) AS DECIMAL(38,2)) AS DOUBLE) AS total_bal
FROM idle GROUP BY 1
"""


def q_connected_components_star(spark, sf_dir):
    """The SAME connected-components problem as connected_components,
    solved by the alternating large-star/small-star scheme (Kiveris
    2014, operators/graph.py:connected_components_star) — O(log² n)
    rounds instead of O(diameter), the tier a 100 TB path-shaped
    graph needs. Must hash-match the identical reachability oracle:
    two independent algorithms, one answer."""
    from smartbots_etl_facturas_spark.operators.graph import (
        connected_components_star,
    )

    li = (
        _read(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 25 == 0)
        .select("l_orderkey", "l_partkey")
    )
    pairs = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") != F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
    )
    return connected_components_star(pairs)


def q_event_trigrams(spark, sf_dir):
    """Top-10 three-step behavior paths: the most frequent
    (step1, step2, step3) event-type trigrams over per-user
    time-ordered sequences — sequence mining's workhorse report.
    Two lag() frames under one user-keyed window (single shuffle),
    one trigram count aggregation (|types|³-bounded), top-10 via
    TakeOrdered. The 3-step extension of event_transitions."""
    ev = read_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", F.col("event_type").alias("s3")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    tri = (
        ev.withColumn("s2", F.lag("s3", 1).over(w))
        .withColumn("s1", F.lag("s3", 2).over(w))
        .filter(F.col("s1").isNotNull())
    )
    return (
        tri.groupBy("s1", "s2", "s3")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "s1", "s2", "s3")
        .limit(10)
    )


SQL_EVENT_TRIGRAMS = """
WITH e AS (
  SELECT user_id, event_type AS s3,
         lag(event_type, 1) OVER w AS s2,
         lag(event_type, 2) OVER w AS s1
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id))
SELECT s1, s2, s3, CAST(count(*) AS BIGINT) AS n
FROM e WHERE s1 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, s1, s2, s3 LIMIT 10
"""


def q_spatial_radius_join(spark, sf_dir):
    """Spatial radius self-join (operators/spatial.py:radius_join):
    all customer pairs within planar radius 600 on a deterministic
    integer point cloud (two multiplicative congruences of c_custkey
    mod 10000 — identical arithmetic in any engine; the 10^4 domain
    is sized so the join is NON-EMPTY at every test scale: 111 pairs
    at sf0.001, 12,380 at sf0.01 — a vacuous zero-row oracle match
    would never exercise the grid join's losslessness). Grid-cell
    bucketing with
    3×3 border replication turns the quadratic all-pairs test into a
    keyed (cell_x, cell_y) equi-join — lossless (every true pair
    shares a replicated cell), ×9 fixed fan-out, no cross join. The
    ORACLE is the brute-force distance join, so the losslessness
    claim itself is what the harness checks."""
    from smartbots_etl_facturas_spark.operators.spatial import radius_join

    pts = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.expr("(c_custkey * 48271) % 10000").alias("x"),
        F.expr("(c_custkey * 69621) % 10000").alias("y"),
    )
    return radius_join(pts, 600)


SQL_SPATIAL_RADIUS_JOIN = """
WITH p AS (
  SELECT c_custkey AS id,
         (c_custkey * 48271) % 10000 AS x,
         (c_custkey * 69621) % 10000 AS y
  FROM customer)
SELECT a.id AS id_a, b.id AS id_b,
       CAST((a.x - b.x) * (a.x - b.x)
            + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist_sq
FROM p a JOIN p b ON a.id < b.id
WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 600 * 600
"""


# --- contract ---------------------------------------------------------------

# --- round-7 batch 2: profiling, drift, scale-first ranking ---------------


def q_topk_two_pass(spark, sf_dir):
    """Top-3 lineitems by price per supplier via the two-pass bounded
    top-k (operators/ranking.py:topk_per_group): local prune keyed by
    (group, source partition) spreads hot groups, then the global
    pass sorts only the k*n_partitions survivors per group — no full
    group ever sorts on one task. The window_rank query is the naive
    single-window formulation; this is its 100 TB-shaped rewrite,
    oracle-checked to the identical SQL semantics."""
    from smartbots_etl_facturas_spark.operators.ranking import topk_per_group

    li = _read(spark, sf_dir, "lineitem")
    out = topk_per_group(
        li,
        ["l_suppkey"],
        [F.desc("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber")],
        3,
        rank_col="rn",
    )
    return out.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").cast("double").alias("price"),
        F.col("rn").cast("long").alias("rn"),
    )


SQL_TOPK_TWO_PASS = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(l_extendedprice AS DOUBLE) AS price,
       CAST(rn AS BIGINT) AS rn
FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_suppkey
                                ORDER BY l_extendedprice DESC,
                                         l_orderkey, l_linenumber) AS rn
      FROM lineitem)
WHERE rn <= 3
"""


def q_psi_drift(spark, sf_dir):
    """Population Stability Index of the order-price distribution,
    early era (<=1997) vs late: per-bin counts + PSI contribution
    (operators/drift.py:psi_bins). Count-exact until one final
    per-bin double expression; 1-row broadcast normalizer, no
    window."""
    from smartbots_etl_facturas_spark.operators.drift import psi_bins

    orders = _read(spark, sf_dir, "orders")
    return psi_bins(
        orders,
        "o_totalprice",
        F.year("o_orderdate") <= F.lit(1997),
        lo=0.0,
        hi=500000.0,
        nbins=10,
    )


SQL_PSI_DRIFT = """
WITH binned AS (
  SELECT least(greatest(CAST(floor((o_totalprice - 0.0) / 50000.0)
                        AS BIGINT), 0), 9) AS bin,
         CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END AS a
  FROM orders),
counts AS (
  SELECT r.range AS bin,
         CAST(COALESCE(sum(b.a), 0) AS BIGINT) AS n_a,
         CAST(COALESCE(sum(1 - b.a), 0) AS BIGINT) AS n_b
  FROM range(10) r LEFT JOIN binned b ON b.bin = r.range
  GROUP BY 1),
tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS tot_a,
               CAST(sum(n_b) AS BIGINT) AS tot_b FROM counts)
SELECT bin, n_a, n_b,
       round((greatest(CAST(n_a AS DOUBLE), 0.5) / tot_a
              - greatest(CAST(n_b AS DOUBLE), 0.5) / tot_b)
             * ln((greatest(CAST(n_a AS DOUBLE), 0.5) / tot_a)
                  / (greatest(CAST(n_b AS DOUBLE), 0.5) / tot_b)), 9)
         AS psi_contrib
FROM counts CROSS JOIN tot
"""


def q_chi_square_cells(spark, sf_dir):
    """Chi-square contingency cells of order priority x status
    (operators/drift.py:chi_square_cells): observed / expected /
    per-cell contribution, all derived from exact long totals so the
    oracle reproduces every double bit-for-bit before the round."""
    from smartbots_etl_facturas_spark.operators.drift import chi_square_cells

    orders = _read(spark, sf_dir, "orders")
    return chi_square_cells(orders, "o_orderpriority", "o_orderstatus")


SQL_CHI_SQUARE_CELLS = """
WITH cells AS (
  SELECT o_orderpriority AS x, o_orderstatus AS y,
         CAST(count(*) AS BIGINT) AS observed
  FROM orders GROUP BY 1, 2),
rt AS (SELECT x, CAST(sum(observed) AS BIGINT) AS rt FROM cells GROUP BY 1),
ct AS (SELECT y, CAST(sum(observed) AS BIGINT) AS ct FROM cells GROUP BY 1),
g AS (SELECT CAST(sum(observed) AS BIGINT) AS g FROM cells)
SELECT c.x, c.y, c.observed,
       round(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(g AS DOUBLE), 9)
         AS expected,
       round(pow(CAST(c.observed AS DOUBLE)
                 - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                   / CAST(g AS DOUBLE), 2)
             / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                / CAST(g AS DOUBLE)), 9) AS chi2_contrib
FROM cells c JOIN rt ON c.x = rt.x JOIN ct ON c.y = ct.y CROSS JOIN g
"""


def q_fd_violations(spark, sf_dir):
    """Functional-dependency discovery (operators/profile.py:
    fd_violations): every nation key whose customers span more than
    one market segment — the DISCOVERY direction of the reference's
    fixed-rule validation (src/domain/validators.py). One hash
    aggregation; output bounded by violating keys."""
    from smartbots_etl_facturas_spark.operators.profile import fd_violations

    cust = _read(spark, sf_dir, "customer")
    return fd_violations(cust, "c_nationkey", "c_mktsegment")


SQL_FD_VIOLATIONS = """
SELECT c_nationkey AS lhs,
       CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_rhs_values,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(c_mktsegment) AS VARCHAR) AS rhs_min,
       CAST(max(c_mktsegment) AS VARCHAR) AS rhs_max
FROM customer
GROUP BY 1
HAVING count(DISTINCT c_mktsegment) > 1
"""


def q_column_profile(spark, sf_dir):
    """One-scan dataset profile of the orders table
    (operators/profile.py:column_profile): null count, exact distinct
    count, min/max per column as a tidy frame — all statistics are
    expressions of a SINGLE agg(), not a per-column scan loop."""
    from smartbots_etl_facturas_spark.operators.profile import column_profile

    orders = _read(spark, sf_dir, "orders")
    return column_profile(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderpriority"],
    )


SQL_COLUMN_PROFILE = """
SELECT 'o_orderkey' AS col_name,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(min(o_orderkey) AS VARCHAR) AS min_str,
       CAST(max(o_orderkey) AS VARCHAR) AS max_str
FROM orders
UNION ALL
SELECT 'o_custkey',
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT o_custkey) AS BIGINT),
       CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderstatus',
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT o_orderstatus) AS BIGINT),
       CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_totalprice',
       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT o_totalprice) AS BIGINT),
       CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderpriority',
       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
            AS BIGINT),
       CAST(count(DISTINCT o_orderpriority) AS BIGINT),
       CAST(min(o_orderpriority) AS VARCHAR),
       CAST(max(o_orderpriority) AS VARCHAR)
FROM orders
"""


def q_column_profile_approx(spark, sf_dir):
    """The 100 TB profile tier (operators/profile.py:column_profile
    with approx=True): per-column distinct counts come from Spark's
    native HLL++ (approx_count_distinct, rsd=0.05) instead of the
    exact count_distinct EXPAND — the exact plan multiplies the one
    aggregation into a distinct-shuffle per profiled column, the
    sketch keeps it one fixed-size mergeable pass. The sketch
    estimate itself is engine-specific, so the SHIPPED contract is
    the invariant both engines can check: per column, the exact
    distinct count plus a boolean pinning the estimate within 5x the
    configured rsd (the same rel_err_ok pattern as hll_by_group)."""
    from smartbots_etl_facturas_spark.operators.profile import column_profile

    orders = _read(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    est = column_profile(orders, cols, approx=True, rsd=0.05).select(
        "col_name", F.col("n_distinct").alias("n_est")
    )
    exact = column_profile(orders, cols).select(
        "col_name", F.col("n_distinct").alias("n_exact")
    )
    return exact.join(est, "col_name").select(
        "col_name",
        "n_exact",
        (
            F.abs(F.col("n_est") - F.col("n_exact"))
            / F.col("n_exact").cast("double")
            < 0.25
        ).alias("rel_err_ok"),
    )


SQL_COLUMN_PROFILE_APPROX = """
SELECT 'o_orderkey' AS col_name,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_exact,
       TRUE AS rel_err_ok
FROM orders
UNION ALL
SELECT 'o_custkey', CAST(count(DISTINCT o_custkey) AS BIGINT), TRUE
FROM orders
UNION ALL
SELECT 'o_orderstatus', CAST(count(DISTINCT o_orderstatus) AS BIGINT), TRUE
FROM orders
UNION ALL
SELECT 'o_orderpriority', CAST(count(DISTINCT o_orderpriority) AS BIGINT),
       TRUE
FROM orders
"""


def q_acf_daily_orders(spark, sf_dir):
    """Autocorrelation (lags 1-3) of the daily order-count series
    (operators/timeseries.py:acf_lags). The lag join is a shifted
    equi-join on the integer day axis — never a global window — and
    the five sufficient statistics are exact LONG sums, so the single
    final double per lag is bit-portable to the oracle."""
    from smartbots_etl_facturas_spark.operators.timeseries import acf_lags

    orders = _read(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return acf_lags(daily, "d", "cnt", [1, 2, 3])


SQL_ACF_DAILY_ORDERS = """
WITH s AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS t,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1),
p AS (
  SELECT l.lag_k, a.x AS x, b.x AS y
  FROM (VALUES (1), (2), (3)) l(lag_k)
  JOIN s a ON TRUE
  JOIN s b ON b.t = a.t + l.lag_k),
agg AS (
  SELECT CAST(lag_k AS BIGINT) AS lag_k,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM p GROUP BY 1)
SELECT lag_k, n_pairs,
       round((CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
             / sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                    * (CAST(n_pairs AS DOUBLE) * syy - sy * sy)), 9) AS acf
FROM agg
"""


# --- round-7 batch 3: statistical profiling at scale -----------------------


def q_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlation of the four lineitem measures in
    ONE scan (operators/profile.py:corr_matrix): every sufficient
    statistic is an exact integer sum (cents-scaled inputs,
    DECIMAL(38,0) accumulation — bit-equal to DuckDB's 128-bit sums),
    map-side partial aggregation reduces each partition to one stats
    row, and the pair unpivot is F.inline on the 1-row result.
    Pearson is scale-invariant, so the cents correlation IS the
    dollars correlation. Products run the guarded LONG fast tier
    (round-9): the inputs are cents of prices bounded in the
    millions, far inside the floor(sqrt(2^63-1)) per-row bound the
    guard enforces with a visible raise — exact like the decimal
    default, without its per-row BigDecimal cost (the round-8
    hardening's ~40% scan overhead). The decimal tier stays
    oracle-checked via corr_matrix_decimal."""
    from smartbots_etl_facturas_spark.operators.profile import corr_matrix

    li = _read(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731
    return corr_matrix(
        li,
        {
            "qty": cents("l_quantity"),
            "price": cents("l_extendedprice"),
            "disc": cents("l_discount"),
            "tax": cents("l_tax"),
        },
        products="long",
    )


def q_corr_matrix_decimal(spark, sf_dir):
    """The DEFAULT decimal product tier of corr_matrix over the same
    profile — same exact answers as the long tier within the
    magnitude bound (both are lossless integer arithmetic), kept
    registered so BOTH tiers stay value-oracle-checked against the
    identical SQL."""
    from smartbots_etl_facturas_spark.operators.profile import corr_matrix

    li = _read(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731
    return corr_matrix(
        li,
        {
            "qty": cents("l_quantity"),
            "price": cents("l_extendedprice"),
            "disc": cents("l_discount"),
            "tax": cents("l_tax"),
        },
        products="decimal",
    )


SQL_CORR_MATRIX = """
WITH v AS (
  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
         CAST(round(l_discount * 100) AS BIGINT) AS d,
         CAST(round(l_tax * 100) AS BIGINT) AS t
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(q) AS sq, sum(p) AS sp, sum(d) AS sd, sum(t) AS st,
         sum(q * q) AS sqq, sum(p * p) AS spp,
         sum(d * d) AS sdd, sum(t * t) AS stt,
         sum(q * p) AS sqp, sum(q * d) AS sqd, sum(q * t) AS sqt,
         sum(p * d) AS spd, sum(p * t) AS spt, sum(d * t) AS sdt
  FROM v)
SELECT 'qty' AS col_x, 'price' AS col_y, n,
       round((CAST(n AS DOUBLE) * CAST(sqp AS DOUBLE)
              - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                     - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                       - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))), 9)
         AS corr FROM s
UNION ALL
SELECT 'qty', 'disc', n,
       round((CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE)
              - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                     - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
                       - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))), 9)
  FROM s
UNION ALL
SELECT 'qty', 'tax', n,
       round((CAST(n AS DOUBLE) * CAST(sqt AS DOUBLE)
              - CAST(sq AS DOUBLE) * CAST(st AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                     - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                       - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))), 9)
  FROM s
UNION ALL
SELECT 'price', 'disc', n,
       round((CAST(n AS DOUBLE) * CAST(spd AS DOUBLE)
              - CAST(sp AS DOUBLE) * CAST(sd AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                     - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
                       - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))), 9)
  FROM s
UNION ALL
SELECT 'price', 'tax', n,
       round((CAST(n AS DOUBLE) * CAST(spt AS DOUBLE)
              - CAST(sp AS DOUBLE) * CAST(st AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
                     - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                       - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))), 9)
  FROM s
UNION ALL
SELECT 'disc', 'tax', n,
       round((CAST(n AS DOUBLE) * CAST(sdt AS DOUBLE)
              - CAST(sd AS DOUBLE) * CAST(st AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
                     - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                       - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))), 9)
  FROM s
"""


def q_categorical_entropy(spark, sf_dir):
    """Per-category Shannon-entropy contributions of the two orders
    enum columns (operators/profile.py:categorical_entropy): one
    generator unpivot (no shuffle) + ONE hash aggregation; the
    per-column totals re-aggregate the category-scale counts frame
    and return via broadcast. Summing a column's h_contrib gives its
    entropy; each double is a single expression over exact longs."""
    from smartbots_etl_facturas_spark.operators.profile import (
        categorical_entropy,
    )

    orders = _read(spark, sf_dir, "orders")
    return categorical_entropy(orders, ["o_orderstatus", "o_orderpriority"])


SQL_CATEGORICAL_ENTROPY = """
WITH u AS (
  SELECT 'o_orderstatus' AS col_name, CAST(o_orderstatus AS VARCHAR) AS value
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders),
c AS (
  SELECT col_name, value, CAST(count(*) AS BIGINT) AS cnt
  FROM u WHERE value IS NOT NULL GROUP BY 1, 2),
t AS (SELECT col_name, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1)
SELECT c.col_name, c.value, c.cnt,
       round(-(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
             * ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS h_contrib
FROM c JOIN t USING (col_name)
"""


def q_mi_cells(spark, sf_dir):
    """Mutual-information contributions per (priority, status) cell
    (operators/drift.py:mi_cells) — the dependence measure paired
    with chi_square_cells, same bounded plan: one cells aggregation,
    broadcast margins, 1-row grand-total normalizer. Sum of
    mi_contrib = I(X;Y)."""
    from smartbots_etl_facturas_spark.operators.drift import mi_cells

    orders = _read(spark, sf_dir, "orders")
    return mi_cells(orders, "o_orderpriority", "o_orderstatus")


SQL_MI_CELLS = """
WITH cells AS (
  SELECT o_orderpriority AS x, o_orderstatus AS y,
         CAST(count(*) AS BIGINT) AS n_xy
  FROM orders GROUP BY 1, 2),
rt AS (SELECT x, CAST(sum(n_xy) AS BIGINT) AS nx FROM cells GROUP BY 1),
ct AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS ny FROM cells GROUP BY 1),
g AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM cells)
SELECT c.x, c.y, c.n_xy,
       round((CAST(c.n_xy AS DOUBLE) / CAST(n AS DOUBLE))
             * ln(CAST(n AS DOUBLE) * CAST(c.n_xy AS DOUBLE)
                  / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))), 9)
         AS mi_contrib
FROM cells c JOIN rt ON c.x = rt.x JOIN ct ON c.y = ct.y CROSS JOIN g
"""


def q_key_skew_topk(spark, sf_dir):
    """Heavy-hitter profile of lineitem's supplier key
    (operators/skew.py:key_skew_profile): top-20 keys by row count
    with table share — the measurement behind auto_salt_buckets and
    broadcast decisions. groupBy+count is map-side-combined
    (skew-safe on the frame that measures skew), top-k is
    TakeOrdered (per-partition heap, never a global sort), share via
    1-row broadcast normalizer."""
    from smartbots_etl_facturas_spark.operators.skew import key_skew_profile

    li = _read(spark, sf_dir, "lineitem")
    return key_skew_profile(li, "l_suppkey", 20)


SQL_KEY_SKEW_TOPK = """
WITH c AS (
  SELECT l_suppkey AS key, CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1),
t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
SELECT key, cnt,
       round(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE), 9) AS share
FROM c CROSS JOIN t
ORDER BY cnt DESC, key
LIMIT 20
"""


def q_linreg_price(spark, sf_dir):
    """Multivariate OLS fit of lineitem price on (quantity, discount)
    — the distributed half is ONE sufficient-statistics aggregation
    (operators/regression.py:linreg_sufficient_stats, exact
    DECIMAL(38,0) sums of cents-scaled integers, bit-equal to the
    oracle's 128-bit sums); the 3x3 normal equations are then solved
    IN THE PLAN by Cramer's rule over double-cast sums, the exact
    expression structure mirrored in the SQL oracle so intercept,
    both coefficients AND R^2 reproduce bit-for-bit before the
    round. (The general-k solver is fit_linear — exact rational
    elimination, pytest-checked against numpy.)"""
    from smartbots_etl_facturas_spark.operators.regression import (
        linreg_sufficient_stats,
    )

    li = _read(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(F.col(c) * 100).cast("long")  # noqa: E731
    # guarded LONG product tier (round-9): cents magnitudes are far
    # inside the sqrt(2^63-1) per-row bound, the guard raises visibly
    # if not — exact like the decimal default without its per-row
    # BigDecimal cost
    stats = linreg_sufficient_stats(
        li,
        {"qty": cents("l_quantity"), "disc": cents("l_discount")},
        cents("l_extendedprice"),
        products="long",
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    n, sq, sd = d("n"), d("s_qty"), d("s_disc")
    sqq, sqd, sdd = d("s_qty_qty"), d("s_qty_disc"), d("s_disc_disc")
    sy, sqy, sdy, syy = d("sy"), d("s_qty_y"), d("s_disc_y"), d("syy")
    det = (
        n * (sqq * sdd - sqd * sqd)
        - sq * (sq * sdd - sqd * sd)
        + sd * (sq * sqd - sqq * sd)
    )
    det0 = (
        sy * (sqq * sdd - sqd * sqd)
        - sq * (sqy * sdd - sqd * sdy)
        + sd * (sqy * sqd - sqq * sdy)
    )
    det1 = (
        n * (sqy * sdd - sqd * sdy)
        - sy * (sq * sdd - sqd * sd)
        + sd * (sq * sdy - sqy * sd)
    )
    det2 = (
        n * (sqq * sdy - sqy * sqd)
        - sq * (sq * sdy - sqy * sd)
        + sy * (sq * sqd - sqq * sd)
    )
    sse = syy - (det0 / det * sy + det1 / det * sqy + det2 / det * sdy)
    sst = syy - sy * sy / n
    return stats.select(
        F.col("n").cast("long").alias("n"),
        # scale 6, not the house 9: Spark's round() rounds the double's
        # SHORTEST decimal rendering (BigDecimal.valueOf) while the
        # oracle rounds the exact binary value — they can disagree when
        # integer digits + scale reach double's ~16 significant digits
        # (intercept is ~5e6 cents). 7+6 digits keeps both in agreement.
        F.round(det0 / det, 6).alias("intercept"),
        F.round(det1 / det, 6).alias("b_qty"),
        F.round(det2 / det, 6).alias("b_disc"),
        F.round(F.lit(1.0) - sse / sst, 9).alias("r2"),
    )


SQL_LINREG_PRICE = """
WITH v AS (
  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q,
         CAST(round(l_discount * 100) AS BIGINT) AS d,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
    AND l_extendedprice IS NOT NULL),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(q) AS DOUBLE) AS sq, CAST(sum(d) AS DOUBLE) AS sd,
         CAST(sum(q * q) AS DOUBLE) AS sqq,
         CAST(sum(q * d) AS DOUBLE) AS sqd,
         CAST(sum(d * d) AS DOUBLE) AS sdd,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(q * y) AS DOUBLE) AS sqy,
         CAST(sum(d * y) AS DOUBLE) AS sdy,
         CAST(sum(y * y) AS DOUBLE) AS syy,
         CAST(count(*) AS BIGINT) AS n_exact
  FROM v),
dets AS (
  SELECT n_exact, sy, sqy, sdy, syy, n,
         n * (sqq * sdd - sqd * sqd)
           - sq * (sq * sdd - sqd * sd)
           + sd * (sq * sqd - sqq * sd) AS det,
         sy * (sqq * sdd - sqd * sqd)
           - sq * (sqy * sdd - sqd * sdy)
           + sd * (sqy * sqd - sqq * sdy) AS det0,
         n * (sqy * sdd - sqd * sdy)
           - sy * (sq * sdd - sqd * sd)
           + sd * (sq * sdy - sqy * sd) AS det1,
         n * (sqq * sdy - sqy * sqd)
           - sq * (sq * sdy - sqy * sd)
           + sy * (sq * sqd - sqq * sd) AS det2
  FROM s)
SELECT n_exact AS n,
       round(det0 / det, 6) AS intercept,
       round(det1 / det, 6) AS b_qty,
       round(det2 / det, 6) AS b_disc,
       round(1.0 - (syy - (det0 / det * sy + det1 / det * sqy
                           + det2 / det * sdy))
                   / (syy - sy * sy / n), 9) AS r2
FROM dets
"""


def q_frequent_pairs(spark, sf_dir):
    """Market-basket mining: top-25 part pairs co-ordered in the same
    order (operators/baskets.py:frequent_pairs). ONE shuffle builds
    sorted distinct per-order item arrays; pair generation is a
    pure-Column generator bounded by basket size (never a self-join
    of the fact); the cut is TakeOrdered with key tie-breaks."""
    from smartbots_etl_facturas_spark.operators.baskets import frequent_pairs

    li = _read(spark, sf_dir, "lineitem")
    return frequent_pairs(li, "l_orderkey", "l_partkey", 25)


SQL_FREQUENT_PAIRS = """
WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem)
SELECT a.item AS item_a, c.item AS item_b,
       CAST(count(*) AS BIGINT) AS support
FROM b a JOIN b c ON a.bk = c.bk AND a.item < c.item
GROUP BY 1, 2
ORDER BY support DESC, item_a, item_b
LIMIT 25
"""


def q_seasonal_dow(spark, sf_dir):
    """Day-of-week seasonal index of order volume
    (operators/timeseries.py:seasonal_index): one 7-row hash
    aggregation + 1-row broadcast normalizer. The dow axis is pure
    integer arithmetic on days-since-epoch ((d+3)%7, 0=Monday) so
    both engines compute the identical period with no calendar-API
    divergence."""
    from smartbots_etl_facturas_spark.operators.timeseries import (
        seasonal_index,
    )

    orders = _read(spark, sf_dir, "orders")
    dow = (
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        + 3
    ) % 7
    return seasonal_index(orders, dow.cast("long"), 7)


SQL_SEASONAL_DOW = """
WITH c AS (
  SELECT CAST((date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) + 3) % 7 AS BIGINT)
           AS period,
         CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1),
t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
SELECT period, cnt,
       round(CAST(cnt AS DOUBLE) * 7.0 / CAST(total AS DOUBLE), 9)
         AS seas_index
FROM c CROSS JOIN t
"""




def q_returned_items(spark, sf_dir):
    """TPC-H Q10 shape — returned-item reporting: top-20 customers by
    lost revenue from RETURNED lines (l_returnflag = 'R') in one
    quarter, with customer and nation attributes. Plan: both fact
    filters push to the scans, nation broadcasts, customer joins the
    aggregated per-customer revenue (AQE picks broadcast once the agg
    shrinks the build side), top-20 under a total order. Revenue sums
    as EXACT decimal and ships via the string-digits→double idiom."""
    cutoff = F.lit("1997-10-01").cast("date")
    orders = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= cutoff)
        & (F.col("o_orderdate").cast("date")
           < F.date_add(cutoff, 92))
    ).select("o_orderkey", "o_custkey")
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select(
        "l_orderkey",
        (F.col("l_extendedprice").cast("decimal(12,2)")
         * (1 - F.col("l_discount").cast("decimal(8,4)"))).alias("amt"),
    )
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("amt").alias("rev"))
    )
    cust = _read(spark, sf_dir, "customer")
    nation = F.broadcast(_read(spark, sf_dir, "nation"))
    return (
        rev.join(cust, rev.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.col("c_acctbal").cast("double").alias("acctbal"),
            F.col("rev").cast("string").cast("double").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.col("c_custkey"))
        .limit(20)
    )


SQL_RETURNED_ITEMS = """
WITH rev AS (
  SELECT o.o_custkey,
         sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
             * (1 - CAST(l.l_discount AS DECIMAL(8,4)))) AS rev
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND CAST(o.o_orderdate AS DATE) >= DATE '1997-10-01'
    AND CAST(o.o_orderdate AS DATE) < DATE '1997-10-01' + INTERVAL 92 DAY
  GROUP BY 1)
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       CAST(c.c_acctbal AS DOUBLE) AS acctbal,
       CAST(CAST(r.rev AS VARCHAR) AS DOUBLE) AS revenue
FROM rev r
JOIN customer c ON r.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_priority_late_orders(spark, sf_dir):
    """TPC-H Q4 shape — order-priority checking: count orders per
    priority in one quarter having AT LEAST ONE late line (this
    schema carries no commit/receipt dates, so 'late' is derived:
    l_shipdate more than 60 days after the order date — the SHAPE, a
    distinct-preserving EXISTS semi-join into a grouped count, is the
    point). The semi-join needs the order date on the probe side, so
    it runs as a keyed equi-join + post-filter + distinct, never a
    correlated per-row subquery."""
    d0 = F.lit("1997-07-01").cast("date")
    orders = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= d0)
        & (F.col("o_orderdate").cast("date") < F.date_add(d0, 92))
    ).select(
        "o_orderkey", "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("od"),
    )
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    late_orders = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.col("sd") > F.date_add(F.col("od"), 60))
        .select("o_orderkey", "o_orderpriority")
        .distinct()
    )
    return (
        late_orders.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )


SQL_PRIORITY_LATE_ORDERS = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-07-01'
  AND CAST(o.o_orderdate AS DATE) < DATE '1997-07-01' + INTERVAL 92 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND CAST(l.l_shipdate AS DATE)
          > CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY)
GROUP BY 1
"""


def q_blocking_suppliers(spark, sf_dir):
    """TPC-H Q21 shape — suppliers who kept multi-supplier orders
    waiting: for finished orders, count per supplier the orders where
    THEIR line shipped late (derived: >90 days after order date — no
    commit/receipt dates in this schema), ANOTHER supplier also
    participated, and NO other supplier was late. The double
    correlated EXISTS / NOT EXISTS compiles to per-order supplier
    statistics computed ONCE (one groupBy over the joined fact:
    n_suppliers, n_late_suppliers via conditional distincts) and a
    semi-join back — no per-row subquery, no repeated fact scan.
    Top-10 by count under a total order."""
    orders = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey",
        F.col("l_shipdate").cast("date").alias("sd"),
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("sd") > F.date_add(F.col("od"), 90)).alias("is_late"),
    )
    per_order = j.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(
            F.when(F.col("is_late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    # the blaming join: this supplier late, >=2 suppliers on the
    # order, and exactly one late supplier (them)
    blamed = (
        j.filter(F.col("is_late"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(
            per_order.filter(
                (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
            ).select("l_orderkey"),
            "l_orderkey",
        )
    )
    supp = F.broadcast(_read(spark, sf_dir, "supplier"))
    return (
        blamed.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_waiting_orders"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "n_waiting_orders")
        .orderBy(F.desc("n_waiting_orders"), F.col("s_suppkey"))
        .limit(10)
    )


SQL_BLOCKING_SUPPLIERS = """
WITH j AS (
  SELECT l.l_orderkey, l.l_suppkey,
         CAST(l.l_shipdate AS DATE)
           > CAST(o.o_orderdate AS DATE) + INTERVAL 90 DAY AS is_late
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'),
per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN is_late THEN l_suppkey END)
           AS n_late_supp
  FROM j GROUP BY 1),
blamed AS (
  SELECT DISTINCT j.l_orderkey, j.l_suppkey
  FROM j
  JOIN per_order p ON j.l_orderkey = p.l_orderkey
  WHERE j.is_late AND p.n_supp >= 2 AND p.n_late_supp = 1)
SELECT s.s_suppkey, s.s_name,
       CAST(count(*) AS BIGINT) AS n_waiting_orders
FROM blamed b JOIN supplier s ON b.l_suppkey = s.s_suppkey
GROUP BY 1, 2
ORDER BY n_waiting_orders DESC, s_suppkey
LIMIT 10
"""


def q_holt_trend(spark, sf_dir):
    """Holt linear-trend smoothing (operators/timeseries.py:
    holt_linear) per user over the events value stream — the
    forecasting step up from q_ewma_values: two coupled integer
    recurrences (level α=1/4, trend β=1/8) with truncating division,
    one-step forecast = level + trend per row. Inherently sequential
    per key, run as one ordered applyInPandas pass; every
    (level, trend, forecast) triple is bit-identical to the oracle's
    recursive CTE replaying the same walk (exact int64 arithmetic,
    both engines truncate integer division toward zero)."""
    from smartbots_etl_facturas_spark.operators.timeseries import holt_linear

    ev = read_events(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value").cast("decimal(18,4)") * 10000)
        .cast("long")
        .alias("x_units"),
    )
    return holt_linear(ev, alpha_denom=4, beta_denom=8)


SQL_HOLT_TREND = """
WITH RECURSIVE base AS (
  SELECT user_id, epoch_ns(ts) AS ts, event_id,
         CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS x_units,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_ns(ts), event_id) AS rn
  FROM events),
walk(user_id, rn, ts, event_id, x_units, l, b) AS (
  SELECT user_id, rn, ts, event_id, x_units, x_units, CAST(0 AS BIGINT)
  FROM base WHERE rn = 1
  UNION ALL
  SELECT nxt.user_id, nxt.rn, nxt.ts, nxt.event_id, nxt.x_units,
         nxt.pred + (nxt.x_units - nxt.pred) // 4,
         nxt.b + ((nxt.pred + (nxt.x_units - nxt.pred) // 4)
                  - nxt.pred) // 8
  FROM (
    SELECT b2.user_id, b2.rn, b2.ts, b2.event_id, b2.x_units,
           w.l + w.b AS pred, w.b AS b
    FROM walk w JOIN base b2
      ON b2.user_id = w.user_id AND b2.rn = w.rn + 1) nxt)
SELECT user_id, CAST(ts AS BIGINT) AS ts, event_id, x_units,
       CAST(l AS BIGINT) AS level_units,
       CAST(b AS BIGINT) AS trend_units,
       CAST(l + b AS BIGINT) AS forecast_units
FROM walk
"""


def q_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape — min-cost supplier per part: the correlated
    scalar min subquery (``WHERE cost = (SELECT min(cost) ... WHERE
    same part)``) DECORRELATED into one keyed aggregation plus an
    equi-join back on (part, cost), the classic rewrite. Adapted to
    this schema (no partsupp table): the per-part cost source is the
    lineitem fact's l_extendedprice, eligibility = STANDARD parts of
    size <= 15 supplied from EUROPE. Plan shape: the fact joins only
    BROADCAST dims (part filter, supplier⋈nation⋈region), the min is
    a map-side-combinable groupBy(p_partkey), and the join-back
    broadcasts the part-level mins — no repeated fact shuffle, no
    per-row subquery. Top-100 under a total order
    (s_acctbal desc, n_name, s_name, p_partkey; (p_partkey, s_name)
    is unique so the boundary is deterministic)."""
    parts = F.broadcast(
        _read(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15))
        .select("p_partkey", "p_brand")
    )
    eur = F.broadcast(
        _read(spark, sf_dir, "supplier")
        .join(
            _read(spark, sf_dir, "nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            _read(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    elig = (
        _read(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(eur, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    mins = F.broadcast(
        elig.groupBy("p_partkey").agg(
            F.min("l_extendedprice").alias("__min_cost")
        ).withColumnRenamed("p_partkey", "__pk")
    )
    return (
        elig.join(
            mins,
            (F.col("p_partkey") == F.col("__pk"))
            & (F.col("l_extendedprice") == F.col("__min_cost")),
        )
        .select(
            "p_partkey", "p_brand", "s_name",
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "n_name",
            F.col("__min_cost").cast("double").alias("min_cost"),
        )
        .distinct()
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


SQL_MIN_COST_SUPPLIER = """
WITH elig AS (
  SELECT l.l_partkey AS p_partkey, p.p_brand, s.s_name,
         s.s_acctbal, n.n_name, l.l_extendedprice
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE p.p_type = 'STANDARD' AND p.p_size <= 15
    AND r.r_name = 'EUROPE')
SELECT DISTINCT p_partkey, p_brand, s_name,
       CAST(s_acctbal AS DOUBLE) AS s_acctbal, n_name,
       CAST(l_extendedprice AS DOUBLE) AS min_cost
FROM elig e
WHERE l_extendedprice = (
  SELECT min(l_extendedprice) FROM elig e2
  WHERE e2.p_partkey = e.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q_dormant_high_balance(spark, sf_dir):
    """TPC-H Q22 shape — customers worth a sales call: in a fixed set
    of name-code buckets (no phone column in this schema, so the
    country code is the customer number's last two digits), holding
    an account balance above the positive-balance average of those
    buckets, with NO order since 2001-01-01. The NOT EXISTS compiles
    to a LEFT ANTI join against the date-filtered orders; the scalar
    average is a 1-row broadcast crossJoin (the house normalizer
    pattern); the rollup is a substring-bucket groupBy. All keyed or
    broadcast — no correlated per-row probe."""
    codes = ["01", "13", "20", "25", "31", "47", "58"]
    # c_acctbal is a raw DOUBLE in this schema: scale to exact cents
    # first (the house money discipline) so every sum is an integer —
    # reduction-order independent — and "above average" is the exact
    # cross-multiplication cents * n > sum_cents; ONE final division
    # renders the rollup.
    cust = (
        _read(spark, sf_dir, "customer")
        .withColumn("cntrycode", F.substring("c_name", 17, 2))
        .filter(F.col("cntrycode").isin(codes))
        .select(
            "c_custkey", "cntrycode",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("__cents"),
        )
    )
    stats = cust.filter(F.col("__cents") > 0).agg(
        F.sum("__cents").alias("__sum"),
        F.count(F.lit(1)).alias("__cnt"),
    )
    recent = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(stats))
        .filter(F.col("__cents") * F.col("__cnt") > F.col("__sum"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            (F.sum("__cents").cast("double") / 100.0).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


SQL_DORMANT_HIGH_BALANCE = """
WITH cust AS (
  SELECT c_custkey, substring(c_name, 17, 2) AS cntrycode,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
  WHERE substring(c_name, 17, 2)
        IN ('01','13','20','25','31','47','58'))
SELECT cntrycode,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(cents) AS DOUBLE) / 100.0 AS totacctbal
FROM cust c
WHERE cents * (SELECT count(*) FROM cust WHERE cents > 0)
      > (SELECT sum(cents) FROM cust WHERE cents > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY cntrycode
ORDER BY cntrycode
"""


def q_customer_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape — distribution of customers by order count:
    LEFT OUTER join (customers with zero qualifying orders must
    survive with count 0) into a per-customer count, then a second
    aggregation over the counts — the count-of-counts histogram.
    Adapted filter: urgent-priority orders only (this synthetic data
    has no o_comment), which leaves a real zero bucket. Plan: one
    keyed outer join + two map-side-combinable aggregations; the
    second runs on the customer-scale counts frame."""
    cust = _read(spark, sf_dir, "customer").select("c_custkey")
    ords = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(ords, cust.c_custkey == ords.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


SQL_CUSTOMER_ORDER_DISTRIBUTION = """
WITH co AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
    ON c.c_custkey = o.o_custkey
  GROUP BY 1)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM co GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_supplier_part_offering(spark, sf_dir):
    """TPC-H Q16 shape — how many suppliers can offer each part
    class: distinct-supplier counts per (brand, type, size) for an
    IN-list of sizes, one brand excluded, and suppliers on a
    complaint list removed via NOT IN — compiled to a LEFT ANTI join
    against the broadcast excluded-supplier frame (acctbal < 1500
    stands in for the comment scan this schema lacks). Plan: fact ⋈
    broadcast(part filter) ⋈ anti-broadcast(excluded) into one
    count_distinct aggregation keyed by the class."""
    part = F.broadcast(
        _read(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#13")
            & F.col("p_size").isin([1, 5, 10, 15, 20, 25])
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    excluded = F.broadcast(
        _read(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 1500)
        .select(F.col("s_suppkey").alias("__ex"))
    )
    li = _read(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(excluded, li.l_suppkey == F.col("__ex"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
    )


SQL_SUPPLIER_PART_OFFERING = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#13'
  AND p_size IN (1, 5, 10, 15, 20, 25)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 1500)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_promotion_candidate_suppliers(spark, sf_dir):
    """TPC-H Q20 shape — suppliers with surplus stock of promotable
    parts: the nested correlated aggregate (shipped quantity per
    (supplier, part) of name-matched parts inside a date window)
    DECORRELATED into one keyed aggregation, thresholded, collapsed
    to a distinct supplier set, and applied to the supplier dim as a
    LEFT SEMI join — the two-level semi-join-chain topology. Plan:
    fact ⋈ broadcast(part filter) → one (supp, part) agg → distinct →
    semi-join into the dim; no correlated per-row subquery."""
    parts = F.broadcast(
        _read(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%bolt%"))
        .select("p_partkey")
    )
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    cands = (
        li.join(parts, li.l_partkey == parts.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("__qty"))
        .filter(F.col("__qty") > 50)
        .select("l_suppkey")
        .distinct()
    )
    supp = _read(spark, sf_dir, "supplier")
    return (
        supp.join(cands, supp.s_suppkey == cands.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


SQL_PROMOTION_CANDIDATE_SUPPLIERS = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%bolt%'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1999-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(l_quantity) > 50)
ORDER BY s_suppkey
"""


def q_edit_distance_pairs(spark, sf_dir):
    """Fuzzy-key self-join (operators/linkage.py:edit_distance_join —
    PassJoin pigeonhole, Li/Deng/Feng 2011): all customer-name pairs
    within Levenshtein distance 1, over the FULL customer table.
    Candidates come from an EQUI-JOIN on (length, segment index,
    substring) — any string within distance 1 must contain one of the
    partner's 2 segments exactly, shifted by ≤1 — and the exact
    verify touches only candidates, so the LOSSLESS filter makes the
    operator exact and brute-force oracle-checkable (the PPJoin
    discipline, for edit distance instead of token sets).
    Cross-engine note (round-9 hypothesis find): Spark's levenshtein
    counts CHARACTERS, DuckDB's counts BYTES — identical on ASCII
    corpora like these names; unicode parity is pinned by a
    character-DP differential in tests/test_rangejoin.py instead.
    Skew note (round 9): these synthetic names share a long constant
    prefix, so the prefix-segment posting group holds the whole
    table. The operator's frequency-aware recursion detects the hot
    (length, segment, substring) groups with one map-side-combinable
    count and re-applies the pigeonhole to the RESIDUAL string
    (lossless: the matched segment's prefix/suffix script costs sum
    to ≤ d), so the hot group resolves to per-suffix keys instead of
    funneling |group|² candidates through one task — which is why the
    round-8 demo's 1-in-10 subset is gone."""
    from smartbots_etl_facturas_spark.operators.linkage import (
        edit_distance_join,
    )

    cust = _read(spark, sf_dir, "customer")
    return edit_distance_join(cust, "c_custkey", "c_name").select(
        "a_id", "b_id", "a_val", "b_val",
        F.col("dist").cast("long").alias("dist"),
    )


SQL_EDIT_DISTANCE_PAIRS = """
WITH c AS (
  SELECT c_custkey, c_name FROM customer)
SELECT least(a.c_custkey, b.c_custkey) AS a_id,
       greatest(a.c_custkey, b.c_custkey) AS b_id,
       CASE WHEN a.c_custkey < b.c_custkey THEN a.c_name
            ELSE b.c_name END AS a_val,
       CASE WHEN a.c_custkey < b.c_custkey THEN b.c_name
            ELSE a.c_name END AS b_val,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
FROM c a JOIN c b
  ON a.c_custkey < b.c_custkey
 AND levenshtein(a.c_name, b.c_name) <= 1
"""


def q_edit_distance_pairs_d2(spark, sf_dir):
    """max_dist=2 tier of the PassJoin edit-distance self-join
    (round-9 generalization: d+1=3 segments, position-aware-pruned
    shift probe, same residual-recursion skew handling): all
    supplier-name pairs within Levenshtein distance 2. Supplier names
    share the constant 'Supplier#' prefix, but at this dim's size the
    shared-segment groups' join PRODUCT stays under the hot threshold
    — the operator correctly takes the direct equi-join (recursion is
    for groups whose product would break a task; the d=2 recursion
    path is pinned by brute-force parity in tests/test_rangejoin.py).
    The exact verify keeps it brute-force oracle-checkable. Fan-out note: probe emission is
    bounded at (d+1) segments x the position-aware shift set (13 of
    25 (length, shift) combos survive |δ| + |Δ-δ| <= d at d=2) per
    row — fixed, never data-dependent. The TPC-H id corpus is
    near-worst-case DENSE (~28% of all supplier-name pairs are within
    distance 2, so the OUTPUT is inherently ~quadratic in the table);
    real fuzzy-key corpora are far sparser and prune far harder."""
    from smartbots_etl_facturas_spark.operators.linkage import (
        edit_distance_join,
    )

    supp = _read(spark, sf_dir, "supplier")
    return edit_distance_join(
        supp, "s_suppkey", "s_name", max_dist=2
    ).select(
        "a_id", "b_id", "a_val", "b_val",
        F.col("dist").cast("long").alias("dist"),
    )


SQL_EDIT_DISTANCE_PAIRS_D2 = """
SELECT least(a.s_suppkey, b.s_suppkey) AS a_id,
       greatest(a.s_suppkey, b.s_suppkey) AS b_id,
       CASE WHEN a.s_suppkey < b.s_suppkey THEN a.s_name
            ELSE b.s_name END AS a_val,
       CASE WHEN a.s_suppkey < b.s_suppkey THEN b.s_name
            ELSE a.s_name END AS b_val,
       CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
FROM supplier a JOIN supplier b
  ON a.s_suppkey < b.s_suppkey
 AND levenshtein(a.s_name, b.s_name) <= 2
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_flagship_consolidation(spark, "/root/testdata/sf0.001")


_QUERIES: dict[str, Callable] = {
    "flagship_consolidation": q_flagship_consolidation,
    "returned_items": q_returned_items,
    "priority_late_orders": q_priority_late_orders,
    "blocking_suppliers": q_blocking_suppliers,
    "min_cost_supplier": q_min_cost_supplier,
    "dormant_high_balance": q_dormant_high_balance,
    "customer_order_distribution": q_customer_order_distribution,
    "supplier_part_offering": q_supplier_part_offering,
    "promotion_candidate_suppliers": q_promotion_candidate_suppliers,
    "holt_trend": q_holt_trend,
    "edit_distance_pairs": q_edit_distance_pairs,
    "edit_distance_pairs_d2": q_edit_distance_pairs_d2,
    "triangle_count": q_triangle_count,
    "hll_distinct": q_hll_distinct,
    "join_cardinality_estimate": q_join_cardinality_estimate,
    "sample_exact_k": q_sample_exact_k,
    "sample_exact_k_per_group": q_sample_exact_k_per_group,
    "winsorized_stats": q_winsorized_stats,
    "k_core": q_k_core,
    "mad_outliers": q_mad_outliers,
    "bm25_search": q_bm25_search,
    "hll_incremental": q_hll_incremental,
    "bfs_reach": q_bfs_reach,
    "sssp_weighted": q_sssp_weighted,
    "incremental_join": q_incremental_join,
    "event_transitions": q_event_transitions,
    "cusum_changepoints": q_cusum_changepoints,
    "weighted_sample_k": q_weighted_sample_k,
    "token_drift": q_token_drift,
    "token_drift_total": q_token_drift_total,
    "exact_quantiles_qty": q_exact_quantiles_qty,
    "trend_slope_per_user": q_trend_slope_per_user,
    "decile_lift": q_decile_lift,
    "connected_components": q_connected_components,
    "scd2_asof_lookup": q_scd2_asof_lookup,
    "rrf_fusion": q_rrf_fusion,
    "time_to_convert": q_time_to_convert,
    "label_centroid_pairs": q_label_centroid_pairs,
    "bm25_prebuilt": q_bm25_prebuilt,
    "spend_gini": q_spend_gini,
    "stickiness_dau_wau": q_stickiness_dau_wau,
    "embedding_project": q_embedding_project,
    "important_parts": q_important_parts,
    "idle_customers": q_idle_customers,
    "connected_components_star": q_connected_components_star,
    "event_trigrams": q_event_trigrams,
    "spatial_radius_join": q_spatial_radius_join,
    "topk_two_pass": q_topk_two_pass,
    "psi_drift": q_psi_drift,
    "chi_square_cells": q_chi_square_cells,
    "fd_violations": q_fd_violations,
    "column_profile": q_column_profile,
    "column_profile_approx": q_column_profile_approx,
    "acf_daily_orders": q_acf_daily_orders,
    "corr_matrix": q_corr_matrix,
    "corr_matrix_decimal": q_corr_matrix_decimal,
    "categorical_entropy": q_categorical_entropy,
    "mi_cells": q_mi_cells,
    "key_skew_topk": q_key_skew_topk,
    "linreg_price": q_linreg_price,
    "bm25_incremental": q_bm25_incremental,
    "hll_by_group": q_hll_by_group,
    "impute_median": q_impute_median,
    "fx_normalize": q_fx_normalize,
    "benford_digits": q_benford_digits,
    "group_mode": q_group_mode,
    "forecast_revenue": q_forecast_revenue,
    "disjunctive_revenue": q_disjunctive_revenue,
    "interarrival_histogram": q_interarrival_histogram,
    "decayed_revenue": q_decayed_revenue,
    "promo_revenue": q_promo_revenue,
    "small_qty_revenue": q_small_qty_revenue,
    "top_supplier_revenue": q_top_supplier_revenue,
    "embedding_drift": q_embedding_drift,
    "rfm_segments": q_rfm_segments,
    "ar_aging": q_ar_aging,
    "frequent_pairs": q_frequent_pairs,
    "seasonal_dow": q_seasonal_dow,
    "xlsx_template_append": q_xlsx_template_append,
    "relational_division": q_relational_division,
    "cms_heavy_hitters": q_cms_heavy_hitters,
    "nation_trade_volume": q_nation_trade_volume,
    "market_share": q_market_share,
    "customer_distribution": q_customer_distribution,
    "large_orders": q_large_orders,
    "training_shards": q_training_shards,
    "curriculum_interleave": q_curriculum_interleave,
    "bloom_join_prune": q_bloom_join_prune,
    "bloom_prune_invariants": q_bloom_prune_invariants,
    "upsert_insert_only": q_upsert_insert_only,
    "upsert_full_status": q_upsert_full_status,
    "reconciliation": q_reconciliation,
    "reconciliation_broken": q_reconciliation_broken,
    "validation_valid": q_validation_valid,
    "validation_errors": q_validation_errors,
    "money_parse_golden": q_money_parse_golden,
    "date_parse_golden": q_date_parse_golden,
    "excel_serial_golden": q_excel_serial_golden,
    "dedup_first_wins": q_dedup_first_wins,
    "take_while": q_take_while,
    "status_counts": q_status_counts,
    "per_file_counts": q_per_file_counts,
    "run_report": q_run_report,
    "derived_total": q_derived_total,
    "idempotency_pending": q_idempotency_pending,
    "pricing_summary": q_pricing_summary,
    "regional_revenue": q_regional_revenue,
    "top_customers": q_top_customers,
    "shipping_priority": q_shipping_priority,
    "window_rank": q_window_rank,
    "window_lead_lag": q_window_lead_lag,
    "array_stats": q_array_stats,
    "levenshtein_match": q_levenshtein_match,
    "rollup_sales": q_rollup_sales,
    "distinct_parts": q_distinct_parts,
    "events_hourly": q_events_hourly,
    "dedup_exact_docs": q_dedup_exact_docs,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "summary_row_filter": q_summary_row_filter,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "ann_bruteforce": q_ann_bruteforce,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash_docs": q_simhash_docs,
    "pii_redaction": q_pii_redaction,
    "hash_split": q_hash_split,
    "fingerprint_invariants": q_fingerprint_invariants,
    "rolling_fingerprint_invariants": q_rolling_fingerprint_invariants,
    "line_dedup": q_line_dedup,
    "lm_quality": q_lm_quality,
    "bpe_merges": q_bpe_merges,
    "bpe_first_merge": q_bpe_first_merge,
    "bpe_merges_invariants": q_bpe_merges_invariants,
    "bpe_segmentation": q_bpe_segmentation,
    "duplicate_spans": q_duplicate_spans,
    "duplicate_span_runs": q_duplicate_span_runs,
    "span_redacted_docs": q_span_redacted_docs,
    "dedup_clusters": q_dedup_clusters,
    "cluster_representatives": q_cluster_representatives,
    "minhash_precision": q_minhash_precision,
    "minhash_incremental": q_minhash_incremental,
    "minhash_incremental_precision": q_minhash_incremental_precision,
    "ann_lsh_recall": q_ann_lsh_recall,
    "ann_ivf_recall": q_ann_ivf_recall,
    "simhash_invariants": q_simhash_invariants,
    "events_sliding": q_events_sliding,
    "interval_join_events": q_interval_join_events,
    "asof_enrich": q_asof_enrich,
    "range_join_counts": q_range_join_counts,
    "skew_salted_agg": q_skew_salted_agg,
    "group_percentiles": q_group_percentiles,
    "approx_percentile_sketch": q_approx_percentile_sketch,
    "kll_quantiles": q_kll_quantiles,
    "kmv_set_cardinality": q_kmv_set_cardinality,
    "kll_incremental": q_kll_incremental,
    "pivot_status": q_pivot_status,
    "set_ops": q_set_ops,
    "nullsafe_join": q_nullsafe_join,
    "report_render": q_report_render,
    "running_total": q_running_total,
    "group_median_udaf": q_group_median_udaf,
    "udtf_sentences": q_udtf_sentences,
    "exists_decorrelated": q_exists_decorrelated,
    "unpivot_amounts": q_unpivot_amounts,
    "dedup_embedding": q_dedup_embedding,
    "semantic_dedup": q_semantic_dedup,
    "semantic_dedup_recall": q_semantic_dedup_recall,
    "semantic_dedup_rerank": q_semantic_dedup_rerank,
    "semantic_dedup_representatives": q_semantic_dedup_representatives,
    "semantic_dedup_incremental": q_semantic_dedup_incremental,
    "semantic_dedup_incremental_recall": q_semantic_dedup_incremental_recall,
    "token_count": q_token_count,
    "cube_sales": q_cube_sales,
    "semi_join_amounts": q_semi_join_amounts,
    "top_errors": q_top_errors,
    "approx_distinct": q_approx_distinct,
    "multimodal_features": q_multimodal_features,
    "audit_actions": q_audit_actions,
    "fixed_cells": q_fixed_cells,
    "invoice_extract_golden": q_invoice_extract_golden,
    "invoice_extract_errors": q_invoice_extract_errors,
    "consolidation_pipeline": q_consolidation_pipeline,
    "display_casts": q_display_casts,
    "sessions": q_sessions,
    "manifest_listing": q_manifest_listing,
    "find_file_by_name": q_find_file_by_name,
    "cleaners": q_cleaners,
    "brand_revenue": q_brand_revenue,
    "top_parts_by_size": q_top_parts_by_size,
    "rolling_fingerprint": q_rolling_fingerprint,
    "lang_id_ngram": q_lang_id_ngram,
    "json_props": q_json_props,
    "xlsx_distributed": q_xlsx_distributed,
    "xlsx_to_consolidated": q_xlsx_to_consolidated,
    "png_image_pipeline": q_png_image_pipeline,
    "path_resolve": q_path_resolve,
    "repetition_filter": q_repetition_filter,
    "source_mixture": q_source_mixture,
    "stats_summary": q_stats_summary,
    "approx_aggregates": q_approx_aggregates,
    "gap_fill": q_gap_fill,
    "sequence_packing": q_sequence_packing,
    "stratified_sample": q_stratified_sample,
    "embedding_quantize": q_embedding_quantize,
    "benchmark_contamination": q_benchmark_contamination,
    "doc_chunks": q_doc_chunks,
    "tfidf_top_terms": q_tfidf_top_terms,
    "bigram_pmi": q_bigram_pmi,
    "c4_filters": q_c4_filters,
    "temperature_resample": q_temperature_resample,
    "funnel_counts": q_funnel_counts,
    "cohort_retention": q_cohort_retention,
    "apply_changelog": q_apply_changelog,
    "scd2_history": q_scd2_history,
    "wav_audio_pipeline": q_wav_audio_pipeline,
    "ann_pq": q_ann_pq,
    "ann_lsh_rerank": q_ann_lsh_rerank,
    "ann_ivf_rerank": q_ann_ivf_rerank,
    "ann_pq_rerank": q_ann_pq_rerank,
    "ann_pq_prebuilt_rerank": q_ann_pq_prebuilt_rerank,
    "ann_pq_recall": q_ann_pq_recall,
    "ann_pq_prebuilt": q_ann_pq_prebuilt,
    "ann_pq_prebuilt_recall": q_ann_pq_prebuilt_recall,
    "ann_pq_incremental": q_ann_pq_incremental,
    "ann_pq_incremental_equiv": q_ann_pq_incremental_equiv,
    "ann_pq_incremental_recall": q_ann_pq_incremental_recall,
    "ann_pq_incremental_rerank": q_ann_pq_incremental_rerank,
    "knn_join": q_knn_join,
    "knn_join_recall": q_knn_join_recall,
    "knn_join_rerank": q_knn_join_rerank,
    "stream_batches_report": q_stream_batches_report,
    "audit_compaction_report": q_audit_compaction_report,
    "phash_dedup": q_phash_dedup,
    "phash_incremental": q_phash_incremental,
    "audio_fingerprint_dedup": q_audio_fingerprint_dedup,
    "audio_fp_incremental": q_audio_fp_incremental,
    "video_fingerprint_dedup": q_video_fingerprint_dedup,
    "video_fp_incremental": q_video_fp_incremental,
    "recursive_bom": q_recursive_bom,
    "incremental_agg": q_incremental_agg,
    "zorder_keys": q_zorder_keys,
    "pagerank": q_pagerank,
    "group_anomalies": q_group_anomalies,
    "ewma_values": q_ewma_values,
    "corpus_curation_pipeline": q_corpus_curation_pipeline,
    "training_examples_pipeline": q_training_examples_pipeline,
    "vocab_coverage": q_vocab_coverage,
    "equi_depth_bins": q_equi_depth_bins,
    "embedding_normalize": q_embedding_normalize,
    "correlated_scalar": q_correlated_scalar,
    "window_percentiles": q_window_percentiles,
    "grouping_sets_sales": q_grouping_sets_sales,
    "report_mime": q_report_mime,
    "similarity_join": q_similarity_join,
    "event_runs": q_event_runs,
    "event_runs_udtf": q_event_runs_udtf,
    "rolling_window_revenue": q_rolling_window_revenue,
    "frame_sample": q_frame_sample,
    "dq_checks": q_dq_checks,
    "table_diff": q_table_diff,
    "attribution_last_touch": q_attribution_last_touch,
    "revenue_share": q_revenue_share,
    "contrastive_pairs": q_contrastive_pairs,
    "equi_width_histogram": q_equi_width_histogram,
}


def _sql_simhash_docs() -> str:
    """DuckDB mirror of the md5-tier SimHash: rebuild all 64 vote sums
    from the same two 32-bit md5 hex slices, then reassemble the
    signed 64-bit sketch (bit 63 adds -2^63 explicitly — two's
    complement without a shift overflow)."""
    h1 = _SQL_HEX8.format(h="md5(tok)")
    h2 = _SQL_HEX8.format(h="substr(md5(tok), 9, 8)")
    votes = ",\n       ".join(
        f"sum(CASE WHEN (({'h1' if i < 32 else 'h2'} >> {i % 32}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )
    terms = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({-(1 << 63) if i == 63 else (1 << i)}"
        f" AS BIGINT) ELSE 0 END)"
        for i in range(64)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents WHERE doc_id % 10 = 0),
h AS (SELECT doc_id, {h1} AS h1, {h2} AS h2 FROM tok),
v AS (SELECT doc_id,
       {votes}
      FROM h GROUP BY doc_id)
SELECT doc_id, {terms} AS simhash FROM v
"""


SQL_SIMHASH_DOCS = _sql_simhash_docs()

SQL_ROLLING_FINGERPRINT = f"""
SELECT doc_id,
       CASE WHEN length(trim(text)) >= 1 THEN
         list_min(list_transform(
           range(1, greatest(length(trim(text)) - 7, 1) + 1),
           i -> {_SQL_HEX12.format(h="md5(substr(trim(text), CAST(i AS INT), 8))")}))
       END AS fp
FROM documents WHERE doc_id % 10 = 0
"""

_ORACLES: dict[str, str] = {
    "simhash_docs": SQL_SIMHASH_DOCS,
    "rolling_fingerprint": SQL_ROLLING_FINGERPRINT,
    "flagship_consolidation": SQL_FLAGSHIP,
    "returned_items": SQL_RETURNED_ITEMS,
    "priority_late_orders": SQL_PRIORITY_LATE_ORDERS,
    "blocking_suppliers": SQL_BLOCKING_SUPPLIERS,
    "min_cost_supplier": SQL_MIN_COST_SUPPLIER,
    "dormant_high_balance": SQL_DORMANT_HIGH_BALANCE,
    "customer_order_distribution": SQL_CUSTOMER_ORDER_DISTRIBUTION,
    "supplier_part_offering": SQL_SUPPLIER_PART_OFFERING,
    "promotion_candidate_suppliers": SQL_PROMOTION_CANDIDATE_SUPPLIERS,
    "holt_trend": SQL_HOLT_TREND,
    "edit_distance_pairs": SQL_EDIT_DISTANCE_PAIRS,
    "edit_distance_pairs_d2": SQL_EDIT_DISTANCE_PAIRS_D2,
    "upsert_insert_only": SQL_UPSERT_INSERT_ONLY,
    "upsert_full_status": SQL_UPSERT_FULL,
    "reconciliation": SQL_RECONCILIATION,
    "reconciliation_broken": SQL_RECONCILIATION_BROKEN,
    "validation_valid": SQL_VALIDATION_VALID,
    "validation_errors": SQL_VALIDATION_ERRORS,
    "money_parse_golden": SQL_MONEY_PARSE,
    "date_parse_golden": SQL_DATE_PARSE,
    "excel_serial_golden": SQL_EXCEL_SERIAL,
    "dedup_first_wins": SQL_DEDUP_FIRST_WINS,
    "take_while": SQL_TAKE_WHILE,
    "status_counts": SQL_STATUS_COUNTS,
    "per_file_counts": SQL_PER_FILE_COUNTS,
    "run_report": SQL_RUN_REPORT,
    "derived_total": SQL_DERIVED_TOTAL,
    "idempotency_pending": SQL_IDEMPOTENCY_PENDING,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "regional_revenue": SQL_REGIONAL_REVENUE,
    "top_customers": SQL_TOP_CUSTOMERS,
    "shipping_priority": SQL_SHIPPING_PRIORITY,
    "window_rank": SQL_WINDOW_RANK,
    "window_lead_lag": SQL_WINDOW_LEAD_LAG,
    "array_stats": SQL_ARRAY_STATS,
    "levenshtein_match": SQL_LEVENSHTEIN_MATCH,
    "rollup_sales": SQL_ROLLUP_SALES,
    "distinct_parts": SQL_DISTINCT_PARTS,
    "events_hourly": SQL_EVENTS_HOURLY,
    "dedup_exact_docs": SQL_DEDUP_EXACT_DOCS,
    "text_quality": SQL_TEXT_QUALITY,
    "lang_id": SQL_LANG_ID,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "summary_row_filter": SQL_SUMMARY_ROW_FILTER,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD,
    "minhash_lsh_pairs": SQL_MINHASH_LSH_PAIRS,
    "minhash_incremental": SQL_MINHASH_INCREMENTAL,
    "ann_bruteforce": SQL_ANN_BRUTEFORCE,
    "events_sliding": SQL_EVENTS_SLIDING,
    "interval_join_events": SQL_INTERVAL_JOIN_EVENTS,
    "asof_enrich": SQL_ASOF_ENRICH,
    "range_join_counts": SQL_RANGE_JOIN_COUNTS,
    "skew_salted_agg": SQL_SKEW_SALTED_AGG,
    "group_percentiles": SQL_GROUP_PERCENTILES,
    "approx_percentile_sketch": SQL_APPROX_PERCENTILE_SKETCH,
    "kll_quantiles": SQL_KLL_QUANTILES,
    "kmv_set_cardinality": SQL_KMV_SET_CARDINALITY,
    "kll_incremental": SQL_KLL_INCREMENTAL,
    "pivot_status": SQL_PIVOT_STATUS,
    "triangle_count": SQL_TRIANGLE_COUNT,
    "hll_distinct": SQL_HLL_DISTINCT,
    "join_cardinality_estimate": SQL_JOIN_CARDINALITY_ESTIMATE,
    "sample_exact_k": SQL_SAMPLE_EXACT_K,
    "sample_exact_k_per_group": SQL_SAMPLE_EXACT_K_PER_GROUP,
    "winsorized_stats": SQL_WINSORIZED_STATS,
    "k_core": SQL_K_CORE,
    "mad_outliers": SQL_MAD_OUTLIERS,
    "bm25_search": SQL_BM25_SEARCH,
    "hll_incremental": SQL_HLL_INCREMENTAL,
    "bfs_reach": SQL_BFS_REACH,
    "xlsx_template_append": SQL_XLSX_TEMPLATE_APPEND,
    "relational_division": SQL_RELATIONAL_DIVISION,
    "cms_heavy_hitters": SQL_CMS_HEAVY_HITTERS,
    "nation_trade_volume": SQL_NATION_TRADE_VOLUME,
    "market_share": SQL_MARKET_SHARE,
    "customer_distribution": SQL_CUSTOMER_DISTRIBUTION,
    "large_orders": SQL_LARGE_ORDERS,
    "training_shards": SQL_TRAINING_SHARDS,
    "curriculum_interleave": SQL_CURRICULUM_INTERLEAVE,
    "bloom_join_prune": SQL_BLOOM_JOIN_PRUNE,
    "bloom_prune_invariants": SQL_BLOOM_PRUNE_INVARIANTS,
    "set_ops": SQL_SET_OPS,
    "nullsafe_join": SQL_NULLSAFE_JOIN,
    "report_render": SQL_REPORT_RENDER,
    "running_total": SQL_RUNNING_TOTAL,
    "group_median_udaf": SQL_GROUP_MEDIAN_UDAF,
    "udtf_sentences": SQL_UDTF_SENTENCES,
    "exists_decorrelated": SQL_EXISTS_DECORRELATED,
    "unpivot_amounts": SQL_UNPIVOT_AMOUNTS,
    "dedup_embedding": SQL_DEDUP_EMBEDDING,
    "semantic_dedup_recall": SQL_SEMANTIC_DEDUP_RECALL,
    "semantic_dedup_incremental_recall": SQL_SEMANTIC_DEDUP_INCREMENTAL_RECALL,
    "token_count": SQL_TOKEN_COUNT,
    "cube_sales": SQL_CUBE_SALES,
    "semi_join_amounts": SQL_SEMI_JOIN_AMOUNTS,
    "top_errors": SQL_TOP_ERRORS,
    "approx_distinct": SQL_APPROX_DISTINCT,
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
    "audit_actions": SQL_AUDIT_ACTIONS,
    "fixed_cells": SQL_FIXED_CELLS,
    "invoice_extract_golden": SQL_INVOICE_EXTRACT,
    "invoice_extract_errors": SQL_INVOICE_EXTRACT_ERRORS,
    "consolidation_pipeline": SQL_CONSOLIDATION_PIPELINE,
    "display_casts": SQL_DISPLAY_CASTS,
    "sessions": SQL_SESSIONS,
    "manifest_listing": SQL_MANIFEST_LISTING,
    "find_file_by_name": SQL_FIND_FILE_BY_NAME,
    "cleaners": SQL_CLEANERS,
    "brand_revenue": SQL_BRAND_REVENUE,
    "top_parts_by_size": SQL_TOP_PARTS_BY_SIZE,
    "lang_id_ngram": SQL_LANG_ID_NGRAM,
    "json_props": SQL_JSON_PROPS,
    "xlsx_distributed": SQL_XLSX_DISTRIBUTED,
    "xlsx_to_consolidated": SQL_XLSX_TO_CONSOLIDATED,
    "png_image_pipeline": SQL_PNG_IMAGE_PIPELINE,
    "path_resolve": SQL_PATH_RESOLVE,
    "repetition_filter": SQL_REPETITION_FILTER,
    "source_mixture": SQL_SOURCE_MIXTURE,
    "stats_summary": SQL_STATS_SUMMARY,
    "approx_aggregates": SQL_APPROX_AGGREGATES,
    "gap_fill": SQL_GAP_FILL,
    "sequence_packing": SQL_SEQUENCE_PACKING,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "embedding_quantize": SQL_EMBEDDING_QUANTIZE,
    "benchmark_contamination": SQL_BENCHMARK_CONTAMINATION,
    "pii_redaction": SQL_PII_REDACTION,
    "hash_split": SQL_HASH_SPLIT,
    "fingerprint_invariants": SQL_FINGERPRINT_INVARIANTS,
    "rolling_fingerprint_invariants": SQL_ROLLING_FINGERPRINT_INVARIANTS,
    "line_dedup": SQL_LINE_DEDUP,
    "lm_quality": SQL_LM_QUALITY,
    "bpe_first_merge": SQL_BPE_FIRST_MERGE,
    "bpe_merges_invariants": SQL_BPE_MERGES_INVARIANTS,
    "bpe_segmentation": SQL_BPE_SEGMENTATION,
    "duplicate_spans": SQL_DUPLICATE_SPANS,
    "duplicate_span_runs": SQL_DUPLICATE_SPAN_RUNS,
    "span_redacted_docs": SQL_SPAN_REDACTED_DOCS,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "cluster_representatives": SQL_CLUSTER_REPRESENTATIVES,
    "minhash_precision": SQL_MINHASH_PRECISION,
    "minhash_incremental_precision": SQL_MINHASH_INCREMENTAL_PRECISION,
    "ann_lsh_recall": SQL_ANN_LSH_RECALL,
    "ann_ivf_recall": SQL_ANN_IVF_RECALL,
    "simhash_invariants": SQL_SIMHASH_INVARIANTS,
    "doc_chunks": SQL_DOC_CHUNKS,
    "tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
    "bigram_pmi": SQL_BIGRAM_PMI,
    "c4_filters": SQL_C4_FILTERS,
    "temperature_resample": SQL_TEMPERATURE_RESAMPLE,
    "funnel_counts": SQL_FUNNEL_COUNTS,
    "cohort_retention": SQL_COHORT_RETENTION,
    "apply_changelog": SQL_APPLY_CHANGELOG,
    "scd2_history": SQL_SCD2_HISTORY,
    "wav_audio_pipeline": SQL_WAV_AUDIO_PIPELINE,
    "ann_pq_recall": SQL_ANN_PQ_RECALL,
    "ann_pq_prebuilt_recall": SQL_ANN_PQ_PREBUILT_RECALL,
    "ann_pq_incremental_equiv": SQL_ANN_PQ_INCREMENTAL_EQUIV,
    "ann_pq_incremental_recall": SQL_ANN_PQ_INCREMENTAL_RECALL,
    "knn_join_recall": SQL_KNN_JOIN_RECALL,
    "stream_batches_report": SQL_STREAM_BATCHES_REPORT,
    "audit_compaction_report": SQL_AUDIT_COMPACTION_REPORT,
    "phash_dedup": SQL_PHASH_DEDUP,
    "phash_incremental": SQL_PHASH_INCREMENTAL,
    "audio_fingerprint_dedup": SQL_AUDIO_FINGERPRINT_DEDUP,
    "audio_fp_incremental": SQL_AUDIO_FP_INCREMENTAL,
    "video_fingerprint_dedup": SQL_VIDEO_FINGERPRINT_DEDUP,
    "video_fp_incremental": SQL_VIDEO_FP_INCREMENTAL,
    "recursive_bom": SQL_RECURSIVE_BOM,
    "incremental_agg": SQL_INCREMENTAL_AGG,
    "zorder_keys": SQL_ZORDER_KEYS,
    "pagerank": SQL_PAGERANK,
    "group_anomalies": SQL_GROUP_ANOMALIES,
    "ewma_values": SQL_EWMA_VALUES,
    "corpus_curation_pipeline": SQL_CORPUS_CURATION_PIPELINE,
    "training_examples_pipeline": SQL_TRAINING_EXAMPLES_PIPELINE,
    "vocab_coverage": SQL_VOCAB_COVERAGE,
    "equi_depth_bins": SQL_EQUI_DEPTH_BINS,
    "embedding_normalize": SQL_EMBEDDING_NORMALIZE,
    "correlated_scalar": SQL_CORRELATED_SCALAR,
    "window_percentiles": SQL_WINDOW_PERCENTILES,
    "grouping_sets_sales": SQL_GROUPING_SETS_SALES,
    "report_mime": SQL_REPORT_MIME,
    "similarity_join": SQL_SIMILARITY_JOIN,
    "event_runs": SQL_EVENT_RUNS,
    "event_runs_udtf": SQL_EVENT_RUNS,
    "rolling_window_revenue": SQL_ROLLING_WINDOW_REVENUE,
    "frame_sample": SQL_FRAME_SAMPLE,
    "dq_checks": SQL_DQ_CHECKS,
    "table_diff": SQL_TABLE_DIFF,
    "attribution_last_touch": SQL_ATTRIBUTION_LAST_TOUCH,
    "revenue_share": SQL_REVENUE_SHARE,
    "contrastive_pairs": SQL_CONTRASTIVE_PAIRS,
    "equi_width_histogram": SQL_EQUI_WIDTH_HISTOGRAM,
    "sssp_weighted": SQL_SSSP_WEIGHTED,
    "incremental_join": SQL_INCREMENTAL_JOIN,
    "event_transitions": SQL_EVENT_TRANSITIONS,
    "cusum_changepoints": SQL_CUSUM_CHANGEPOINTS,
    "weighted_sample_k": SQL_WEIGHTED_SAMPLE_K,
    "token_drift": SQL_TOKEN_DRIFT,
    "token_drift_total": SQL_TOKEN_DRIFT_TOTAL,
    "exact_quantiles_qty": SQL_EXACT_QUANTILES_QTY,
    "trend_slope_per_user": SQL_TREND_SLOPE_PER_USER,
    "decile_lift": SQL_DECILE_LIFT,
    "connected_components": SQL_CONNECTED_COMPONENTS,
    "scd2_asof_lookup": SQL_SCD2_ASOF_LOOKUP,
    "rrf_fusion": SQL_RRF_FUSION,
    "time_to_convert": SQL_TIME_TO_CONVERT,
    "label_centroid_pairs": SQL_LABEL_CENTROID_PAIRS,
    "bm25_prebuilt": SQL_BM25_SEARCH,
    "bm25_incremental": SQL_BM25_SEARCH,
    "hll_by_group": SQL_HLL_BY_GROUP,
    "impute_median": SQL_IMPUTE_MEDIAN,
    "fx_normalize": SQL_FX_NORMALIZE,
    "benford_digits": SQL_BENFORD_DIGITS,
    "group_mode": SQL_GROUP_MODE,
    "forecast_revenue": SQL_FORECAST_REVENUE,
    "disjunctive_revenue": SQL_DISJUNCTIVE_REVENUE,
    "interarrival_histogram": SQL_INTERARRIVAL_HISTOGRAM,
    "decayed_revenue": SQL_DECAYED_REVENUE,
    "promo_revenue": SQL_PROMO_REVENUE,
    "small_qty_revenue": SQL_SMALL_QTY_REVENUE,
    "top_supplier_revenue": SQL_TOP_SUPPLIER_REVENUE,
    "embedding_drift": SQL_EMBEDDING_DRIFT,
    "rfm_segments": SQL_RFM_SEGMENTS,
    "ar_aging": SQL_AR_AGING,
    "spend_gini": SQL_SPEND_GINI,
    "stickiness_dau_wau": SQL_STICKINESS_DAU_WAU,
    "embedding_project": SQL_EMBEDDING_PROJECT,
    "important_parts": SQL_IMPORTANT_PARTS,
    "idle_customers": SQL_IDLE_CUSTOMERS,
    "connected_components_star": SQL_CONNECTED_COMPONENTS,
    "event_trigrams": SQL_EVENT_TRIGRAMS,
    "spatial_radius_join": SQL_SPATIAL_RADIUS_JOIN,
    "topk_two_pass": SQL_TOPK_TWO_PASS,
    "psi_drift": SQL_PSI_DRIFT,
    "chi_square_cells": SQL_CHI_SQUARE_CELLS,
    "fd_violations": SQL_FD_VIOLATIONS,
    "column_profile": SQL_COLUMN_PROFILE,
    "column_profile_approx": SQL_COLUMN_PROFILE_APPROX,
    "acf_daily_orders": SQL_ACF_DAILY_ORDERS,
    "corr_matrix": SQL_CORR_MATRIX,
    "corr_matrix_decimal": SQL_CORR_MATRIX,
    "categorical_entropy": SQL_CATEGORICAL_ENTROPY,
    "mi_cells": SQL_MI_CELLS,
    "key_skew_topk": SQL_KEY_SKEW_TOPK,
    "linreg_price": SQL_LINREG_PRICE,
    "frequent_pairs": SQL_FREQUENT_PAIRS,
    "seasonal_dow": SQL_SEASONAL_DOW,
    # ann_lsh / ann_ivf / ann_pq / ann_pq_prebuilt / minhash_lsh_pairs
    # / minhash_incremental / simhash_docs / bpe_merges: intentionally
    # no oracle (approximate, iterative, or
    # engine-specific hash) → rows-only RAW-OUTPUT check; their
    # deterministic quality invariants (precision/recall/stability/
    # first-iteration parity) ARE oracle-checked via the *_recall /
    # *_precision / *_invariants / bpe_first_merge companion queries
    # above, and recall/stability are additionally asserted in tests/.
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query (omitted → rows-only check)."""
    out = dict(_ORACLES)
    # the ANN rerank oracles inline the frozen candidate pairs, so they
    # are built lazily from the fixture (absent only while
    # scripts/freeze_ann_candidates.py is generating it)
    try:
        for name, fx, tier in (
            ("ann_lsh_rerank", "LSH_PAIRS", "lsh"),
            ("ann_ivf_rerank", "IVF_PAIRS", "ivf"),
            ("ann_pq_rerank", "PQ_PAIRS", "pq"),
            ("ann_pq_prebuilt_rerank", "PQ_PREBUILT_PAIRS", "pq_prebuilt"),
            ("ann_pq_incremental_rerank", "PQ_INCREMENTAL_PAIRS",
             "pq_incremental"),
        ):
            out[name] = _sql_ann_rerank(_ann_fixture_pairs(fx),
                                        ANN_PARAMS[tier]["k"])
        out["knn_join_rerank"] = _sql_ann_rerank(
            _ann_fixture_pairs("KNN_PAIRS"), KNN_JOIN_PARAMS["k"]
        )
        sd_pairs = _ann_fixture_pairs("SEMDEDUP_PAIRS")
        thr = SEMDEDUP_PARAMS["threshold"]
        out["semantic_dedup_rerank"] = _sql_semdedup_rerank(sd_pairs, thr)
        out["semantic_dedup_representatives"] = \
            _sql_semdedup_representatives(sd_pairs, thr)
    except (FileNotFoundError, AttributeError):
        pass
    return out
