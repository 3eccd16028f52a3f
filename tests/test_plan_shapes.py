"""Physical-plan regression contracts (PERF.md checklist, executable).

These assert the SHAPE of key plans, not their output — the properties
that make the queries scale: filters reaching the parquet scan, pruned
read schemas, broadcast build sides, per-partition window limits,
single-pass pivots. A refactor that silently loses one of these keeps
every correctness test green while getting catastrophically slower at
100 TB; this suite is the tripwire."""

import pytest

import __spark_entry__ as entry


def _plan(spark, sf_dir, name):
    df = entry.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def test_validation_scan_is_pruned(spark, sf_dir):
    """The dirty-invoice validation scan must read a pruned column set
    (6 of lineitem's 16 columns), not SELECT *. Its validation
    predicate is a computed CASE expression — not PUSHABLE by design —
    so pruning is the scan contract here; pushdown is asserted on the
    flagship scan below."""
    plan = _plan(spark, sf_dir, "validation_valid")
    scan = [l for l in plan.splitlines() if "FileScan parquet" in l][0]
    cols = scan.split("FileScan parquet [", 1)[1].split("]", 1)[0]
    assert len(cols.split(",")) <= 8, cols       # pruned, not 16 columns


def test_dedup_compiles_to_window_group_limit(spark, sf_dir):
    """First-wins dedup must use WindowGroupLimit (per-partition top-1
    before the shuffle), not a full sort + filter."""
    assert "WindowGroupLimit" in _plan(spark, sf_dir, "dedup_first_wins")


def test_upsert_anti_join_broadcasts_existing_keys(spark, sf_dir):
    """Insert-only upsert: the existing-PK side is the distinct
    projection BROADCAST to the incoming side — the big side must not
    shuffle for the anti join."""
    plan = _plan(spark, sf_dir, "upsert_insert_only")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_pivot_is_single_pass(spark, sf_dir):
    """Explicit pivot values → one conditional aggregation; no Expand
    node and no values-discovery pass."""
    plan = _plan(spark, sf_dir, "pivot_status")
    assert "Expand" not in plan


def test_pii_redaction_is_pure_projection(spark, sf_dir):
    """Three regexp passes must stay inside one projection over the
    scan — zero shuffles."""
    assert "Exchange" not in _plan(spark, sf_dir, "pii_redaction")


def test_flagship_filters_reach_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "flagship_consolidation")
    assert "PushedFilters: [" in plan


def test_top_customers_avoids_global_sort(spark, sf_dir):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject
    (per-partition top-N + merge), never a full global Sort — the
    difference between O(N log k) on every partition and a one-task
    whole-table sort at 100 TB."""
    plan = _plan(spark, sf_dir, "top_customers")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan


def test_minhash_join_keys_are_band_buckets(spark, sf_dir):
    """The LSH candidate join must key on (band, bucket) — the whole
    point of banding; a join on doc ids would mean the bucketing got
    lost somewhere."""
    plan = _plan(spark, sf_dir, "minhash_lsh_pairs")
    assert "bucket" in plan and "band" in plan


def test_extract_plans_compile_under_janino_limit(spark, sf_dir):
    """The invoice-extract family must keep whole-stage codegen ALIVE:
    the money-parse expression tree used to push generated methods
    past janino's 64 KB bytecode limit, silently dropping the
    reference's hottest path to interpreted mode (round-2 verdict's
    one real defect). debugCodegen reports maxMethodCodeSize=-1 for a
    subtree whose compile failed; assert every subtree of every
    extract plan compiled. AQE is disabled for the probe because an
    unexecuted AdaptiveSparkPlan exposes no codegen subtrees."""
    import re

    dbg = spark._jvm.org.apache.spark.sql.execution.debug.package  # noqa: SLF001
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("invoice_extract_golden", "invoice_extract_errors",
                     "validation_valid", "validation_errors",
                     "money_parse_golden"):
            df = entry.queries()[name](spark, sf_dir)
            out = dbg.codegenString(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
            sizes = [int(m) for m in re.findall(r"maxMethodCodeSize:(-?\d+)", out)]
            assert sizes, f"{name}: no codegen subtrees found"
            assert all(s != -1 for s in sizes), (
                f"{name}: a whole-stage codegen subtree failed to compile "
                f"(maxMethodCodeSize {sizes})"
            )
            assert max(s for s in sizes) < 65536, (name, sizes)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


# --- round-4 second-session operators ---------------------------------------

def test_doc_chunks_is_zero_shuffle(spark, sf_dir):
    """Sliding-window chunking is sequence+explode per row: the plan
    must contain NO Exchange — output inherits input partitioning."""
    assert "Exchange" not in _plan(spark, sf_dir, "doc_chunks")


def test_scd2_single_key_shuffle(spark, sf_dir):
    """SCD2 is windows PARTITIONED BY user_id over one source: exactly
    one Exchange (the key shuffle both windows reuse)."""
    plan = _plan(spark, sf_dir, "scd2_history")
    assert plan.count("Exchange") == 1, plan.count("Exchange")


def test_ewma_single_key_shuffle(spark, sf_dir):
    """EWMA = groupBy(user).applyInPandas: one hash Exchange on the
    key, then per-group sequential passes — nothing else."""
    plan = _plan(spark, sf_dir, "ewma_values")
    assert plan.count("Exchange") == 1, plan.count("Exchange")


def test_temperature_resample_broadcasts_rates(spark, sf_dir):
    """The per-source rates frame must reach the corpus as a broadcast
    join (tiny side), never a shuffled join of the corpus."""
    plan = _plan(spark, sf_dir, "temperature_resample")
    assert "BroadcastHashJoin" in plan


def test_zorder_keys_is_pure_projection(spark, sf_dir):
    """The Morton interleave + de-interleave round-trip is bit
    arithmetic in one projection — zero shuffles."""
    assert "Exchange" not in _plan(spark, sf_dir, "zorder_keys")


def test_incremental_agg_no_basetable_rescan(spark, sf_dir):
    """Incremental maintenance must aggregate base and delta each ONCE
    (two scans of the shared lineitem file is the test-fixture shape;
    the point is no third scan and a single merge join)."""
    plan = _plan(spark, sf_dir, "incremental_agg")
    assert plan.count("FileScan parquet") <= 2
    assert "FullOuter" in plan or "BroadcastHashJoin" in plan
