"""Registry-wide deploy gate: every registered query's physical plan
must pass the plan doctor (plans/doctor.py) — no cartesian products,
no unpartitioned windows, no nested-loop joins — except the
explicitly-allowlisted cases below, each with its design
justification. A new query (or a refactor of an old one) that
introduces a scale anti-pattern fails here even while its correctness
oracle stays green."""

import pytest

import __spark_entry__ as entry
from smartbots_etl_facturas_spark.plans.doctor import (
    data_scale_windows,
    plan_report,
)

# query name -> (allowed flags, why this is intentional)
ALLOW: dict[str, tuple[set, str]] = {
    "edit_distance_pairs": (
        {"bnlj"},
        "short-string side channel of edit_distance_join: a broadcast "
        "crossJoin over DISTINCT VALUES of length <= max_dist vs "
        "length <= 2*max_dist — bounded by the tiny string DOMAIN "
        "(alphabet^(2d)), not the row count; the main candidate path "
        "is the keyed (length, segment, substring) equi-join",
    ),
    "edit_distance_pairs_d2": (
        {"bnlj"},
        "short-string side channel, domain-bounded (see "
        "edit_distance_pairs)",
    ),
    "ann_bruteforce": (
        {"bnlj"},
        "exact-scoring tier: repartitioned broadcast crossJoin IS the "
        "algorithm (oracle-checkable ground truth; LSH/IVF are the scale path)",
    ),
    "dedup_embedding": (
        {"bnlj"},
        "exact all-pairs tier kept solely as oracle ground truth; "
        "bucket_bits>0 flips to the hyperplane-bucket join",
    ),
    "ann_lsh_recall": (
        {"bnlj"},
        "recall HARNESS: compares the bucketed ANN against the "
        "brute-force ground truth, which needs the exact tier",
    ),
    "ann_ivf_recall": (
        {"bnlj"},
        "recall harness vs brute-force ground truth (see ann_lsh_recall)",
    ),
    "ann_pq_recall": (
        {"bnlj"},
        "recall harness vs brute-force ground truth (see ann_lsh_recall)",
    ),
    "ann_pq_prebuilt_recall": (
        {"bnlj"},
        "recall harness vs brute-force ground truth (see ann_lsh_recall)",
    ),
    "ann_pq_incremental_recall": (
        {"bnlj"},
        "recall harness vs brute-force ground truth (see ann_lsh_recall)",
    ),
    "knn_join_recall": (
        {"bnlj"},
        "recall harness: compares the two-sided KNN join against the "
        "exact corpus×corpus brute force (see ann_lsh_recall); the "
        "live knn_join plan is asserted keyed-only in "
        "tests/test_similarity.py",
    ),
    "semantic_dedup_recall": (
        {"bnlj"},
        "recall harness: compares the bucketed semantic-dedup tier "
        "against the exact all-pairs ground truth (see ann_lsh_recall); "
        "the live semantic_dedup plan itself is asserted crossJoin-free "
        "in tests/test_dedup.py",
    ),
    "semantic_dedup_incremental_recall": (
        {"bnlj"},
        "recall harness: exact delta×corpus spanning truth vs the "
        "incremental embedding probe (see ann_lsh_recall); the live "
        "probe plan is asserted keyed-only (no cartesian) in "
        "tests/test_dedup.py",
    ),
    "ann_pq_incremental_equiv": (
        {"bnlj"},
        "equivalence harness: crossJoins THREE 1-row aggregates "
        "(n_queries x exceptAll-count x exceptAll-count) into the "
        "single invariant row — bounded by construction",
    ),
    "stream_batches_report": (
        {"bnlj"},
        "invariant harness: crossJoin of two 1-row aggregates over "
        "the bounded stream_batches audit table",
    ),
    "phash_dedup": (
        {"bnlj"},
        "invariant harness: crossJoin of the 1-row base count onto "
        "the 1-row pair-classification aggregate; the candidate join "
        "itself is keyed on (band, slice) — asserted in "
        "tests/test_multimodal.py",
    ),
    "phash_incremental": (
        {"bnlj"},
        "invariant harness: crossJoin of the 1-row base count onto "
        "the 1-row match-classification aggregate; the probe join is "
        "keyed on (band, slice) against the stored postings",
    ),
    "audio_fp_incremental": (
        {"bnlj"},
        "invariant harness: crossJoin of the 1-row base count onto "
        "the 1-row match-classification aggregate; the probe join is "
        "keyed on (frame_idx, word) against the stored postings",
    ),
    "audio_fingerprint_dedup": (
        {"bnlj"},
        "invariant harness: crossJoin of the 1-row base count onto "
        "the 1-row pair-classification aggregate; the candidate join "
        "is keyed on (frame_idx, word) — asserted in "
        "tests/test_multimodal.py",
    ),
    "video_fingerprint_dedup": (
        {"bnlj"},
        "invariant harness: crossJoin of the 1-row base count onto "
        "the 1-row pair-classification aggregate; the candidate join "
        "is keyed on (frame_idx, band, slice) — asserted in "
        "tests/test_multimodal.py",
    ),
    "video_fp_incremental": (
        {"bnlj"},
        "invariant harness: crossJoin of the 1-row base count onto "
        "the 1-row match-classification aggregate; the probe join is "
        "keyed on (frame_idx, band, slice) against the stored postings",
    ),
    "minhash_precision": (
        {"bnlj"},
        "precision harness: joins LSH candidates against the exact "
        "n-gram-Jaccard ground truth",
    ),
    "minhash_incremental_precision": (
        {"bnlj"},
        "precision harness vs exact ground truth (see minhash_precision)",
    ),
    "minhash_incremental": (
        {"bnlj"},
        "broadcast of the 1-row hash-seed grid on the DELTA sketch "
        "(IdentityBroadcastMode crossJoin, see minhash_lsh_pairs); the "
        "candidate join is keyed on (band, bucket) against the stored "
        "postings",
    ),
    "minhash_lsh_pairs": (
        {"bnlj"},
        "broadcast of the 1-row hash-seed grid (IdentityBroadcastMode "
        "crossJoin); the candidate join itself is keyed on (band, bucket) "
        "— asserted by test_minhash_join_keys_are_band_buckets",
    ),
    "events_sliding": (
        {"bnlj"},
        "broadcast of the k-offsets seed frame (window multiplicity); "
        "the aggregation is hash-partitioned on the window key",
    ),
    "dormant_high_balance": (
        {"bnlj"},
        "broadcast of the 1-row (sum, count) scalar frame — the house "
        "normalizer pattern for decorrelated scalar subqueries; the "
        "NOT EXISTS is a keyed left-anti join",
    ),
    "fixed_cells": (
        {"bnlj"},
        "S3 fixed-cell scan: broadcast 1-row crossJoin by design "
        "(SURVEY §2.1)",
    ),
    "lm_quality": (
        {"bnlj"},
        "broadcast of the 1-row training-corpus token total T onto the "
        "per-bigram score frame (the stupid-backoff denominator); the "
        "count-table joins themselves are shuffled equi joins on token "
        "keys",
    ),
    "source_mixture": (
        {"bnlj"},
        "broadcast of the 1-row global normalizer C onto the per-group "
        "mass frame (group count rows); the corpus-side join is a "
        "broadcast equi join on grp",
    ),
    "gap_fill": (
        {"bnlj"},
        "broadcast of the 1-row [min,max] bucket bounds onto the "
        "distinct-type frame to generate the dense hour spine; the "
        "sparse-counts join is a hash equi join on (type, hour)",
    ),
    "bigram_pmi": (
        {"bnlj"},
        "broadcast of the 1-row corpus totals (U, T) onto the filtered "
        "bigram-count frame (the PMI normalizer); the unigram joins are "
        "shuffled equi joins on the word key",
    ),
    "psi_drift": (
        {"bnlj"},
        "broadcast of the 1-row per-cohort totals onto the bin-count "
        "frame (bin-count rows, fixed at nbins); the binning itself is "
        "one hash aggregation",
    ),
    "chi_square_cells": (
        {"bnlj"},
        "broadcast of the 1-row grand total onto the contingency-cell "
        "frame (category-scale rows); row/column totals join as "
        "broadcast equi joins",
    ),
    "mi_cells": (
        {"bnlj"},
        "broadcast of the 1-row grand total onto the contingency-cell "
        "frame (category-scale rows), same shape as chi_square_cells",
    ),
    "key_skew_topk": (
        {"bnlj"},
        "broadcast of the 1-row table total onto the TakeOrdered "
        "top-k frame (k rows, k=20)",
    ),
    "seasonal_dow": (
        {"bnlj"},
        "broadcast of the 1-row table total onto the 7-row period-count "
        "frame",
    ),
    "ar_aging": (
        {"bnlj"},
        "broadcast of the 1-row ledger date (max order day) onto the "
        "open-orders scan before the bounded bucket aggregation",
    ),
    "benford_digits": (
        {"bnlj"},
        "broadcast of the 1-row total onto the 9-row digit-count frame",
    ),
    "decayed_revenue": (
        {"bnlj"},
        "broadcast of the 1-row ledger date (max order day) onto the "
        "scan before the priority-scale decayed aggregation",
    ),
    "embedding_drift": (
        {"bnlj"},
        "broadcast of the 1-row sufficient-stats frame (dot/norms over "
        "the dim-scale sum vectors) onto the 1-row cohort counts",
    ),
    "exact_quantiles_qty": (
        {"gwin", "bnlj"},
        "histogram selection: the cumulative window and the 5-row "
        "rank broadcast run on the DISTINCT-VALUE frame (50 quantity "
        "levels), not the corpus — the corpus is touched by exactly "
        "one keyed count aggregation (vocab_coverage discipline)",
    ),
    "important_parts": (
        {"bnlj"},
        "1-row global-revenue broadcast onto the per-part aggregate "
        "(share-of-total HAVING; temperature_resample normalizer "
        "pattern)",
    ),
    "idle_customers": (
        {"bnlj"},
        "1-row (sum, count) scalar-subquery broadcast onto customers "
        "(cross-multiplied avg threshold); the orders probe is a "
        "keyed left-anti join",
    ),
    "bm25_prebuilt": (
        {"bnlj"},
        "1-row corpus-stats broadcast onto the term-filtered "
        "postings (lm_quality normalizer pattern); the postings scan "
        "itself is term-pruned",
    ),
    "bm25_incremental": (
        {"bnlj"},
        "same 1-row corpus-stats broadcast as bm25_prebuilt, over the "
        "monoid-merged (stored union delta) index",
    ),
    "rrf_fusion": (
        {"gwin", "bnlj"},
        "the two rank windows run on the MATCHED-CANDIDATE frame "
        "(docs containing a query term — index-bounded, like every "
        "top-N retrieval), never the corpus; the bnlj is the 1-row "
        "corpus-stats (n_docs, total_len) broadcast onto the "
        "candidates (lm_quality normalizer pattern)",
    ),
    "time_to_convert": (
        {"gwin", "bnlj"},
        "exact_quantiles on the per-USER conversion-delta frame: "
        "cumulative window + 5-row rank broadcast on a user-bounded "
        "reduced frame (see exact_quantiles_qty)",
    ),
    "token_drift": (
        {"bnlj"},
        "broadcast of the 1-row (total_en, total_rest) token-mass "
        "normalizer onto the VOCABULARY-scale counts frame (same "
        "pattern as lm_quality/vocab_coverage); the token counts "
        "themselves are one keyed aggregation",
    ),
    "token_drift_total": (
        {"bnlj"},
        "same 1-row token-mass normalizer as token_drift, folded to "
        "the single TV-distance row",
    ),
    "temperature_resample": (
        {"bnlj"},
        "broadcast of the 1-row (sum(w_s), N) normalizer onto the "
        "per-source count frame (one row per source); the corpus-side "
        "join is a broadcast equi join on source",
    ),
    "embedding_normalize": (
        {"bnlj"},
        "broadcast of the ONE-ROW sorted per-dimension bounds array "
        "(d structs) onto the corpus — the standard 1-row normalizer "
        "pattern (see source_mixture); the stats agg itself is keyed "
        "on pos",
    ),
    "hll_distinct": (
        {"bnlj"},
        "crossJoin of two ONE-ROW aggregates (exact countDistinct + "
        "the 64-register HLL estimate) into the single report row",
    ),
    "hll_incremental": (
        {"bnlj"},
        "crossJoin of two ONE-ROW aggregates (exact countDistinct + "
        "the merged-register HLL estimate) into the single report row",
    ),
    "bm25_search": (
        {"bnlj"},
        "broadcast of the ONE-ROW corpus-stats frame (n_docs, "
        "total_len) onto the matched postings — Catalyst folds the "
        "constant-key equi-join into a 1-row broadcast",
    ),
    "kmv_set_cardinality": (
        {"bnlj"},
        "crossJoins of five ≤64-row sketch/count frames (two KMV "
        "minima estimates, the union-minima set stats and two exact "
        "1-row counts) into the single report row — every frame is "
        "sketch-sized, the corpus is touched only by the map-side "
        "minima passes and two distinct aggregations",
    ),
    "join_cardinality_estimate": (
        {"bnlj"},
        "crossJoin of four ONE-ROW frames (three 64-register HLL "
        "estimates + the exact-intersection count) into the report row",
    ),
    "bloom_join_prune": (
        {"bnlj"},
        "broadcast of the ONE-ROW Bloom bitmap frame (≤ m/64 int64s, "
        "~8 KB at m=2^16) onto the fact scan — the runtime-filter "
        "pattern itself; the actual join is a keyed broadcast hash join",
    ),
    "bloom_prune_invariants": (
        {"bnlj"},
        "same 1-row bitmap broadcast, plus crossJoins of four 1-row "
        "count aggregates into the single invariants row",
    ),
}


# ---------------------------------------------------------------------------
# Registry-wide data-scale-window gate (round-11, r10 verdict #3).
#
# data_scale_windows counts Window nodes whose input reaches a leaf
# relation without crossing an Aggregate — the shape where
# Window.partitionBy(key) puts a key group's EVERY row on one task.
# That is FINE when the partition key's cardinality scales with the
# data (per-user sequences, per-doc spans, per-query ANN ranks: each
# group is entity-sized) and a single-task sort of the corpus when the
# key cardinality is fixed (~3 returnflags). Cardinality is invisible
# in a plan, so the gate is detector + explicit allowlist: every
# registered query must either report ZERO data-scale windows or carry
# a justification below naming why its partition keys are safe. The
# round-10 verdict found exactly this drift (group_percentiles /
# equi_depth_bins / window_percentiles landed on the hot window while
# only 4 queries were pinned) — this gate makes the pin registry-wide.
#
# Category tags:
#   per-entity  — partition key cardinality grows with the data;
#                 per-key frame bounded by the entity's own size
#   per-query   — ANN rank windows partitioned by query_id
#   adaptive    — operators/ranking.py:global_order_index measured the
#                 frame under the 2M single-window crossover (larger
#                 frames take the range-partitioned two-pass); its
#                 persist boundary surfaces as a LogicalRDD leaf the
#                 detector conservatively counts
#   wgl         — rank<=k filter gets Spark's WindowGroupLimit partial
#                 top-k pushdown (per-task prune before the sort) —
#                 asserted structurally in
#                 test_windowgrouplimit_protection_engaged
#   salted      — as-of carry-forward merge with salt_partitions: the
#                 window partitions by (key, salt), parallelism
#                 decoupled from key cardinality (operators/asof.py)
WINDOW_ALLOW: dict[str, str] = {
    "apply_changelog": "per-entity: latest-per-c_custkey rank; key "
                       "cardinality = customers",
    "asof_enrich": "per-entity: as-of carry-forward per user_id",
    "attribution_last_touch": "per-entity: as-of walk per user_id",
    "corpus_curation_pipeline": "per-entity: span islands per doc_id + "
                                "first-wins rank per content digest",
    "cusum_changepoints": "per-entity: ordered fold per user_id",
    "dedup_first_wins": "per-entity: first-wins rank per PK tuple "
                        "(orderkey, linenumber, ...)",
    "duplicate_span_runs": "per-entity: span islands per doc_id",
    "event_runs": "per-entity: run detection per user_id",
    "event_transitions": "per-entity: lag() per user_id",
    "event_trigrams": "per-entity: lag() per user_id",
    "flagship_consolidation": "per-entity: dedup rank per "
                              "(invoice_number, reference_number)",
    "fx_normalize": "salted: asof_join(salt_partitions=32) — window "
                    "partitions by (ccy, salt), 3 currencies no longer "
                    "serialize the merge",
    "interarrival_histogram": "per-entity: lag() per user_id",
    "invoice_extract_errors": "per-entity: take-while per source_file",
    "invoice_extract_golden": "per-entity: take-while per source_file",
    "rolling_window_revenue": "per-entity: 24h range frame per user_id",
    "running_total": "per-entity: cumulative sum per o_custkey",
    "scd2_asof_lookup": "per-entity: SCD2 validity windows per user_id",
    "scd2_history": "per-entity: SCD2 validity windows per user_id",
    "span_redacted_docs": "per-entity: span islands per doc_id",
    "take_while": "per-entity: positional break per l_orderkey",
    "training_shards": "per-entity: position within shard; rows per "
                       "shard fixed by construction (shard count grows "
                       "with data)",
    "window_lead_lag": "per-entity: lead/lag per o_custkey",
    "window_rank": "per-entity: rank per o_custkey",
    "ann_bruteforce": "per-query: top-k rank per query_id",
    "ann_ivf": "per-query: top-k rank per query_id over probed cells",
    "ann_ivf_recall": "per-query: recall harness, rank per query_id",
    "ann_lsh": "per-query: top-k rank per query_id over bucket matches",
    "ann_lsh_recall": "per-query: recall harness, rank per query_id",
    "ann_pq": "per-query: ADC + exact rerank ranks per query_id",
    "knn_join": "per-query: ADC + exact rerank ranks per query_id — "
                "query_id cardinality = corpus (two-sided join), group "
                "size = probed cell fraction, WindowGroupLimit-protected",
    "knn_join_recall": "per-query: recall harness per query_id (brute "
                       "truth + the join under test)",
    "knn_join_rerank": "per-query: rank over the frozen fixture pairs "
                       "per query_id",
    "ann_pq_prebuilt": "per-query: probe-only index ranks per query_id",
    "ann_pq_prebuilt_recall": "per-query: recall harness per query_id",
    "ann_pq_recall": "per-query: recall harness per query_id",
    "ann_lsh_rerank": "per-query: rank over the frozen fixture pairs "
                      "(frame bounded by the fixture itself)",
    "ann_ivf_rerank": "per-query: rank over the frozen fixture pairs",
    "ann_pq_rerank": "per-query: rank over the frozen fixture pairs",
    "ann_pq_prebuilt_rerank": "per-query: rank over the frozen fixture "
                              "pairs",
    "ann_pq_incremental": "per-query: probe-only index ranks per "
                          "query_id (segment-union codes table)",
    "ann_pq_incremental_equiv": "per-query: two probe plans compared, "
                                "ranks per query_id",
    "ann_pq_incremental_recall": "per-query: recall harness per "
                                 "query_id",
    "ann_pq_incremental_rerank": "per-query: rank over the frozen "
                                 "fixture pairs",
    "curriculum_interleave": "adaptive: interleave_key derives "
                             "per-source rank from global_order_index "
                             "(round-11 migration off the per-lang "
                             "window)",
    "decile_lift": "adaptive: global_order_index small-path under the "
                   "measured 2M crossover",
    "rfm_segments": "adaptive: three global_order_index ranks (R/F/M) "
                    "over the per-customer aggregate",
    "spend_gini": "adaptive: global_order_index rank over the "
                  "per-customer aggregate",
    "vocab_coverage": "adaptive: global_order_index over the DISTINCT-"
                      "term frame (vocabulary-bounded, Heaps-sublinear)",
    "sample_exact_k_per_group": "wgl: rank<=k per lang — "
                                "WindowGroupLimit partial pushdown "
                                "prunes per-task",
    "top_errors": "wgl: rank<=5 per error_reason — WindowGroupLimit "
                  "partial pushdown prunes per-task",
    "top_parts_by_size": "wgl: rank<=3 per p_size — WindowGroupLimit "
                         "partial pushdown prunes per-task",
    "topk_two_pass": "two-pass: local prune partitioned by "
                     "(suppkey, partition-id) bounds every task; "
                     "second window sees <= k rows per (suppkey, pid)",
}


def _flags(report) -> set:
    flags = set()
    if report.cartesian_products:
        flags.add("cart")
    if report.global_windows:
        flags.add("gwin")
    if report.broadcast_nested_loop_joins:
        flags.add("bnlj")
    return flags


# --- selective-scan pushdown gate (round-12 verdict #6) ---------------------
#
# The plan doctor reads pushed filters off the scan NODES (incl. DSv2);
# these queries' selectivity lives in predicates the parquet source can
# push, and losing that pushdown (a refactor wrapping the filter behind
# a non-pushable expression, a cache barrier, a projection that hides
# the column) silently turns a pruned scan into a full read — the same
# drift class the r10 hot-window regressions came from. Two tiers:
# every scan pushes (the all-selective family), or a pinned minimum
# (queries that legitimately carry one unfiltered corpus scan).

PUSHDOWN_ALL_SCANS = [
    "blocking_suppliers",
    "disjunctive_revenue",
    "forecast_revenue",
    "min_cost_supplier",
    "priority_late_orders",
    "promotion_candidate_suppliers",
    "regional_revenue",
    "returned_items",
    "small_qty_revenue",
]

#: query -> minimum pushed-scan count (documented residue: which scans
#: legitimately read unfiltered)
PUSHDOWN_MIN: dict[str, int] = {
    # customers scan pushes the balance predicate; the orders probe of
    # the NOT EXISTS and the 1-row avg-balance subquery legitimately
    # scan unfiltered
    "dormant_high_balance": 1,
}


@pytest.mark.parametrize("name", sorted(PUSHDOWN_ALL_SCANS))
def test_selective_scans_keep_pushdown(spark, sf_dir, name):
    rep = plan_report(entry.queries()[name](spark, sf_dir))
    assert rep.scans, f"{name}: no scan nodes found"
    lost = [s for s in rep.scans if not s["pushed_filters"]]
    assert not lost, (
        f"{name}: {len(lost)}/{len(rep.scans)} scans lost filter "
        f"pushdown (columns: {[s['columns'] for s in lost]}) — the "
        "predicate no longer reaches the parquet source"
    )


@pytest.mark.parametrize("name", sorted(PUSHDOWN_MIN))
def test_partially_selective_scans_keep_pushdown(spark, sf_dir, name):
    rep = plan_report(entry.queries()[name](spark, sf_dir))
    pushed = sum(1 for s in rep.scans if s["pushed_filters"])
    assert pushed >= PUSHDOWN_MIN[name], (
        f"{name}: {pushed} pushed scans < required {PUSHDOWN_MIN[name]}"
    )


def test_pushdown_gate_detects_loss(spark, sf_dir):
    """Deliberate regression: the same predicate wrapped in a
    null-tolerant non-pushable expression must read as NOT pushed —
    proving the gate's detector actually discriminates. (A plain
    md5(col)=x wrapper is NOT enough: Catalyst still pushes the
    implied IsNotNull residual; coalesce kills even that.)"""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    good = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    bad = li.filter(
        F.coalesce(F.col("l_returnflag"), F.lit("R")) == "R"
    ).select("l_orderkey")
    assert all(s["pushed_filters"] for s in plan_report(good).scans)
    assert not any(s["pushed_filters"] for s in plan_report(bad).scans)


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_query_plan_is_scalable(spark, sf_dir, name):
    df = entry.queries()[name](spark, sf_dir)
    flags = _flags(plan_report(df))
    allowed = ALLOW.get(name, (set(), ""))[0]
    assert flags <= allowed, (
        f"{name}: plan contains scale anti-patterns {sorted(flags - allowed)} "
        f"(allowed: {sorted(allowed) or 'none'}) — fix the plan or add an "
        "explicit allowlist entry with its design justification"
    )
    # registry-wide data-scale-window gate (see WINDOW_ALLOW above)
    if name not in WINDOW_ALLOW:
        dsw = data_scale_windows(df)
        assert dsw == 0, (
            f"{name}: {dsw} Window node(s) run directly over a data-scale "
            "input — if every partition key's cardinality scales with the "
            "data (per-user/per-doc/per-query), add a WINDOW_ALLOW entry "
            "with that justification; if the key cardinality is fixed "
            "(returnflag/event_type/lang), migrate to the reduced-frame "
            "tier (operators/orderstats.py, ranking.global_order_index, "
            "asof_join(salt_partitions=...))"
        )
    # Ship-boundary discipline: no DecimalType may leave a registered
    # query. The harness compares results through pandas, where DuckDB
    # renders decimals as float64 ('123.5') while Spark keeps
    # decimal.Decimal ('123.50') — a guaranteed hash mismatch. Exact
    # decimal math stays INSIDE the plan; the shipped column casts to
    # double (money) or string digits (exact >2^53 integer ratios).
    from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

    def _has_decimal(dt) -> bool:
        # recurse: a decimal nested inside a struct/array/map leaks
        # through the harness's pandas compare just as surely as a
        # top-level one
        if isinstance(dt, DecimalType):
            return True
        if isinstance(dt, StructType):
            return any(_has_decimal(f.dataType) for f in dt.fields)
        if isinstance(dt, ArrayType):
            return _has_decimal(dt.elementType)
        if isinstance(dt, MapType):
            return _has_decimal(dt.keyType) or _has_decimal(dt.valueType)
        return False

    leaked = [f.name for f in df.schema.fields if _has_decimal(f.dataType)]
    assert not leaked, (
        f"{name}: decimal column(s) {leaked} at the ship boundary — cast "
        "to double (money) or string (exact big-int ratios) in BOTH the "
        "Spark query and its oracle SQL"
    )


def test_allowlist_has_no_stale_entries(spark, sf_dir):
    """An allowlist entry whose query no longer trips the flag is
    stale — prune it so the gate stays tight."""
    stale = []
    for name, (allowed, _why) in ALLOW.items():
        flags = _flags(plan_report(entry.queries()[name](spark, sf_dir)))
        if not (allowed & flags):
            stale.append((name, sorted(allowed), sorted(flags)))
    assert not stale, f"stale allowlist entries: {stale}"


def test_window_allowlist_has_no_stale_entries(spark, sf_dir):
    """Same discipline for WINDOW_ALLOW: a query that stops tripping
    data_scale_windows must lose its entry, and every entry must name
    a registered query."""
    qs = entry.queries()
    unknown = sorted(set(WINDOW_ALLOW) - set(qs))
    assert not unknown, f"WINDOW_ALLOW names unregistered queries: {unknown}"
    stale = [
        name for name in WINDOW_ALLOW
        if data_scale_windows(qs[name](spark, sf_dir)) == 0
    ]
    assert not stale, f"stale WINDOW_ALLOW entries: {stale}"


@pytest.mark.parametrize(
    "name", ["sample_exact_k_per_group", "top_errors", "top_parts_by_size"]
)
def test_windowgrouplimit_protection_engaged(spark, sf_dir, name):
    """r10 verdict #4: the 'wgl' WINDOW_ALLOW entries rest on Spark's
    WindowGroupLimit partial top-k pushdown actually firing — assert
    the node is in the executed plan, so a refactor that breaks the
    rank<=k pattern (non-rank function, missing filter) loses the
    justification loudly instead of silently regaining the full
    per-group sort."""
    df = entry.queries()[name](spark, sf_dir)
    r = plan_report(df)
    assert r.window_group_limits >= 1, (
        f"{name}: no WindowGroupLimitExec in the executed plan — the "
        "rank<=k pushdown did not engage; migrate to "
        "operators/ranking.py:topk_per_group or restore the pattern"
    )
