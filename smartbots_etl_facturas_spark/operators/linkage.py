"""Set-similarity join (entity matching / record linkage): all pairs
across two tables with token-set Jaccard >= tau.

Algorithm: PREFIX-FILTERED candidate generation (the AllPairs/PPJoin
family — Bayardo et al. 2007 "Scaling up all pairs similarity
search"; Xiao et al. 2008 PPJoin): order every record's distinct
tokens by one GLOBAL canonical order (corpus frequency ascending, so
prefixes carry the rarest — most selective — tokens), index only each
record's first ``len - ceil(tau*len) + 1`` tokens, and join on those
prefix tokens. The filter is LOSSLESS: two sets with Jaccard >= tau
must share a token within each other's prefix under a common total
order, so candidates ⊇ all answers and the exact verify step makes
the operator EXACT — which is why it can carry a full brute-force
oracle, unlike the LSH tiers.

Scale design: token frequencies are one map-side-combine count; the
candidate join is an equi-join on the prefix token (narrow shuffle,
candidate count bounded by prefix postings — orders of magnitude
below the cross product at realistic tau); verification touches only
candidate pairs. No driver participation, no cross join anywhere.

Determinism: Jaccard = |A∩B| / |A∪B| over integer set sizes — one
IEEE division, engine-exact. Candidate-stage bounds run on the
threshold floored to 6 decimals in EXACT integer arithmetic, so they
are provably never stricter than the final comparison (float
ceil(t·n) overshoots exact products and would drop boundary pairs).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canonical_tokens(
    df: DataFrame, freq: DataFrame, id_col: str, tokens_col: str
) -> DataFrame:
    """(id, toks sorted by (corpus freq asc, token asc), n) — distinct
    tokens in the shared canonical order, assembled WITHOUT a window:
    sort_array on (freq, token) structs."""
    exploded = (
        df.select(F.col(id_col), F.explode(F.array_distinct(tokens_col)).alias("tok"))
        .join(freq, "tok")
    )
    return (
        exploded.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("c"), F.col("tok")))
            ).alias("__st")
        )
        .select(
            id_col,
            F.transform("__st", lambda s: s["tok"]).alias("toks"),
            F.size("__st").cast("long").alias("n"),
        )
    )


def _prepare_canonical(left, right, id_col, tokens_col):
    freq = (
        left.select(F.explode(F.array_distinct(tokens_col)).alias("tok"))
        .unionAll(right.select(F.explode(F.array_distinct(tokens_col)).alias("tok")))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        _canonical_tokens(left, freq, id_col, tokens_col),
        _canonical_tokens(right, freq, id_col, tokens_col),
    )


def _candidates_from_canonical(lc, rc, threshold, id_col):
    # Candidate-stage bounds use EXACT integer arithmetic on the
    # threshold FLOORED to 6 decimals (t_num/1e6 <= threshold, so
    # every bound below is never STRICTER than the verify comparison
    # — lossless by construction). A float ceil(t*n) overshoots exact
    # integer products (0.34*150 -> 51.000000000000007 -> ceil 52,
    # exact 51) and silently dropped boundary-Jaccard pairs.
    t_num = math.floor(threshold * 1_000_000)

    def prefix(df, out_id):
        # prefix postings carry ONLY (id, token, set size) — no record
        # payloads ride the explode
        need = F.expr(f"-((-{t_num}L * n) div 1000000)")  # exact ceil(t_snap*n)
        plen = F.col("n") - need + 1
        return df.select(
            F.col(id_col).alias(out_id),
            F.col("n").alias(f"n_{out_id}"),
            F.explode(F.slice("toks", 1, plen.cast("int"))).alias("tok"),
        )

    # candidate pairs: prefix-token equi-join + the PPJoin LENGTH
    # filter (also lossless: Jaccard >= tau forces
    # tau*|A| <= |B| <= |A|/tau; integer form t_num*n_a <= 1e6*n_b),
    # applied BEFORE the dedup so incompatible pairs never reach the
    # aggregation. Set sizes ride through the distinct (functionally
    # dependent on the ids), so the verify stage never re-joins the
    # canonical frames just to recover them.
    #
    # Width pin (round-10, the edit-distance r9 fix applied here): the
    # posting frames are KILOBYTE-scale but the prefix equi-join EMITS
    # the candidate explosion, so AQE's byte-based coalescing funnels
    # that work onto one core (measured at sf0.1: whole query 3.2 s
    # coalesced vs 1.8 s at native width). An explicit repartition by
    # the join key is exempt from AQE coalescing and the join reuses
    # the partitioning — no extra exchange.
    sp = _shuffle_width(lc.sparkSession)
    return (
        prefix(lc, "left_id").repartition(sp, "tok")
        .join(prefix(rc, "right_id").repartition(sp, "tok"), "tok")
        .filter(
            (F.lit(1_000_000) * F.col("n_right_id") >= F.lit(t_num) * F.col("n_left_id"))
            & (F.lit(1_000_000) * F.col("n_left_id") >= F.lit(t_num) * F.col("n_right_id"))
        )
        .select("left_id", "right_id", "n_left_id", "n_right_id")
        .distinct()
    )


def jaccard_similarity_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
) -> DataFrame:
    """All (left_id, right_id, jaccard) pairs with token-set Jaccard
    >= threshold. Exact (see module doc). Inputs carry a tokens array
    column; tokens are deduplicated internally."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    lc, rc = _prepare_canonical(left, right, id_col, tokens_col)
    cand = _candidates_from_canonical(lc, rc, threshold, id_col)
    # exact verification WITHOUT per-pair array ops (array_intersect is
    # interpreted O(|A|*|B|) per pair — measured 30 s vs 3 s on a
    # small-vocabulary corpus where candidates approach all pairs):
    # |A∩B| falls out of a codegen'd count aggregation over the
    # candidate pairs joined with both FULL posting lists
    # Width pin (round-10): the canonical frames arrive through
    # AQE-coalesced (byte-tiny) shuffles, so the explode + verify
    # joins + map-side partial aggregation — the actual heavy work,
    # |candidates| x |A| rows — would run on 1-2 cores. Repartitioning
    # the SMALL canonical frames (doc-scale rows, pre-explode) spreads
    # the fan-out across the session width for the cost of a tiny
    # round-robin exchange; cand stays broadcast-joinable (pinning
    # the join keys instead forces shuffle joins — measured slower).
    sp = _shuffle_width(left.sparkSession)
    pl = lc.repartition(sp).select(
        F.col(id_col).alias("left_id"), F.explode("toks").alias("tok")
    )
    pr = rc.repartition(sp).select(
        F.col(id_col).alias("right_id"), F.explode("toks").alias("tok")
    )
    inter = (
        cand.join(pl, "left_id")
        .join(pr, ["right_id", "tok"])
        .groupBy("left_id", "right_id", "n_left_id", "n_right_id")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("__inter").cast("double")
            / (F.col("n_left_id") + F.col("n_right_id") - F.col("__inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("left_id", "right_id", "jaccard")
    )


def _shuffle_width(spark) -> int:
    """Configured shuffle width as an int, falling back to the
    cluster's default parallelism when ``spark.sql.shuffle.partitions``
    is non-numeric (e.g. ``"auto"`` under auto-optimized shuffle on
    some managed platforms)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        return spark.sparkContext.defaultParallelism


def _pieces(rl: str, d: int) -> list[tuple[str, str]]:
    """SQL (length, start) expressions for the ``d + 1`` contiguous
    pieces of a length-``rl`` string: the first pieces get
    ``floor(rl / (d+1))`` chars, the last ``rl % (d+1)`` pieces one
    extra (the remainder goes RIGHT — same split as the round-8
    ``substr(s, 1, L div 2)`` / remainder-second-half convention)."""
    n = d + 1
    base = f"({rl} div {n})"
    rem = f"({rl} % {n})"
    out = []
    for j in range(n):
        m = f"({base} + IF({j} >= {n} - {rem}, 1, 0))"
        r = f"({j} * {base} + greatest(0, {j} - ({n} - {rem})))"
        out.append((m, r))
    return out


def _edit_idx_level0(mains: DataFrame, d: int) -> DataFrame:
    """Index postings: one row per (string, segment). ``k`` hashes the
    lossy-but-lossless join key (partner length, segment index,
    segment substring) — a 64-bit collision can only ADD candidates
    (the exact verify removes them), never lose a pair. ``res`` is
    the string with the segment cut out (the recursion residual),
    ``rl`` its length. Postings carry only (id, k, res, rl): the
    source string itself never rides a posting or candidate shuffle
    (round-13, guide 2.3 "shuffle keys and metadata instead of
    payloads" - strings re-attach by one keyed join after the
    id-level dedup in edit_distance_join)."""
    entries = []
    for i, (m, r) in enumerate(_pieces("__L", d)):
        entries.append(
            "named_struct("
            f"'k', xxhash64(CAST(__L AS INT), {i}, substr(__s, {r} + 1, {m})), "
            f"'res', concat(substr(__s, 1, {r}), substr(__s, {r} + {m} + 1)), "
            f"'rl', CAST(__L - {m} AS INT))"
        )
    return mains.select(
        F.col("__id").alias("a_id"),
        F.explode(F.expr("array(" + ", ".join(entries) + ")")).alias("e"),
    ).select("a_id", "e.k", "e.res", "e.rl")


def _edit_probe_level0(mains: DataFrame, d: int) -> DataFrame:
    """Probe postings: for every candidate partner length
    L in [M-d, M+d] and every segment i of a length-L string, the
    substrings starting within d of that segment's home position —
    <= (2d+1)^2 (d+1) entries per row, all pure Column expressions.
    ``res`` removes the probed occurrence (so residual recursion sees
    the complement around the SAME alignment); ``rl`` carries the
    INDEX residual length so both sides agree on piece layout."""
    n = d + 1
    entries = []
    for dl in range(-d, d + 1):
        lx = f"(__L + ({dl}))"
        for i, (m, r0) in enumerate(_pieces(lx, d)):
            for sh in range(-d, d + 1):
                # position-aware shift pruning (lossless): if the
                # witness script preserves the segment at shift δ, its
                # prefix costs c1 >= |δ| and its suffix costs
                # c2 >= |Δ - δ| (pure length arithmetic), and
                # c1 + c2 <= d. Here Δ = probe_len - index_len = -dl
                # is a plan-time constant, so impossible (dl, sh)
                # combinations are never even generated.
                if abs(sh) + abs(-dl - sh) > d:
                    continue
                r = f"({r0} + ({sh}))"
                cond = f"{lx} >= {n} AND {r} >= 0 AND {r} + {m} <= __L"
                entries.append(
                    f"IF({cond}, named_struct("
                    f"'k', xxhash64(CAST({lx} AS INT), {i}, "
                    f"substr(__s, {r} + 1, {m})), "
                    f"'res', concat(substr(__s, 1, {r}), "
                    f"substr(__s, {r} + {m} + 1)), "
                    f"'rl', CAST({lx} - {m} AS INT)), NULL)"
                )
    return mains.select(
        F.col("__id").alias("b_id"),
        F.explode(
            F.expr(
                "filter(array(" + ", ".join(entries) + "), "
                "x -> x IS NOT NULL)"
            )
        ).alias("e"),
    ).select("b_id", "e.k", "e.res", "e.rl")


def _edit_refine_idx(idx: DataFrame, d: int) -> DataFrame:
    """One recursion step on the index side: split the residual into
    d+1 pieces, extend the key hash with (piece index, piece), cut
    the piece out of the residual."""
    entries = []
    for j, (m, r) in enumerate(_pieces("rl", d)):
        entries.append(
            "named_struct("
            f"'k', xxhash64(k, {j}, substr(res, {r} + 1, {m})), "
            f"'res', concat(substr(res, 1, {r}), substr(res, {r} + {m} + 1)), "
            f"'rl', CAST(rl - {m} AS INT))"
        )
    return idx.select(
        "a_id",
        F.explode(F.expr("array(" + ", ".join(entries) + ")")).alias("e"),
    ).select("a_id", "e.k", "e.res", "e.rl")


def _edit_refine_probe(probe: DataFrame, d: int) -> DataFrame:
    """One recursion step on the probe side: piece layout comes from
    the carried INDEX residual length ``rl``; each piece may start
    within d of its home position inside the probe's own residual."""
    entries = []
    for j, (m, r0) in enumerate(_pieces("rl", d)):
        for sh in range(-d, d + 1):
            r = f"({r0} + ({sh}))"
            # position-aware shift pruning, runtime form: the residual
            # length difference Δ = length(res) - rl varies per row, so
            # |δ| + |Δ - δ| <= d is evaluated as a cheap predicate.
            cond = (
                f"{r} >= 0 AND {r} + {m} <= length(res) AND "
                f"abs({sh}) + abs(length(res) - rl - ({sh})) <= {d}"
            )
            entries.append(
                f"IF({cond}, named_struct("
                f"'k', xxhash64(k, {j}, substr(res, {r} + 1, {m})), "
                f"'res', concat(substr(res, 1, {r}), "
                f"substr(res, {r} + {m} + 1)), "
                f"'rl', CAST(rl - {m} AS INT)), NULL)"
            )
    return probe.select(
        "b_id",
        F.explode(
            F.expr(
                "filter(array(" + ", ".join(entries) + "), "
                "x -> x IS NOT NULL)"
            )
        ).alias("e"),
    ).select("b_id", "e.k", "e.res", "e.rl")


def _edit_candidates(
    base: DataFrame,
    d: int,
    hot_product: int,
    refine_levels: int,
    salt_buckets: int,
    checkpoint: str = "local",
) -> DataFrame:
    """Candidate pairs ``(a_id, b_id)`` (a_id < b_id, superset of all
    true pairs, may repeat) — the skew-aware candidate stage, exposed
    so its pruning is measurable (on an adversarial shared-prefix
    corpus at 8× scale, 14.4B naive candidates became 65M refined
    ones, a 221× cut — PERF.md).
    Ids only: the strings re-attach downstream after the id-level
    dedup (guide 2.3), so no candidate shuffle carries payload.
    See edit_distance_join."""
    n = d + 1
    mains = base.filter(F.col("__L") >= n)
    cands: list[DataFrame] = []
    # The candidate joins EMIT millions of rows from kilobyte-scale
    # shuffle inputs and feed a hash partial-dedup in the same stage;
    # AQE's byte-based coalescing sees tiny inputs and funnels that
    # work onto 1-4 cores (measured: a 7 s single stage at sf0.1).
    # An EXPLICIT repartition by the join key at the session's
    # configured shuffle width pins the stage width — the join reuses
    # the partitioning (no extra exchange) and explicit repartitions
    # are exempt from AQE coalescing by design.
    sp = _shuffle_width(base.sparkSession)

    def _by_k(f: DataFrame, *extra: str) -> DataFrame:
        return f.repartition(sp, "k", *extra)

    def _ck(f: DataFrame) -> DataFrame:
        return (
            f.checkpoint(eager=True)
            if checkpoint == "reliable"
            else f.localCheckpoint()
        )
    salted_idx: list[DataFrame] = []
    salted_probe: list[DataFrame] = []

    # ADAPTIVE skew loop. Each iteration materializes ONE snapshot of
    # the level's postings (both sides, tagged) and runs one bounded
    # probe. The posting EXPLODE — the level's CPU-heavy subtree,
    # (2d+1)^2 (d+1) xxhash64+substr entries per probe row — is
    # referenced by the hot-key counts, the hot/cold split, AND the
    # candidate joins the caller forces again later; without the
    # snapshot it re-executes once per reference (measured 3-4x at
    # sf0.1, ~5 s of the round-13 9.6 s wall). The snapshot also
    # truncates lineage so the per-level recursion cannot grow the
    # logical plan exponentially. Level 0's snapshot is linear in the
    # input (the same volume the candidate equi-join must shuffle
    # anyway); refined levels hold only still-hot postings, which
    # shrink as the key hash accumulates entropy.
    idx_k = _edit_idx_level0(mains, d)
    probe_k = _edit_probe_level0(mains, d)
    for level in range(refine_levels + 1):
        u_k = _ck(
            idx_k.withColumnRenamed("a_id", "__pid")
            .withColumn("__idx", F.lit(True))
            .unionByName(
                probe_k.withColumnRenamed("b_id", "__pid")
                .withColumn("__idx", F.lit(False))
            )
        )
        idx_u = u_k.filter("__idx").select(
            F.col("__pid").alias("a_id"), "k", "res", "rl"
        )
        probe_u = u_k.filter("NOT __idx").select(
            F.col("__pid").alias("b_id"), "k", "res", "rl"
        )
        # hot = the JOIN PRODUCT per key (idx postings x probe
        # postings — the actual per-task candidate work a single hash
        # partition would absorb), not the index count alone: a
        # 1000 x 1000 shared-prefix group is one cheap task and takes
        # the direct join, while a data-scale group's product
        # explodes past any threshold and recurses. ONE map-side-
        # combinable aggregation over the tagged snapshot yields both
        # sides' counts (previously two groupBys + an inner join —
        # three exchanges per level collapsed to one; the inner join's
        # both-sides-present requirement is preserved because a zero
        # count zeroes the product).
        hot = (
            u_k.groupBy("k")
            .agg(
                F.sum(F.col("__idx").cast("long")).alias("__c"),
                F.sum((~F.col("__idx")).cast("long")).alias("__p"),
            )
            .filter(
                F.col("__c").cast("double") * F.col("__p").cast("double")
                > F.lit(float(hot_product))
            )
            .select("k")
        )
        # second (small) snapshot: only the still-hot postings — the
        # refinement recursion and salted fallback re-reference these,
        # and the empty-result probe doubles as loop termination.
        both_hot = _ck(u_k.join(hot, "k", "left_semi"))
        if not both_hot.take(1):
            # nothing hot: join everything here, recursion over.
            cands.append(
                _by_k(idx_u).join(_by_k(probe_u), "k")
                .filter(F.col("a_id") < F.col("b_id"))
                .select("a_id", "b_id")
            )
            break
        idx_hot = (
            both_hot.filter("__idx")
            .select(F.col("__pid").alias("a_id"), "k", "res", "rl")
        )
        probe_hot = (
            both_hot.filter("NOT __idx")
            .select(F.col("__pid").alias("b_id"), "k", "res", "rl")
        )
        # cold join: probe rows with hot keys simply find no partner
        # here (those keys are absent from idx_cold), so only the
        # index side needs the anti-join (against the checkpointed
        # hot keys, not a recomputed aggregation).
        cands.append(
            _by_k(idx_u.join(idx_hot.select("k"), "k", "left_anti"))
            .join(_by_k(probe_u), "k")
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
        )
        if level == refine_levels:
            # out of refinement budget: whatever is still hot goes to
            # the salted pass (lossless, spreads the group S ways).
            salted_idx.append(idx_hot)
            salted_probe.append(probe_hot)
            break
        # residuals too short to host d+1 non-empty pieces cannot be
        # re-pigeonholed — salt those; refine the rest.
        salted_idx.append(idx_hot.filter(F.col("rl") < n))
        salted_probe.append(probe_hot.filter(F.col("rl") < n))
        idx_k = _edit_refine_idx(idx_hot.filter(F.col("rl") >= n), d)
        probe_k = _edit_refine_probe(probe_hot.filter(F.col("rl") >= n), d)

    if salted_idx:
        sidx = salted_idx[0]
        for f in salted_idx[1:]:
            sidx = sidx.unionByName(f)
        sprobe = salted_probe[0]
        for f in salted_probe[1:]:
            sprobe = sprobe.unionByName(f)
        # salt is a DETERMINISTIC hash of the index id (never rand()):
        # same candidates every run, spread across salt_buckets tasks.
        cands.append(
            _by_k(
                sidx.withColumn(
                    "__salt",
                    F.pmod(F.xxhash64("a_id"), F.lit(salt_buckets)).cast("int"),
                ),
                "__salt",
            )
            .join(
                _by_k(
                    sprobe.withColumn(
                        "__salt",
                        F.explode(F.expr(f"sequence(0, {salt_buckets - 1})")),
                    ).withColumn("__salt", F.col("__salt").cast("int")),
                    "__salt",
                ),
                ["k", "__salt"],
            )
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id"),
        )

    out = cands[0]
    for f in cands[1:]:
        out = out.unionByName(f)
    return out


def edit_distance_join(
    df: "DataFrame",
    id_col: str,
    str_col: str,
    max_dist: int = 1,
    hot_product: int = 16_000_000,
    refine_levels: int = 6,
    salt_buckets: int = 32,
    checkpoint: str = "local",
) -> "DataFrame":
    """All pairs with Levenshtein distance <= ``max_dist`` — the
    STRING-similarity complement of the token-set join above, via the
    PassJoin pigeonhole scheme (Li, Deng, Feng 2011) with a
    frequency-aware RECURSIVE refinement for skewed segment postings:

    - Partition every string into d+1 contiguous segments (d =
      max_dist); any string within edit distance d must contain one
      segment EXACTLY, at a start position shifted by at most d — so
      candidates come from an EQUI-JOIN on (partner length, segment
      index, substring), never a cross join, and the exact
      Levenshtein verify touches only candidates (LOSSLESS filter =>
      exact operator => brute-force oracle-checkable, the PPJoin
      discipline).
    - SKEW: on low-entropy corpora (shared-prefix ids like
      ``Customer#000…``) one (L, seg, substring) posting group can
      hold most of the table and the equi-join would materialize
      |group|^2 candidates through one hot key. A map-side-combinable
      count pre-pass on BOTH posting sides finds keys whose join
      PRODUCT (index count x probe count — the per-task candidate
      work one hash partition would absorb) exceeds ``hot_product``;
      those are NOT joined directly. Instead the
      pigeonhole is applied AGAIN to the residual string (the string
      with the matched segment cut out): if ed(a, b) <= d and a's
      segment occurs verbatim in b at shift c1 <= d, the optimal
      script maps prefix->prefix and suffix->suffix with c1 + c2 <= d
      edits, so ed(residual_a, residual_b) <= d by concatenation
      subadditivity — the residuals satisfy the SAME contract and can
      be re-split into d+1 pieces, extending the join key with (piece
      index, piece). Recursion proceeds per-level only for keys still
      hot, up to ``refine_levels`` deep; each level multiplies key
      entropy, so shared-prefix corpora resolve to per-suffix groups.
    - Keys still hot when the residual is shorter than d+1 chars (or
      past the level budget) fall back to a SALTED join — candidates
      unchanged but spread over ``salt_buckets`` tasks, removing the
      single-task hot spot. Keys are accumulated as xxhash64 chains;
      a collision can only ADD candidates (verify removes them).
    - SHORT strings (length <= d) cannot host d+1 non-empty segments;
      they are handled by a side channel over DISTINCT VALUES: any
      partner has length <= 2d, so the value-level pair space is
      bounded by the string DOMAIN of length <= 2d (alphabet^(2d)),
      not the row count — the one (broadcast, domain-bounded) cross
      join in this operator, re-expanded to ids by equi-joins.

    Output: one row per unordered pair,
    ``(a_id, b_id, a_val, b_val, dist)`` with a_id < b_id. Exact for
    any ``max_dist`` in [1, 6] (fan-out (2d+1)^2 (d+1) per probe row
    caps practical d).

    Scale: |index| = (d+1) rows/string, |probe| <= (2d+1)^2 (d+1)
    rows/string, both keyed by a hashed (L, seg, substring) chain —
    shuffle volume is linear in input; hot-group detection is one
    reduced aggregation; refinement levels touch only still-hot
    postings. At 100 TB the joins hash-partition like any equi-join
    and no task ever sees a cross product or an unsplit hot group.

    NOT a lazy transformation: the adaptive skew loop runs small
    eager actions at CALL time (one map-side-combinable hot-key count
    probe per refinement level, plus a ``take(1)`` termination
    check), and hot posting frames are checkpointed per level to keep
    the logical plan flat. With the default ``checkpoint="local"``
    those snapshots live on executor local disk and are
    NON-RECOMPUTABLE — an executor loss mid-query fails the job
    instead of recomputing lineage (fine for interactive/short jobs).
    For long-running production jobs pass ``checkpoint="reliable"``
    to persist level snapshots to the fault-tolerant checkpoint
    directory instead (requires
    ``spark.sparkContext.setCheckpointDir(...)``; costs two
    HDFS/object-store writes per refinement level — the level's
    posting snapshot, linear in that level's input, and the
    still-hot subset).
    """
    if checkpoint not in ("local", "reliable"):
        raise ValueError("checkpoint must be 'local' or 'reliable'")
    if not 1 <= max_dist <= 6:
        raise ValueError("max_dist must be in [1, 6]")
    if hot_product < 1 or refine_levels < 0 or salt_buckets < 1:
        raise ValueError("hot_product/refine_levels/salt_buckets invalid")
    d = max_dist
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(str_col).alias("__s"),
        F.length(str_col).alias("__L"),
    ).filter(F.col("__s").isNotNull())

    cand = _edit_candidates(
        base, d, hot_product, refine_levels, salt_buckets, checkpoint
    )

    # short-string side channel (length <= d: segmentation impossible;
    # any partner has length <= 2d). Works on DISTINCT VALUES so the
    # cross join is bounded by the <=2d-length string DOMAIN, then
    # re-expands to ids via equi-joins. Covers short-short and
    # short-main pairs; main-main pairs never enter (both sides per
    # pair have length >= d+1 > d... one side here is always <= d).
    shorts = base.filter(F.col("__L") <= d)
    partners = base.filter(F.col("__L") <= 2 * d)
    vpairs = (
        partners.select(F.col("__s").alias("__v"))
        .distinct()
        .crossJoin(
            F.broadcast(shorts.select(F.col("__s").alias("__u")).distinct())
        )
        .filter(F.levenshtein("__u", "__v", d) >= 0)
    )
    short_raw = (
        shorts.select(
            F.col("__id").alias("a_id"),
            F.col("__s").alias("__u"),
        )
        .join(vpairs, "__u")
        .join(
            partners.select(
                F.col("__id").alias("b_id"),
                F.col("__s").alias("__v"),
            ),
            "__v",
        )
        .filter(F.col("a_id") != F.col("b_id"))
    )
    short_cand = short_raw.select(
        F.least(F.col("a_id"), F.col("b_id")).alias("a_id"),
        F.greatest(F.col("a_id"), F.col("b_id")).alias("b_id"),
    )

    # dedup BEFORE the exact verify: a true pair reaches the union via
    # many routes (one per matching (segment, shift) per refinement
    # level — measured ~17x on low-entropy corpora), and a shuffled
    # row costs ~1-2 µs while a thresholded levenshtein costs ~10-15,
    # so one dropDuplicates shuffle on the candidate ids and a single
    # verify per unique pair strictly beats verify-per-route (and
    # makes a post-verify distinct unnecessary). The dedup exchange
    # carries ONLY (a_id, b_id) — candidates never ship the strings
    # (round-13, guide 2.3/8: every shuffle but the last moves a
    # lightweight proxy); the two keyed joins below re-attach each
    # side's string once per UNIQUE pair, then the thresholded
    # levenshtein verifies. levenshtein's threshold form early-exits
    # at distance > d (an O(d*len) band instead of the O(len^2) full
    # DP; returns -1 past the threshold, the exact distance within
    # it).
    names = base.select("__id", "__s")
    return (
        cand.unionByName(short_cand)
        .dropDuplicates(["a_id", "b_id"])
        .join(
            names.select(
                F.col("__id").alias("a_id"), F.col("__s").alias("a_s")
            ),
            "a_id",
        )
        .join(
            names.select(
                F.col("__id").alias("b_id"), F.col("__s").alias("b_s")
            ),
            "b_id",
        )
        .select(
            "a_id", "b_id",
            F.col("a_s").alias("a_val"),
            F.col("b_s").alias("b_val"),
            F.levenshtein("a_s", "b_s", max_dist).alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )
