"""Text-analysis column functions for the training-data pipeline
surface (BASELINE.json north star): tokenization, shingling, quality
metrics, fingerprinting.

All pure Column expressions (JVM-side, codegen-friendly) — no Python
UDFs in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "y", "en"),
    "de": ("der", "die", "und", "ist", "das"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def stopword_hits(text: Column, words) -> Column:
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(text, F.lit(pattern), 1)).cast("long")


def shingles_from_tokens(tokens_col: str, n: int = 3) -> Column:
    """Word n-gram shingles from a tokens array column (by name).

    Shingle i joins words[i-1 .. i+n-2] (0-based Spark arrays) with a
    single space; empty array when the document has < n words."""
    joined = ", ".join(f"{tokens_col}[i-1+{k}]" for k in range(n))
    return F.expr(
        f"CASE WHEN size({tokens_col}) >= {n} THEN "
        f"transform(sequence(1, size({tokens_col}) - {n - 1}), "
        f"i -> concat_ws(' ', {joined})) "
        f"ELSE array() END"
    )


def alpha_ratio(text: Column) -> Column:
    alpha = F.length(F.regexp_replace(text, "[^a-z]", "")).cast("double")
    return alpha / F.length(text).cast("double")


def quality_score(text: Column, stop_lang: str = "en") -> Column:
    """0..1 quality heuristic: stopword density + alphabetic density."""
    stop_ratio = stopword_hits(text, STOPWORDS[stop_lang]).cast("double") / token_count(text)
    return stop_ratio * 0.5 + alpha_ratio(text) * 0.5


def fingerprint(text: Column, length: int = 16) -> Column:
    """Stable digest of whitespace-normalized lowercased text."""
    normalized = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return F.substring(F.md5(F.encode(normalized, "UTF-8")), 1, length)


# GPT-2-style pre-tokenizer shape, restricted to ASCII classes that
# behave identically under Java regex (Spark) and RE2 (DuckDB): runs
# of letters, runs of digits, or runs of other non-space symbols.
BPE_ISH_PATTERN = r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+)"


def bpe_ish_tokens(text: Column) -> Column:
    """Subword-ish tokenization: splits letter/digit/symbol runs the
    way a BPE pre-tokenizer would before merges."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 1)


def bpe_ish_token_count(text: Column) -> Column:
    return F.size(bpe_ish_tokens(text)).cast("long")


def rolling_fingerprint(text_col: str, k: int = 8,
                        hash_fn: str = "xxhash64") -> Column:
    """Rolling-hash document fingerprint (winnowing-style): hash every
    k-char window, keep the MINIMUM — shift/edit-local changes leave
    most windows (and usually the min) intact, unlike a
    whole-document digest. Pure JVM expression: substring windows via
    sequence/transform + array_min; one pass, no shuffle.

    ``hash_fn``: ``"xxhash64"`` (default, the fast production tier)
    or ``"md5"`` (48-bit hex12 slice of the digest via the house conv
    idiom — bit-identical across engines, so the fingerprint is
    DuckDB value-oracle-checkable).

    Takes a column NAME (the expression is built as SQL text for the
    lambda-bound window index).
    """
    if hash_fn == "xxhash64":
        hexpr = "xxhash64(substring({s}, i, {k}))"
    elif hash_fn == "md5":
        hexpr = "CAST(conv(substring(md5(substring({s}, i, {k})), 1, 12), 16, 10) AS BIGINT)"
    else:
        raise ValueError("hash_fn must be 'xxhash64' or 'md5'")
    s = f"trim({text_col})"
    windows = F.expr(
        f"transform(sequence(1, greatest(length({s}) - {k} + 1, 1)), "
        f"i -> {hexpr.format(s=s, k=k)})"
    )
    return F.when(F.length(F.expr(s)) >= 1, F.array_min(windows))


def kgram_hashes(text_col: str, k: int = 8) -> Column:
    """Array of xxhash64 hashes of every k-char window of the trimmed
    text (the raw material of winnowing). Pure Column expression."""
    s = F.trim(F.col(text_col))
    n_h = F.greatest(F.length(s) - F.lit(k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n_h),
        lambda i: F.xxhash64(F.substring(s, i, F.lit(k))),
    )


def winnowed_fingerprints(text_col: str, k: int = 8, w: int = 4) -> Column:
    """Full winnowing fingerprint SET (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003, "Winnowing: local algorithms for document
    fingerprinting"): hash every k-char window with xxhash64, then
    select the minimum of each w-window of consecutive hashes; the
    distinct selected minima are the document's fingerprints.

    Guarantees (both driver-checked by the registry query
    ``rolling_fingerprint_invariants``):

    - **window coverage**: every w-window of consecutive k-gram hashes
      contributes at least one selected fingerprint;
    - **edit locality**: any substring of length >= w + k - 1 shared
      between two documents yields at least one shared fingerprint —
      so a prefix edit preserves fingerprints drawn from the unchanged
      suffix, unlike a whole-document digest.

    Pure Column expressions (sequence/transform/slice/array_min), one
    projection pass, no shuffle, no Python.
    """
    s = F.trim(F.col(text_col))
    hashes = kgram_hashes(text_col, k)
    n_w = F.greatest(F.size(hashes) - F.lit(w - 1), F.lit(1))
    selected = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_w),
            lambda j: F.array_min(F.slice(hashes, j, F.lit(w))),
        )
    )
    return F.when(F.length(s) >= 1, selected)


# --- PII redaction (training-data scrubbing) --------------------------------
# Conservative, deterministic regexes chosen to be portable between
# Spark's RE2-ish dialect and an ANSI-SQL oracle: no lookaround, no
# backreferences. Order matters: emails before bare domains, URLs
# before hostnames.

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"
# Phone shapes, SHAPE-ANCHORED so dates and thousands-separated
# amounts survive the scrub (an invoice corpus is full of both):
#   +<anything phone-ish>      explicit international prefix
#   (area) number              parenthesized area code
#   ddd-ddd-dddd               NANP-style (dates are 2-2-4 / 4-2-2)
#   d{1,2}-dddd-dddd           local long form (2-2345-6789)
#   7+ bare digits             907654321 / 9876543
# A naive [0-9 ().-]{5,} run would turn '15-02-2026' and '1.234.567'
# into <PHONE>.
PHONE_SHAPED_RE = (
    r"\+[0-9][0-9 ().-]{5,}[0-9]"
    r"|\([0-9]{1,4}\)[0-9 .-]{4,}[0-9]"
    r"|[0-9]{3}[ -][0-9]{3}[ -][0-9]{4}"
    r"|[0-9]{1,2}[ -][0-9]{4}[ -][0-9]{4}"
)
# Bare 7+ digit runs are phone-like ONLY when not glued to a
# separator: the captured one-char boundaries exclude [.,-]-adjacent
# runs, so '1234567.89' and '2024-1234567' keep their digits.
# Capture groups (not lookaround) so the DuckDB oracle (RE2 — no
# lookbehind) can express the identical rule.
# KNOWN FALSE-POSITIVE CLASS (recall-biased by design): a standalone
# unseparated 7+ digit amount ('total 1500000') is indistinguishable
# from a local phone number and IS redacted.
PHONE_BARE_RE = r"(^|[^0-9.,-])([0-9]{7,})($|[^0-9.,-])"


def redact_pii(text: Column,
               email_token: str = "<EMAIL>",
               url_token: str = "<URL>",
               phone_token: str = "<PHONE>") -> Column:
    """Replace emails, URLs and phone-number-shaped digit runs with
    placeholder tokens — the standard scrub step before a corpus goes
    into training. Pure Column expressions (five regexp_replace
    passes, whole-stage codegen), no Python in the hot path.

    The bare-digits rule runs TWICE: a match consumes its trailing
    boundary character, so of two digit runs separated by one
    boundary ('call 1234567 7654321') a single pass redacts only the
    odd-numbered runs. Pass one leaves no two adjacent unredacted
    runs, so pass two — where every leftover run now borders a
    replacement token — catches the rest."""
    out = F.regexp_replace(text, URL_RE, url_token)
    out = F.regexp_replace(out, EMAIL_RE, email_token)
    out = F.regexp_replace(out, PHONE_SHAPED_RE, phone_token)
    bare = f"$1{phone_token}$3"
    out = F.regexp_replace(out, PHONE_BARE_RE, bare)
    return F.regexp_replace(out, PHONE_BARE_RE, bare)


def pii_counts(text: Column) -> Column:
    """struct<n_emails,n_urls,n_phones> found in ``text`` — the audit
    twin of :func:`redact_pii` (count before you scrub).

    ``n_phones`` counts the tokens the scrub actually emits (length
    delta of stripping ``<PHONE>`` from the redacted text) so count
    and redaction can never disagree — a single-pass
    ``regexp_extract_all`` undercounts adjacent bare runs for the
    same boundary-consumption reason documented on
    :func:`redact_pii`. The counting redaction uses the scrub's own
    DEFAULT tokens (an earlier variant blanked email/url tokens to
    '', which changed the boundary class next to a removed email/URL
    and could disagree with the real scrub on inputs like
    'user@x.com1234567')."""
    def _n(pattern):
        return F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0))).cast("long")

    phone_token = "<PHONE>"
    redacted = redact_pii(text, phone_token=phone_token)
    n_phones = (
        (F.length(redacted) - F.length(F.replace(redacted, F.lit(phone_token), F.lit(""))))
        / F.lit(len(phone_token))
    ).cast("long")
    return F.struct(
        _n(EMAIL_RE).alias("n_emails"),
        _n(URL_RE).alias("n_urls"),
        n_phones.alias("n_phones"),
    )


def c4_filter_flags(
    tokens_col: str,
    min_words: int = 40,
    max_words: int = 100_000,
    mean_len_lo: float = 3.0,
    mean_len_hi: float = 10.0,
) -> Column:
    """C4-style document quality gate (Raffel et al. 2020, §2.2 — the
    length/shape rules; the repetition rules live in
    :func:`repetition_metrics`), word-level over a tokens array column
    (by name):

    - ``n_words`` in [min_words, max_words] (too-short pages are
      navigation stubs, too-long ones are logs/dumps);
    - ``mean_word_len`` in [mean_len_lo, mean_len_hi] (gibberish and
      minified blobs fall outside the natural-language band);
    - ``keep`` = conjunction of both flags.

    ``mean_word_len`` is an exact-integer character sum divided once
    as doubles (IEEE correctly-rounded, hence engine-portable — see
    module determinism notes). Pure array expressions, no shuffle.
    """
    w = F.col(tokens_col)
    n = F.size(w).cast("long")
    char_sum = F.aggregate(
        w, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x).cast("long")
    )
    mean_len = char_sum.cast("double") / n.cast("double")
    words_ok = (n >= min_words) & (n <= max_words)
    len_ok = (mean_len >= mean_len_lo) & (mean_len <= mean_len_hi)
    return F.struct(
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        words_ok.alias("words_ok"),
        len_ok.alias("mean_len_ok"),
        (words_ok & len_ok).alias("keep"),
    )


def repetition_metrics(tokens_col: str, shingles_col: str) -> Column:
    """Gopher-style intra-document repetition filters (Rae et al.
    2021, §A1.1 — the "repetition removal" rules every pretraining
    corpus pass applies), word-level over a tokens array column and a
    word-2-gram shingles column (both by name):

    - ``top_token_frac``: occurrences of the most frequent token /
      total tokens (a page dominated by one token is boilerplate);
    - ``dup_2gram_frac``: fraction of 2-grams that are repeats of an
      earlier 2-gram (template/spam pages repeat phrases).

    Array higher-order functions only — per-document O(distinct·n)
    with no shuffle and no Python; documents are short relative to
    partitions, so this stays embarrassingly parallel at any scale.
    """
    w = F.col(tokens_col)
    g = F.col(shingles_col)
    n = F.size(w)
    top = F.array_max(
        F.transform(
            F.array_distinct(w),
            lambda t: F.size(F.filter(w, lambda x: x == t)),
        )
    )
    n_g = F.size(g)
    dup_g = n_g - F.size(F.array_distinct(g))
    return F.struct(
        n.cast("long").alias("n_tokens"),
        (top.cast("double") / n.cast("double")).alias("top_token_frac"),
        F.when(n_g > 0, dup_g.cast("double") / n_g.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("dup_2gram_frac"),
    )
