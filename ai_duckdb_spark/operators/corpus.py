"""Training-corpus assembly operators (SURVEY.md §2.9 [D] north-star
scope, beyond the reference): deterministic hash sampling, token-budget
sequence packing, benchmark-contamination detection, and Gopher-style
quality rules. The ops a pipeline runs AFTER dedup to turn a cleaned
corpus into a training mix.

All four are pure column expressions / window + groupBy shapes — zero
Python in the row path — and deterministic in closed form so a SQL
oracle can recompute them independently.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import STOPWORDS, avg_token_length, token_count, tokens

# Deterministic sampling hash: a linear-congruential mix on the prime
# field GF(1000003). Closed-form integer arithmetic (BIGINT-safe:
# max intermediate ~1e10) so DuckDB reproduces it exactly — unlike
# xxhash64/murmur3 which are engine-internal. Swap for xxhash64 when
# cross-engine verification isn't needed; the distributional properties
# here are adequate for rate sampling, not cryptography.
_MIX_PRIME = 1_000_003
_MIX_MULT = 10_007
_MIX_ADD = 12_345


def sample_bucket(id_col: str = "doc_id", buckets: int = 1000) -> Column:
    """Deterministic pseudo-uniform bucket in [0, buckets)."""
    m = F.col(id_col) % _MIX_PRIME
    return ((m * _MIX_MULT + _MIX_ADD) % _MIX_PRIME) % buckets


def sample_bucket_sql(id_col: str = "doc_id", buckets: int = 1000) -> str:
    """DuckDB mirror of :func:`sample_bucket` (for oracle strings)."""
    return (
        f"((({id_col} % {_MIX_PRIME}) * {_MIX_MULT} + {_MIX_ADD})"
        f" % {_MIX_PRIME}) % {buckets}"
    )


def stratified_hash_sample(
    df: DataFrame, rates_by_lang: dict[str, float], id_col: str = "doc_id"
) -> DataFrame:
    """Per-language deterministic sampling at different rates — the
    corpus-mixing primitive (e.g. upsample low-resource languages).

    Row kept iff its hash bucket < rate*1000 for its language. Map-only
    (no shuffle): the decision is a per-row expression, so the filter
    rides the scan and composes with pushdown of other predicates.
    """
    rate_col = None
    for lang, rate in rates_by_lang.items():
        thresh = F.lit(int(rate * 1000))
        rate_col = (
            F.when(F.col("lang") == lang, thresh)
            if rate_col is None
            else rate_col.when(F.col("lang") == lang, thresh)
        )
    rate_col = rate_col.otherwise(F.lit(0))
    return df.filter(sample_bucket(id_col) < rate_col)


def pack_sequences(
    df: DataFrame, budget: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Assign docs to fixed token-budget packs (training-sequence
    chunking): per language, in deterministic doc-id order, pack_id =
    floor(exclusive-running-token-sum / budget).

    This is the distributed-friendly contiguous-chunk variant of greedy
    sequence packing: one window shuffle keyed by language computes the
    running sum; the assignment itself is a per-row expression. (True
    bin-packing is order-dependent and serial; contiguous chunking is
    what large pipelines actually run because it needs no global state.)
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_tok = token_count(text_col)
    cum_before = F.coalesce(F.sum(n_tok).over(w), F.lit(0).cast("long"))
    return df.select(
        F.col(id_col),
        F.col("lang"),
        n_tok.alias("n_tokens"),
        F.floor(cum_before / budget).cast("long").alias("pack_id"),
    )


def contaminated_docs(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_common: int = 1,
) -> DataFrame:
    """Docs sharing >= ``min_common`` distinct word ``shingle_n``-grams
    with any OTHER document of the benchmark set — the decontamination
    check every training corpus runs against its eval benchmarks.

    Shape: distinct-shingle explode on both sides, equi-join on the
    shingle (the benchmark side is small by nature — broadcast), count
    distinct matching shingles per (corpus doc, benchmark doc). Returns
    (doc_id, n_matched_shingles, n_benchmark_docs_hit). Shingles are
    64-bit xxhash64 fingerprints of the token slice, never strings —
    the join/count needs only identity, and hashing removes the
    shingle-assembly CPU and shrinks the broadcast ~10× (collision
    bound documented at dedup.shingle_hashes_of_tokens).
    """
    from .dedup import shingle_hashes_of_tokens, tokenized

    # corpus side fans out before slice-hashing (tokenized handles both
    # the input-split fan-out and the materialized token array that keeps
    # the HOF lambda from re-splitting text per iteration)
    corpus_sh = tokenized(df, id_col, text_col).select(
        F.col("__id").alias("__cid"),
        F.explode(shingle_hashes_of_tokens(F.col("__toks"), shingle_n)).alias("__sh"),
    )
    bench_sh = tokenized(benchmark, id_col, text_col).select(
        F.col("__id").alias("__bid"),
        F.explode(shingle_hashes_of_tokens(F.col("__toks"), shingle_n)).alias("__sh"),
    )
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), "__sh")
        .filter(F.col("__cid") != F.col("__bid"))
        .groupBy("__cid", "__bid")
        .agg(F.countDistinct("__sh").alias("__n"))
        .filter(F.col("__n") >= min_common)
    )
    return hits.groupBy(F.col("__cid").alias(id_col)).agg(
        F.sum("__n").alias("n_matched_shingles"),
        F.countDistinct("__bid").alias("n_benchmark_docs_hit"),
    )


# PII patterns kept to the RE2 ∩ Java-regex common subset so the Spark
# plan and a DuckDB oracle compile the same automaton: no backrefs, no
# lookaround. Redaction is regexp_replace chains — pure JVM row path.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def scrub_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "clean_text"
) -> DataFrame:
    """Redact emails / phone numbers / IPv4 addresses, appending per-kind
    match counts — the pre-training privacy pass. Map-only (zero
    shuffles, zero Python): one chained regexp_replace per pattern, and
    the per-kind counts are derived from LITERAL sentinel occurrences in
    the cleaned text instead of a second regex pass per pattern — 3 regex
    traversals instead of 6, which at 100 TB halves the dominant CPU of
    the privacy pass (measured sf1.0 entry 1.5 s -> 1.1 s).

    Semantics: n_kind counts redactions PERFORMED — pattern k applied to
    the text as the earlier replaces left it — which is the redaction
    ledger a privacy pass actually needs. This differs from counting
    raw-text matches only when a match of one kind swallows another
    kind's match (e.g. a phone-shaped local-part inside an email); the
    paired oracle uses the same sequential formula, and the hypothesis
    property test pins both against an independent re.subn chain.

    Exactness of the literal count (n_kind = occ(clean, sentinel) -
    occ(raw, sentinel), occ by literal replace-and-length-delta):
      * every replacement inserts the exact sentinel string, so inserted
        occurrences == match count;
      * a sentinel occurrence can never SPAN an insertion boundary: any
        occurrence overlapping inserted text must start at the
        insertion's first character ('<'), i.e. be the insertion itself;
      * pre-existing sentinels in the raw text survive the replaces
        unchanged (none of the patterns can match a substring of
        '<EMAIL>'/'<PHONE>'/'<IPV4>' — emails need '@', phones/IPv4 need
        digits) and are subtracted by the occ(raw, ·) term;
      * cross-kind interference is impossible for the same reason — no
        sentinel contains a digit or '@', so later patterns never match
        inside an earlier insertion.
    """
    cleaned = F.col(text_col)
    for kind, pat in PII_PATTERNS.items():
        cleaned = F.regexp_replace(cleaned, pat, f"<{kind.upper()}>")
    out = df.withColumn(out_col, cleaned)

    def occ(col: Column, s: str) -> Column:
        return (F.length(col) - F.length(F.replace(col, F.lit(s)))) / len(s)

    for kind in PII_PATTERNS:
        sentinel = f"<{kind.upper()}>"
        out = out.withColumn(
            f"n_{kind}",
            (occ(F.col(out_col), sentinel) - occ(F.col(text_col), sentinel))
            .cast("int"),
        )
    return out


def rebalance_by_source(
    df: DataFrame,
    cap_permille: int = 300,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cap any single source at ``cap_permille``/1000 of the corpus by
    deterministic downsampling — the domain-mix rebalancing step of a
    web-scale corpus (no source should dominate the training mix).

    Keep rate per source (in thousandths, integer arithmetic end to end
    so an oracle reproduces it exactly):
        rate_s = min(1000, cap_permille * N_total / N_s)
    and a row survives iff its closed-form hash bucket < rate_s. Two
    jobs: a per-source count (tiny aggregate, broadcast back) and the
    map-only keep decision — no shuffle of the corpus itself.
    """
    counts = df.groupBy(source_col).agg(F.count("*").alias("__n_s"))
    total = counts.agg(F.sum("__n_s").alias("__n"))
    rates = counts.crossJoin(F.broadcast(total)).select(
        source_col,
        F.least(
            F.lit(1000).cast("long"),
            # floor explicitly: Spark's double→long cast truncates but
            # other engines round, so the oracle mirrors FLOOR(...)
            F.floor(F.lit(cap_permille) * F.col("__n") / F.col("__n_s")).cast("long"),
        ).alias("__rate"),
    )
    return df.join(F.broadcast(rates), source_col).filter(
        sample_bucket(id_col, buckets=1000) < F.col("__rate")
    )


def temperature_resample(
    df: DataFrame,
    target_total: int,
    lang_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based multilingual resampling (the mT5/XLM-R mixing
    scheme at T=2, i.e. sampling probability ∝ sqrt(corpus share)):
    low-resource languages are UPSAMPLED (docs replicated), dominant
    ones downsampled, targeting ``target_total`` rows overall.

    Rates are derived with integer-safe arithmetic so an oracle
    reproduces them exactly: s_l = floor(sqrt(n_l)), and language l's
    keep-rate in permille is floor(1000 * target * s_l / (S * n_l)).
    A rate over 1000 means replication: every row gets rate div 1000
    full copies plus one extra iff its hash bucket < rate mod 1000 —
    deterministic, no RNG. Output carries a ``copy`` ordinal so
    downstream dedup-aware ops can distinguish replicas.

    Scale shape: the per-language count is a tiny aggregate broadcast
    back; replication is a map-side explode of a sequence column (rows
    expand at most ceil(rate/1000)×, no shuffle of the corpus).
    """
    counts = df.groupBy(lang_col).agg(F.count("*").alias("__n_l"))
    s_l = F.floor(F.sqrt(F.col("__n_l"))).cast("long")
    weights = counts.select(lang_col, "__n_l", s_l.alias("__s_l"))
    total_s = weights.agg(F.sum("__s_l").alias("__S"))
    rates = weights.crossJoin(F.broadcast(total_s)).select(
        lang_col,
        F.floor(
            F.lit(1000) * F.lit(target_total) * F.col("__s_l")
            / (F.col("__S") * F.col("__n_l"))
        )
        .cast("long")
        .alias("__rate"),
    )
    with_rate = df.join(F.broadcast(rates), lang_col)
    full_copies = (F.col("__rate") / 1000).cast("long")
    frac = F.col("__rate") % 1000
    expanded = with_rate.withColumn(
        "copy", F.explode(F.sequence(F.lit(0), full_copies))
    )
    # copy ordinals 0..full_copies-1 always survive; the last ordinal is
    # the fractional copy, kept iff the row's bucket clears rate%1000
    return expanded.filter(
        (F.col("copy") < full_copies)
        | (sample_bucket(id_col, buckets=1000) < frac)
    ).drop("__rate")


def gopher_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style (Rae et al. 2021) per-document quality rule flags.

    Deterministic thresholds on exact integer-ratio features (IEEE
    division of ints — bit-identical cross-engine, so comparisons are
    oracle-safe): token count in [5, 10000], mean token length in
    [2, 12], stopword-occurrence ratio <= 0.6, distinct-token ratio
    > 0.2. ``passes_all`` is the corpus-filter verdict.
    """
    n_tok = token_count(text_col)
    avg_len = avg_token_length(text_col)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_ratio = (
        F.size(F.filter(tokens(text_col), lambda t: F.array_contains(stop_arr, t))).cast(
            "double"
        )
        / F.size(tokens(text_col))
    )
    distinct_ratio = F.size(F.array_distinct(tokens(text_col))).cast("double") / F.size(
        tokens(text_col)
    )
    ok_count = (n_tok >= 5) & (n_tok <= 10_000)
    ok_len = (avg_len >= 2.0) & (avg_len <= 12.0)
    ok_stop = stop_ratio <= 0.6
    ok_rep = distinct_ratio > 0.2
    return df.select(
        "doc_id",
        "lang",
        ok_count.alias("ok_token_count"),
        ok_len.alias("ok_avg_token_len"),
        ok_stop.alias("ok_stopword_ratio"),
        ok_rep.alias("ok_repetition"),
        (ok_count & ok_len & ok_stop & ok_rep).alias("passes_all"),
    )


def dsir_importance_select(
    df: DataFrame,
    target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 100,
    n_buckets: int | None = None,
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    how target-like its n-gram distribution is, then keep the top ``k``.
    ``target`` is a boolean column marking the in-distribution slice
    (e.g. ``F.col("lang") == "en"``); features are word BIGRAMS.

    Instead of the paper's log-ratio of hashed-multinomial likelihoods
    (float folds diverge cross-engine), the score keeps the repo's
    integer-exactness discipline: per document, ``sum_target`` / ``sum_raw``
    are the INTEGER sums of corpus-wide target / overall frequencies of
    the doc's bigram occurrences, and ``importance`` is the ONE IEEE
    division sum_target/sum_raw — monotone in the average target-share
    of the doc's grams, bit-identical cross-engine. Deterministic
    (importance DESC, id ASC) tiebreak.

    Scale shape (100 TB): ONE groupBy(gram) shuffle builds both counts
    (conditional agg, map-side partials); with ``n_buckets`` set the
    gram key is xxhash64-bucketed so the count table is fixed-size and
    BROADCASTS back (the paper's hashed features — engine-internal hash,
    so that variant is rows-only); with exact grams (oracle path) the
    join back is a plain shuffle join and the per-doc rollup benefits
    from explode contiguity. Top-k is TakeOrderedAndProject — no global
    sort."""
    toks = F.split(F.col(text_col), " ")
    sz = F.size(toks)
    grams = F.when(
        sz >= 2,
        F.zip_with(
            F.slice(toks, 1, sz - 1),
            F.slice(toks, 2, sz - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # Widen a narrow scan BEFORE the zip_with gram tree (stage-width
    # class, session.widen_narrow_scan): project the raw columns first so
    # the repartition moves (id, flag, text) rows, then build grams in the
    # post-exchange stage. Conditional — inert on a many-split scan.
    # Measured sf1.0: 4.9 s -> 1.9 s (1.8x vs DuckDB).
    from ..session import widen_narrow_scan

    base = widen_narrow_scan(
        df.select(F.col(id_col), target.alias("__target"), F.col(text_col))
    ).select(F.col(id_col), "__target", grams.alias("__grams"))
    exploded = base.select(
        F.col(id_col), "__target", F.explode("__grams").alias("__gram")
    )
    key = (
        (F.xxhash64("__gram") % n_buckets).alias("__key")
        if n_buckets
        else F.col("__gram").alias("__key")
    )
    keyed = exploded.select(F.col(id_col), "__target", key)
    counts = keyed.groupBy("__key").agg(
        F.sum(F.when(F.col("__target"), 1).otherwise(0)).cast("long").alias("__t"),
        F.count("*").cast("long").alias("__r"),
    )
    if n_buckets:
        counts = F.broadcast(counts)
    scored = (
        keyed.join(counts, "__key")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum("__t").cast("long").alias("sum_target"),
            F.sum("__r").cast("long").alias("sum_raw"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            "sum_target",
            "sum_raw",
            (F.col("sum_target") / F.col("sum_raw")).alias("importance"),
        )
    )
    return scored.orderBy(F.desc("importance"), F.asc(id_col)).limit(k)
