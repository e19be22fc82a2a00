"""Text analysis operators (SURVEY.md §2.9 X8 [D] — north-star scope):
token counting, quality scoring, heuristic language ID, document
fingerprinting. All built-in column expressions (split / filter /
aggregate / transform) — zero Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny English-ish stopword list used by the quality/lang-id heuristics.
#: Fixed here so the Spark plan and any SQL oracle share one definition.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

FINGERPRINT_PRIME = 1_000_000_007


def tokens(text_col: str = "text") -> Column:
    return F.split(F.col(text_col), " ")


def token_count(text_col: str = "text") -> Column:
    return F.size(tokens(text_col)).cast("long")


def stopword_token_ratio(text_col: str = "text") -> Column:
    """Share of token OCCURRENCES that are stopwords (not distinct)."""
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(tokens(text_col), lambda t: F.array_contains(stop_arr, t)))
    return n_stop.cast("double") / F.size(tokens(text_col))


def avg_token_length(text_col: str = "text") -> Column:
    total = F.aggregate(
        tokens(text_col), F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return total.cast("double") / F.size(tokens(text_col))


def quality_features(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document quality features + a composite score.

    Score heuristic (deterministic, documented so the oracle can mirror
    it): docs with mid-range length, non-degenerate vocabulary, and a
    plausible stopword ratio score higher.
    """
    n_tokens = token_count(text_col)
    n_distinct = F.size(F.array_distinct(tokens(text_col))).cast("long")
    stop_ratio = stopword_token_ratio(text_col)
    avg_len = avg_token_length(text_col)
    vocab_ratio = n_distinct.cast("double") / n_tokens
    score = (
        F.when(F.col("n_tokens") < 5, 0.1).otherwise(0.5)
        + F.when((F.col("__stop_ratio") >= 0.05) & (F.col("__stop_ratio") <= 0.5), 0.25).otherwise(0.0)
        + F.when(F.col("__vocab_ratio") >= 0.3, 0.25).otherwise(0.0)
    )
    return (
        df.select(
            F.col(id_col),
            n_tokens.alias("n_tokens"),
            n_distinct.alias("n_distinct_tokens"),
            stop_ratio.alias("__stop_ratio"),
            avg_len.alias("avg_token_len"),
            vocab_ratio.alias("__vocab_ratio"),
        )
        .withColumn("quality_score", score)
        .withColumnRenamed("__stop_ratio", "stop_ratio")
        .withColumnRenamed("__vocab_ratio", "vocab_ratio")
    )


def token_rarity_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-frequency rarity scoring (the CCNet-style quality signal,
    in exact-integer form): each doc scored by the mean corpus frequency
    of its tokens — low mean = rare vocabulary, high mean = boilerplate.
    A language-model perplexity proxy that needs NO model shipping and
    stays bit-exact cross-engine: the score is one IEEE division of an
    exact BIGINT frequency sum by an exact token count (log-domain
    scoring would lose hash-exactness to libm differences).

    Two shuffles: groupBy token builds the frequency table, and the
    token-keyed join back reuses that partitioning; then one groupBy doc.
    Linear in corpus tokens — no per-doc model state, so it runs as the
    same map/agg shapes at 100 TB."""
    tok = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("t"),
    )
    counts = tok.groupBy("t").agg(F.count("*").alias("c"))
    return (
        tok.join(counts, "t")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("c").alias("freq_sum"),
            (F.sum("c").cast("double") / F.count("*")).alias("mean_token_freq"),
        )
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_mod: int = 10,
    train_lt: int = 8,
) -> DataFrame:
    """Train-then-apply bigram language-model scoring (the CCNet-style
    quality filter as a real train/score pipeline, not just corpus
    frequency): bigram and context counts are TRAINED on the hash-split
    ``id % train_mod < train_lt`` (deterministic, engine-portable), then
    every held-out document is scored against that model. Scores stay
    exact-integer (matched bigrams, model count sums) plus one IEEE
    division for coverage — log-prob would lose cross-engine
    hash-exactness to libm, and the integer components carry the same
    ordering signal.

    Scale: one tokenize pass feeds train and score branches
    (localCheckpoint'd so the corpus is scanned once); the model lives
    as two key-partitioned relations joined on (w1,w2) / (w1) — never
    collected to the driver. At 100 TB the trained model itself is
    big-data (bigram vocabulary ~ billions): the joins shuffle by key,
    AQE broadcasts only if the measured model is small. A production
    deployment would prune the model to top-K bigrams or a count-min
    approximation before serving; this operator is the exact tier those
    prune against."""
    # Widen a narrow scan before the tokenize/explode subtree feeding
    # the checkpoint (the stage-width class — see
    # session.widen_narrow_scan); conditional, inert on a many-split
    # production scan. Measured sf1.0: 5.1 s -> 2.3 s (2.4x vs DuckDB).
    from ..session import widen_narrow_scan

    toks = widen_narrow_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("l"),
        (F.col(id_col) % train_mod < train_lt).alias("is_train"),
    )
    bigr = toks.select(
        "doc_id",
        "is_train",
        F.explode(
            F.expr(
                "transform(slice(l, 1, size(l) - 1),"
                " (x, i) -> struct(x AS w1, element_at(l, i + 2) AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "is_train", "bg.w1", "bg.w2")
    bigr = bigr.localCheckpoint(eager=False)
    train = bigr.filter(F.col("is_train"))
    big_c = train.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    ctx_c = train.groupBy("w1").agg(F.count("*").alias("c1"))
    return (
        bigr.filter(~F.col("is_train"))
        .join(big_c, ["w1", "w2"], "left")
        .join(ctx_c, ["w1"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.count("c2").alias("matched_bigrams"),
            F.coalesce(F.sum("c2"), F.lit(0)).cast("bigint").alias("sum_bigram_count"),
            F.coalesce(F.sum("c1"), F.lit(0)).cast("bigint").alias("sum_context_count"),
            (F.count("c2").cast("double") / F.count("*")).alias("bigram_coverage"),
        )
    )


def predicted_lang(text_col: str = "text") -> Column:
    """Heuristic language ID.

    Rule (deterministic, SQL-mirrorable): CJK codepoints → zh; else a
    stopword-occurrence ratio ≥ 5% → en; else unknown. A char-n-gram
    profile model would drop in here behind the same column contract.
    """
    has_cjk = F.col(text_col).rlike("[\\u4e00-\\u9fff]")
    return (
        F.when(has_cjk, "zh")
        .when(stopword_token_ratio(text_col) >= 0.05, "en")
        .otherwise("unknown")
    )


def bag_fingerprint(text_col: str = "text") -> Column:
    """Order-insensitive document signature (BIGINT).

    Sum over tokens of ascii(first char) * length(token) — commutative,
    so engines may reduce in any order and still agree. Collision-prone
    by design tradeoff; pair with n_distinct for triage.
    """
    return F.aggregate(
        tokens(text_col),
        F.lit(0).cast("long"),
        lambda acc, t: acc + (F.ascii(t) * F.length(t)).cast("long"),
    )


def repetition_metrics(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style (Rae et al. 2021 §A1.1) per-document repetition
    metrics over word bigrams: the fraction of the document covered by
    its single most frequent bigram, and the fraction of bigram
    occurrences that are repeats of an earlier one.

    All ratios are integer/integer divisions (bit-identical
    cross-engine). Shape: MAP-ONLY — the metrics are per-document, so
    nothing ever needs to leave the row: bigrams are (tok, tok) structs
    built by one zip_with of two slices (no concat, no hash, no
    collision bound), the duplicate count is size - size(array_distinct),
    and the top-bigram multiplicity is the longest run in the SORTED
    bigram array, found by one aggregate fold. Zero shuffles at any
    scale (the earlier explode + (doc, bigram) groupBy form moved
    corpus x bigram rows through a shuffle for a per-doc answer).
    Docs shorter than 2 tokens have no bigrams and report zero
    fractions.
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    grams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.xxhash64(a, b),
    )
    # Widen a narrow scan before the per-doc zip_with/sort tree — same
    # stage-width class as gram_hash_runs: conditional, inert on a
    # many-split production scan. Measured sf1.0: 7.2 s -> 0.94 s (0.9x vs DuckDB).
    from ..session import widen_narrow_scan

    base = widen_narrow_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        n.alias("__n_tok"),
        F.array_sort(grams).alias("__sorted"),
    )
    total = F.size("__sorted")
    dups = total - F.size(F.array_distinct("__sorted"))
    # longest equal-run in the sorted array = max bigram multiplicity
    run0 = F.struct(
        F.lit(None).cast("long").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )
    top = F.aggregate(
        F.col("__sorted"),
        run0,
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    agg = base.select(
        F.col(id_col),
        "__n_tok",
        top.alias("__top"),
        dups.alias("__dups"),
        total.alias("__total"),
    )
    return agg.select(
        F.col(id_col),
        F.col("__n_tok").cast("long").alias("n_tokens"),
        F.col("__top").cast("long").alias("top_bigram_count"),
        F.when(F.col("__total") > 0, F.col("__top") * 2 / F.col("__n_tok"))
        .otherwise(F.lit(0.0))
        .alias("top_bigram_token_frac"),
        F.when(F.col("__total") > 0, F.col("__dups") / F.col("__total"))
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )


def vocabulary_stats(
    df: DataFrame, text_col: str = "text", group_col: str = "lang"
) -> DataFrame:
    """Corpus vocabulary accounting per group: vocabulary size, hapax
    legomena count (tokens appearing exactly once in the whole group),
    and total token occurrences — the health metrics a tokenizer-training
    run reads first.

    One explode + one (group, token) count shuffle + a tiny rollup;
    token postings never leave the executors.
    """
    toks = df.select(F.col(group_col).alias("grp"), F.explode(tokens(text_col)).alias("tok"))
    per_tok = toks.groupBy("grp", "tok").agg(F.count("*").alias("df_"))
    return (
        per_tok.groupBy("grp")
        .agg(
            F.count("*").alias("vocab_size"),
            F.sum(F.when(F.col("df_") == 1, 1).otherwise(0)).cast("long").alias("hapax_count"),
            F.sum("df_").cast("long").alias("total_tokens"),
        )
        .withColumnRenamed("grp", group_col)
    )


def rolling_fingerprint(text_col: str = "text") -> Column:
    """Order-SENSITIVE polynomial rolling hash mod a large prime.

    fold(acc = (acc * 31 + ascii(first) * len) % p). Distinguishes
    reordered documents that share a bag fingerprint. (Not offered to the
    SQL oracle: an ordered fold needs list_reduce-style semantics.)
    """
    word_val = lambda t: (F.ascii(t) * F.length(t)).cast("long")  # noqa: E731
    return F.aggregate(
        tokens(text_col),
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + word_val(t)) % FINGERPRINT_PRIME,
    )


def gram_hash_runs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, __h, __c): one row per DISTINCT word-n-gram per document,
    with its occurrence count — the shared corpus-gram relation under
    `boilerplate_ngram_stats` and `text_ngram_novelty`.

    Grams travel as xxhash64 fingerprints of their n token slots (the
    shuffle moves 8-byte longs, never gram strings; collisions are
    2^-64-scale and the tuple→hash map is order-sensitive). Each doc's
    gram-hash array is sorted and collapsed to (hash, count) runs with
    array HOFs — O(L log L) JVM work, no explode of repeats, and a
    downstream ``groupBy(__h).count()`` IS the document frequency (rows
    are doc-distinct; no countDistinct, no Expand). Zero-gram docs
    (fewer than n tokens) emit ONE sentinel run (__h=NULL, __c=0) so
    per-doc rollups cover every document without a closing corpus join;
    NULL never equi-matches a join key, so sentinels stay unmarked.
    Heavy lambdas are single F.expr strings and ``__starts`` is a named
    projection (see boilerplate_ngram_stats docstring for the measured
    plan-size rationale)."""
    # The hash is salted with n (first slot) so gram spaces of different
    # n are disjoint — a 2-gram and a 3-gram can never collide with each
    # other, halving the cross-entry collision surface. The
    # residual same-n collision risk stays ~2^-64 per pair; the oracle
    # pairing (exact string grams DuckDB-side) bounds usable SF for the
    # two consumers of this relation — noted in SCALE.md §"gram hashes".
    slots = ", ".join(f"element_at(__toks, i + {j})" for j in range(n))
    # sequence(1, k) DESCENDS when k < 1 (Spark semantics) — guard short docs
    gram_hashes = F.expr(
        f"CASE WHEN size(__toks) >= {n} THEN "
        f"  transform(sequence(1, size(__toks) - {n - 1}), i -> xxhash64({n}, {slots})) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    # Widen a narrow scan BEFORE the per-doc tokenize/hash/sort work:
    # I/O-sized splits serialize this CPU-dense subtree onto 2 cores at
    # single-file fixture scale (measured 3.8x on the sf1.0 leakage
    # matrix — see session.widen_narrow_scan); conditional, so inert on
    # a many-split production scan.
    from ..session import widen_narrow_scan

    base = widen_narrow_scan(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    ).select(F.col(id_col), gram_hashes.alias("__ghash"))
    # sorted-array run-length collapse: __starts = positions opening a
    # new run; zip each start with the next start for the run length.
    # greatest(i-1, 1) keeps element_at's probe positive under ANSI; the
    # size guard matters because sequence(1, 0) DESCENDS to [1, 0] on an
    # empty array and the filter would probe element_at(..., 0).
    starts = F.expr(
        "CASE WHEN size(__sorted) > 0 THEN "
        "  filter(sequence(1, size(__sorted)), "
        "   i -> i = 1 OR element_at(__sorted, i) != "
        "        element_at(__sorted, greatest(i - 1, 1))) "
        "ELSE CAST(array() AS ARRAY<INT>) END"
    )
    runs_col = F.expr(
        "CASE WHEN size(__sorted) > 0 THEN "
        "  zip_with("
        "    __starts, "
        "    concat(slice(__starts, 2, greatest(size(__starts) - 1, 0)), "
        "           array(size(__sorted) + 1)), "
        "    (a, b) -> named_struct('h', element_at(__sorted, a), "
        "                           'c', CAST(b - a AS BIGINT))) "
        "ELSE array(named_struct('h', CAST(NULL AS BIGINT), "
        "                        'c', CAST(0 AS BIGINT))) END"
    )
    return (
        base.select(F.col(id_col), F.array_sort("__ghash").alias("__sorted"))
        .select(F.col(id_col), F.col("__sorted"), starts.alias("__starts"))
        .select(F.col(id_col), F.explode(runs_col).alias("__r"))
        .select(F.col(id_col), F.col("__r.h").alias("__h"), F.col("__r.c").alias("__c"))
    )


def boilerplate_ngram_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_df: int = 4,
    broadcast_boiler: bool = True,
) -> DataFrame:
    """CORPUS-level boilerplate n-gram detection — the cross-document
    template-removal signal a pretraining pipeline runs next to the
    per-document Gopher rules (RefinedWeb "line-wise dedup" / CCNet
    boilerplate, adapted to n-gram granularity since the fixture docs
    are single-line): an n-gram is BOILERPLATE when it occurs in >=
    ``min_df`` distinct documents, and each document reports how much of
    it is covered by such shared grams.

    Returns (id, n_grams, n_boiler, n_boiler_distinct) — all integers,
    bit-identical cross-engine; consumers derive the boilerplate ratio
    as n_boiler/n_grams.

    Scale shape (100 TB; the v1 plan exploded every trigram STRING of
    every doc into a groupBy(gram).countDistinct(doc) shuffle, ~3 s at
    sf0.1):

    - Grams travel as **xxhash64 fingerprints** of their n token slots,
      never as strings — the one global shuffle moves 8-byte longs
      (same fingerprint discipline as the dedup tiers,
      operators/dedup.py; collisions are 2^-64-scale and the tuple→hash
      map is order-sensitive by construction).
    - Per-doc **run-length pre-aggregation before the explode**: the
      gram-hash array is sorted per row and collapsed to (hash, count)
      runs with pure array HOFs (O(L log L) JVM work, no Python), so
      the explode emits ONE row per *distinct* gram per doc. That row
      set serves both sides: ``groupBy(hash).count()`` IS the document
      frequency (rows are already doc-distinct — no countDistinct, no
      Expand), and ``sum(count)/count(*)`` per doc are the coverage
      stats (no second full-occurrence explode).
    - Join-back strategy is a measured choice: ``broadcast_boiler=
      False`` (the catalog entry's setting) pins a SHUFFLE-HASH left
      join — both sides hash-partitioned on the gram fingerprint, no
      sort, no memory assumption about the boilerplate set's size
      (robust on template-heavy/adversarial corpora), measured 1.0-1.2
      s vs 1.6-2.0 s for the broadcast shape at sf0.1 (the broadcast
      build is one more AQE job on a plan at the local job floor).
      ``True`` broadcasts the set instead — the right flip at cluster
      scale WHEN the template set is known heavy-hitter-small, since
      it spares the probe side's full-runs shuffle (the doc-frequency
      groupBy shuffles only map-side-combined partials either way).
    - The per-doc rollup shuffles ~1 row per matched doc (runs keep a
      document's grams contiguous, so partial aggregation collapses
      them before the exchange). No pairwise doc×doc work anywhere —
      corpus-frequency is the blocking structure.

    Measured at sf0.1 (local[32], warm): 2.8-3.2 s (v1 string explode)
    → 1.6 s (hash runs, DSL-built expressions) — at this fixture size execution is ~0.08 s and the remainder was
    plan construction + analysis, so the heavy lambdas are built as
    single ``F.expr`` strings (one SQL parse instead of hundreds of
    py4j Column calls) and ``__starts`` is a NAMED projection, not an
    expression the run-builder inlines three times (3x smaller
    analyzed tree; referenced >1x so CollapseProject keeps it — the
    same materialization discipline as the split() O(len^2) trap,
    search_q.py term-proximity, pinned in tests/test_plans.py).
    """
    # No repartition before tokenizing: the per-row work is LINEAR, so
    # input splits are the right parallelism at any real corpus size,
    # and on the single-file fixture an extra exchange costs two more
    # AQE jobs on a plan already at the local job-scheduling floor
    # (measured: ANY 2-job query pays 0.35-0.45 s on this host
    # regardless of compute).
    runs = gram_hash_runs(df, id_col, text_col, n)
    boiler = (
        runs.groupBy("__h")
        .agg(F.count("*").alias("__df"))  # runs are doc-distinct: count = doc freq
        .filter((F.col("__df") >= min_df) & F.col("__h").isNotNull())
        .select("__h", F.lit(1).alias("__b"))
    )
    if broadcast_boiler:
        boiler = F.broadcast(boiler)
    else:
        # pin shuffled-hash: AQE would otherwise convert the small side
        # to a broadcast mid-flight and re-pay the broadcast-build job
        boiler = boiler.hint("shuffle_hash")
    return (
        runs.join(boiler, "__h", "left")
        .groupBy(id_col)
        .agg(
            F.sum("__c").cast("long").alias("n_grams"),
            F.coalesce(F.sum(F.when(F.col("__b") == 1, F.col("__c"))), F.lit(0))
            .cast("long")
            .alias("n_boiler"),
            F.count("__b").cast("long").alias("n_boiler_distinct"),
        )
    )


def ngram_novelty_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Per-document n-gram NOVELTY against everything that precedes it
    in ``id_col`` order — the corpus-redundancy growth curve a
    pretraining pipeline reads to size its dedup ROI (when marginal
    novelty of newly ingested documents collapses, more data of that
    source stops adding information; cf. the duplication analyses in
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"). A gram is NOVEL in the document holding its corpus-wide
    minimum id.

    Output (id, n_grams, n_novel_distinct, n_novel_occurrences):
    integers, bit-identical cross-engine.

    Scale shape: identical topology to `boilerplate_ngram_stats` —
    per-doc run-length rows from :func:`gram_hash_runs`, ONE
    groupBy(hash) shuffle computing min(id) (map-side partial min), a
    pinned shuffle-hash join keyed on the gram fingerprint, one per-doc
    rollup. Sort-free, countDistinct-free, string-free shuffles, no
    doc×doc pairs. The minimum-id rule makes "first occurrence" exact
    and order-free (no window over an id ordering, which would
    single-partition at scale)."""
    runs = gram_hash_runs(df, id_col, text_col, n)
    firsts = (
        runs.groupBy("__h")
        .agg(F.min(id_col).alias("__first_id"))
        .filter(F.col("__h").isNotNull())
        .hint("shuffle_hash")
    )
    return (
        runs.join(firsts, "__h", "left")
        .groupBy(id_col)
        .agg(
            F.sum("__c").cast("long").alias("n_grams"),
            F.count(F.when(F.col("__first_id") == F.col(id_col), 1))
            .cast("long")
            .alias("n_novel_distinct"),
            F.coalesce(
                F.sum(F.when(F.col("__first_id") == F.col(id_col), F.col("__c"))),
                F.lit(0),
            )
            .cast("long")
            .alias("n_novel_occurrences"),
        )
    )


def stratified_hash_sample_stats(
    df: DataFrame,
    strata_cols: list[str],
    key: Column,
    rates: dict[str, str],
    rate_col: str = "lang",
    default_gate: str = "10",
) -> DataFrame:
    """Deterministic stratified sampling accounting: per stratum, how
    many rows a content-hash gate keeps at that stratum's rate — the
    data-mixture subsampling step (downsample over-represented
    languages/sources, keep the tail) done the reproducible way.

    ``rates`` maps a ``rate_col`` value to a 2-hex-digit md5 prefix
    bound: keep when ``substr(md5(key), 1, 2) < bound`` (bound '08' =
    8/256 ≈ 3.1%). Content-hash gating — unlike seeded ``sample()`` —
    draws the SAME row set under any partitioning, engine, or retry
    (see sampled_lineitem_stats), and md5 is bit-identical across Spark
    and DuckDB so the whole accounting is oracle-exact. One scan, the
    gate and stratum key are map-side, one small groupBy."""
    bound = F.lit(default_gate)
    for value, gate in rates.items():
        bound = F.when(F.col(rate_col) == value, F.lit(gate)).otherwise(bound)
    kept = F.substring(F.md5(key), 1, 2) < bound
    return (
        df.groupBy(*strata_cols)
        .agg(
            F.count("*").alias("n_total"),
            F.count(F.when(kept, 1)).cast("long").alias("n_kept"),
        )
        .orderBy(*strata_cols)
    )

def _leakage_counts(
    df: DataFrame, source_col: str, text_col: str, n: int
) -> DataFrame:
    """The (src1, src2, cnt) tagged-union tally under
    ``source_leakage_matrix`` — src2 NULL rows are per-source marginal
    gram counts, non-NULL rows are shared-gram pair counts. Split out so
    tests can gate the heavy subtree's plan shape (one gram-run explode,
    one gram exchange, one tagged-union explode, one final exchange)
    independently of the materialization above it."""
    runs = gram_hash_runs(
        df.select(F.col(source_col).alias("sid"), F.col(text_col).alias("text")),
        id_col="sid",
        text_col="text",
        n=n,
    )
    by_gram = (
        runs.where(F.col("__h").isNotNull())
        .groupBy("__h")
        .agg(F.sort_array(F.collect_set("sid")).alias("ss"))
    )
    tagged = by_gram.select(
        F.explode(
            F.expr(
                "concat("
                "  transform(ss, s -> named_struct("
                "    'src1', s, 'src2', CAST(NULL AS STRING))),"
                "  flatten(transform(ss, (a, i) -> transform("
                "    slice(ss, i + 2, greatest(size(ss) - i - 1, 0)),"
                "    b -> named_struct('src1', a, 'src2', b)))))"
            )
        ).alias("t")
    )
    return tagged.groupBy(
        F.col("t.src1").alias("src1"), F.col("t.src2").alias("src2")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def source_leakage_matrix(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Cross-source n-gram leakage matrix: for every pair of sources,
    the number of DISTINCT word-n-grams both contain, each source's
    distinct-gram count, and the gram-set Jaccard — ordered by shared
    count, cut to ``top_k`` pairs. The contamination audit run before
    declaring two corpus sources independent (train/eval splits,
    benchmark leakage — cf. the C4/benchmark-overlap audits of Dodge et
    al. 2021 and the dedup analyses of Lee et al. 2022).

    Scale design: grams ride as xxhash64 longs via ``gram_hash_runs``;
    ONE groupBy(gram) collects each gram's source set (bounded by
    |sources|, never |docs|); one explode emits pair tallies AND
    singleton marginal tallies as a tagged union (src2 NULL marks a
    marginal) into ONE final groupBy(src1, src2), and that
    <= |sources|^2-row tally is MATERIALIZED (localCheckpoint) before
    its three consumers (pair cut, two marginal decorations) — the
    basket multi-consumer lesson applied at both levels: the heavy
    tokenize/hash/explode subtree runs exactly once, and the gram
    exchange below it is additionally canonical-reused. Decoration
    broadcasts the top_k-row cut, never the |sources|-sized marginal
    relation. Collision bound: same 2^-64 xxhash64-vs-exact-oracle
    note as the other gram_hash_runs consumers.

    Scale note: an earlier sf1.0 8x gap was NOT
    this shape — staged decomposition acquitted the collect_set/
    tagged-explode (restructures to per-set counts or a flat self-join
    moved nothing) and convicted the 2-split scan serializing the gram
    subtree onto 2 cores; gram_hash_runs now widens narrow scans
    (session.widen_narrow_scan) and the entry runs 2.2 s / 1.5x at
    sf1.0 (SCALE.md §"the leakage-matrix plan gap was scan width")."""
    # Materialize the <= |sources|^2-row tally ONCE: without the
    # checkpoint, Catalyst pushes each consumer's src2-NULL filter below
    # the final aggregation and the exchange, making the two agg
    # subtrees non-canonical — the tagged-union explode then re-runs
    # per consumer (the gram exchange itself was still reused, so only
    # the reduce pass doubled; measured in the executed plan: 2
    # explodes, 1 ReusedExchange). A tiny aggregate shared by multiple
    # consumers is exactly SCALE.md's "materialize or restructure" case.
    counts = _leakage_counts(df, source_col, text_col, n).localCheckpoint(eager=False)
    top = (
        counts.where(F.col("src2").isNotNull())
        .select("src1", "src2", F.col("cnt").alias("shared_grams"))
        .orderBy(F.desc("shared_grams"), "src1", "src2")
        .limit(top_k)
    )
    m = counts.where(F.col("src2").isNull()).select(
        F.col("src1").alias("__s"), F.col("cnt").alias("__n")
    )
    m1 = m.select(F.col("__s").alias("src1"), F.col("__n").alias("n_grams1"))
    m2 = m.select(F.col("__s").alias("src2"), F.col("__n").alias("n_grams2"))
    jac = F.col("shared_grams").cast("double") / (
        F.col("n_grams1") + F.col("n_grams2") - F.col("shared_grams")
    ).cast("double")
    dec = F.broadcast(top).join(m1, "src1")
    return (
        F.broadcast(dec)
        .join(m2, "src2")
        .select(
            "src1", "src2", "shared_grams", "n_grams1", "n_grams2",
            jac.alias("jaccard"),
        )
        .orderBy(F.desc("shared_grams"), "src1", "src2")
    )
