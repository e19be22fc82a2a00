"""Tokenizer-training queries (X8 extension — the corpus→tokenizer
stage of an LLM data pipeline): BPE pair statistics, the learned merge
sequence, and token-budget curriculum selection.

Reference scope: the reference's SELECT surface (doc.py:183-188) has no
tokenizer tier — these are part of the training-data-pipeline mandate
(brief: "operations a large-scale training-data pipeline would need").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import bpe
from ..tables import load
from .caches import session_memo
from .catalog import register


@register(
    "bpe_pair_counts",
    oracle="""
    WITH w AS (
        SELECT word, count(*) AS wc
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE len(word) > 0
        GROUP BY word
    ),
    s AS (SELECT wc, string_split(word, '') AS chars FROM w),
    p AS (
        SELECT wc,
               unnest(list_transform(range(1, len(chars)), i -> chars[i]))     AS left_sym,
               unnest(list_transform(range(1, len(chars)), i -> chars[i + 1])) AS right_sym
        FROM s
    )
    SELECT left_sym, right_sym, CAST(sum(wc) AS BIGINT) AS pair_count
    FROM p
    GROUP BY 1, 2
    ORDER BY pair_count DESC, left_sym, right_sym
    LIMIT 20
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statistics pass of one BPE merge iteration (Sennrich et al.
    2016): frequency-weighted adjacent-character pair counts over the
    corpus word histogram, top 20.

    Scale shape: the corpus-size work is ONE word-count shuffle; the
    pair explosion and count run on the |vocab|-row histogram — how
    production BPE trainers scale (operators/bpe.py). All counts
    integer-exact; ORDER BY carries the full (count, left, right)
    tiebreak so LIMIT is deterministic."""
    docs = load(spark, sf_dir, "documents")
    words = bpe.with_symbols(bpe.word_histogram(docs))
    return (
        bpe.pair_counts(words)
        .select(
            F.col("left").alias("left_sym"),
            F.col("right").alias("right_sym"),
            F.col("pair_count").cast("long").alias("pair_count"),
        )
        .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
        .limit(20)
    )


@register("bpe_learned_merges", oracle=None)
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE merge-learning loop (operators/bpe.py learn_merges): 8
    merge rules learned from the corpus word histogram, in learned
    order. Rows-only: the loop is iterative (argmax → fold → recount,
    like k-means); pytest pins the full rule sequence against a
    pure-Python reference BPE trainer on the same fixture
    (tests/test_operators.py TestBpe)."""
    rules = shared_merge_rules(spark, sf_dir)
    from ..session import local_relation

    return local_relation(
        spark,
        [(i + 1, l, r, m, c) for i, (l, r, m, c) in enumerate(rules)],
        "merge_rank int, left_sym string, right_sym string, merged string, pair_count long",
    )


@register(
    "corpus_curriculum_budget",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tokens,
               sum(len(string_split(text, ' '))) OVER (
                   ORDER BY n_chars DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM documents
    )
    SELECT lang,
           count(*)                       AS n_selected,
           CAST(sum(n_tokens) AS BIGINT)  AS tokens_selected,
           CAST(max(cum_tokens) AS BIGINT) AS max_cum_at_selection
    FROM scored
    WHERE cum_tokens <= 20000
    GROUP BY lang
    ORDER BY lang
    """,
)
def corpus_curriculum_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curriculum selection: rank the corpus by a priority
    key (longest-document-first here; any deterministic score slots in)
    and admit documents until a global token budget (20k) is spent —
    the "best data first under a budget" selection every curriculum /
    data-pruning recipe ends with.

    Scale shape: a global running sum over (n_chars DESC, doc_id) —
    computed DISTRIBUTED via operators/prefix.py ordered_cumsum (range
    repartition + per-partition window + broadcast offsets; no
    single-partition window) over (doc_id, lang, two ints), never the
    text; the admit decision and per-language rollup are map-side.
    Integer-exact everywhere (token counts, cumulative sums — the
    two-phase sum is bit-identical to the global window)."""
    from ..operators.prefix import ordered_cumsum

    docs = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    scored = ordered_cumsum(
        docs.select("doc_id", "lang", n_tokens.alias("n_tokens"), F.col("n_chars")),
        [F.desc("n_chars"), F.asc("doc_id")],
        "n_tokens",
        "cum_tokens",
    )
    return (
        scored.filter(F.col("cum_tokens") <= 20000)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_selected"),
            F.sum("n_tokens").cast("long").alias("tokens_selected"),
            F.max("cum_tokens").cast("long").alias("max_cum_at_selection"),
        )
        .orderBy("lang")
    )


@session_memo("bpe_merges")
def shared_merge_rules(spark: SparkSession, sf_dir: str) -> list[tuple[str, str, str, int]]:
    """The 8 learned merge rules, once per (session, corpus) — the
    train-once/apply-many contract a tokenizer actually has (same
    shared-model pattern as similarity_q.shared_kmeans_model and the
    _pairs_095 relation)."""
    return bpe.learn_merges(load(spark, sf_dir, "documents"), n_merges=8)


@register("bpe_encode_stats", oracle=None)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE APPLICATION (the encode half of train→apply): fold the 8
    learned merge rules into the corpus and report, per language, the
    whitespace-token count, the resulting subword-token count, and the
    subword-per-character compression — the "how many training tokens
    is this corpus" accounting that sizes an LLM run.

    Scale shape: the merge fold runs over the DISTINCT VOCABULARY
    (encode each word once, map-only, all eight rules in one
    whole-stage-codegen projection), and the corpus-size work is the
    same single word-histogram shuffle every BPE stage here uses; doc
    totals come from wc × per-word subword counts through a word-keyed
    join — the corpus text itself is never re-scanned per rule.
    Rows-only: the rule table is the iterative learner's output; pytest
    pins per-word encodings against the pure-Python reference encoder
    (tests/test_operators.py TestBpe)."""
    docs = load(spark, sf_dir, "documents")
    rules = shared_merge_rules(spark, sf_dir)
    wl = (
        docs.select("lang", F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    enc = bpe.with_symbols(wl.select("word").distinct())
    for left, right, _, _ in rules:
        enc = bpe.apply_merge(enc, left, right)
    enc = enc.select(
        "word", F.size("syms").alias("n_sub"), F.length("word").alias("n_chars_w")
    )
    joined = wl.join(enc, "word")
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab_words"),
            F.sum("wc").cast("long").alias("ws_tokens"),
            F.sum(F.col("wc") * F.col("n_sub")).cast("long").alias("subword_tokens"),
            F.round(
                F.sum(F.col("wc") * F.col("n_sub"))
                / F.sum(F.col("wc") * F.col("n_chars_w")),
                4,
            ).alias("subwords_per_char"),
        )
        .orderBy("lang")
    )
