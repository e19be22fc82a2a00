"""Text-analysis queries over the documents fixture (SURVEY.md §2.9 X8
[D]): token statistics, quality scoring, heuristic language ID,
fingerprinting, token frequencies. Thin catalog wrappers over
operators/textstats.py; every oracle mirrors the exact heuristic."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import textstats as ts
from ..tables import load
from .catalog import register

_STOP_SQL = ", ".join(f"'{s}'" for s in ts.STOPWORDS)


@register(
    "text_token_stats",
    oracle="""
    SELECT lang,
           count(*)                                                AS n_docs,
           avg(len(string_split(text, ' ')))                       AS avg_tokens,
           avg(n_chars)                                            AS avg_chars,
           CAST(max(len(string_split(text, ' '))) AS BIGINT)       AS max_tokens
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (token counting, X8)."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = ts.token_count()
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.avg(n_tokens).alias("avg_tokens"),
            F.avg("n_chars").alias("avg_chars"),
            F.max(n_tokens).alias("max_tokens"),
        )
        .orderBy("lang")
    )


@register(
    "text_quality_scores",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT)                 AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)  AS n_distinct_tokens,
               CAST(len(list_filter(string_split(text, ' '),
                        x -> x IN ({_STOP_SQL}))) AS DOUBLE)
                   / len(string_split(text, ' '))                           AS stop_ratio_raw,
               CAST(list_aggregate(list_transform(string_split(text, ' '),
                        x -> CAST(length(x) AS BIGINT)), 'sum') AS DOUBLE)
                   / len(string_split(text, ' '))                           AS avg_token_len_raw,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' '))                           AS vocab_ratio_raw
        FROM documents
    )
    SELECT doc_id,
           n_tokens,
           n_distinct_tokens,
           stop_ratio_raw      AS stop_ratio,
           avg_token_len_raw   AS avg_token_len,
           vocab_ratio_raw     AS vocab_ratio,
           CASE WHEN n_tokens < 5 THEN 0.1 ELSE 0.5 END
               + CASE WHEN stop_ratio_raw BETWEEN 0.05 AND 0.5 THEN 0.25 ELSE 0.0 END
               + CASE WHEN vocab_ratio_raw >= 0.3 THEN 0.25 ELSE 0.0 END
                               AS quality_score
    FROM feat
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features + composite score (X8).

    Length, vocabulary diversity, and stopword-plausibility heuristics —
    all JVM array expressions (split/filter/aggregate), no UDF.
    """
    docs = load(spark, sf_dir, "documents")
    return ts.quality_features(docs).select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        "stop_ratio",
        "avg_token_len",
        "vocab_ratio",
        "quality_score",
    )


LANGID_CONFUSION_SQL = f"""
    SELECT lang,
           CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
                WHEN CAST(len(list_filter(string_split(text, ' '),
                         x -> x IN ({_STOP_SQL}))) AS DOUBLE)
                     / len(string_split(text, ' ')) >= 0.05 THEN 'en'
                ELSE 'unknown' END AS predicted_lang,
           count(*) AS n
    FROM documents
    GROUP BY 1, 2
    ORDER BY lang, predicted_lang
    """


def langid_confusion(docs: DataFrame) -> DataFrame:
    """Heuristic language ID vs the labeled lang column (confusion
    counts), over a batch or a streaming frame (shared by
    text_langid_confusion and streaming_langid_counts)."""
    return (
        docs.groupBy("lang", ts.predicted_lang().alias("predicted_lang"))
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "predicted_lang")
    )


@register("text_langid_confusion", oracle=LANGID_CONFUSION_SQL)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion counts (see langid_confusion)."""
    return langid_confusion(load(spark, sf_dir, "documents"))


@register(
    "text_fingerprint_bag",
    oracle="""
    SELECT doc_id,
           CAST(list_aggregate(list_transform(string_split(text, ' '),
                    x -> CAST(ascii(x) * length(x) AS BIGINT)), 'sum') AS BIGINT) AS signature,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)            AS n_distinct_tokens
    FROM documents
    """,
)
def text_fingerprint_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive bag fingerprint per document (X8 fingerprinting).

    The order-SENSITIVE rolling hash variant exists in
    operators/textstats.py (pytest-verified; an ordered fold is not
    expressible in portable oracle SQL).
    """
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ts.bag_fingerprint().alias("signature"),
        F.size(F.array_distinct(ts.tokens())).cast("long").alias("n_distinct_tokens"),
    )


@register(
    "token_frequency_top20",
    oracle="""
    SELECT tok   AS token,
           count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, token ASC
    LIMIT 20
    """,
)
def token_frequency_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token frequency top-20 (explode → count → top-k).

    The canonical wordcount: partial aggregation collapses each partition
    to its distinct tokens before the shuffle, so shuffle volume is
    vocabulary-bounded, not corpus-bounded.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(ts.tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@register(
    "text_regex_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT)  AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
                                                          AS n_regex_tokens,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_number_tokens
    FROM documents
    """,
)
def text_regex_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (X8): whitespace split vs a BPE-ish regex
    lexer (letter runs | digit runs | single other-chars) — the
    pre-tokenization shape real BPE tokenizers apply before merges.
    Both are JVM regexp built-ins; identical pattern both engines."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_ws_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .cast("long")
        .alias("n_regex_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[0-9]+', 0)")).cast("long").alias(
            "n_number_tokens"
        ),
    )


@register(
    "text_repetition_metrics",
    oracle="""
    WITH docs_t AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    g AS (
        SELECT doc_id, len(t) AS n_tok,
               unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS gram
        FROM docs_t
        WHERE len(t) >= 2
    ),
    pg AS (SELECT doc_id, n_tok, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
    a AS (
        SELECT doc_id, n_tok,
               max(c)      AS top,
               sum(c - 1)  AS dups,
               sum(c)      AS total
        FROM pg GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT)          AS n_tokens,
           CAST(top AS BIGINT)            AS top_bigram_count,
           top * 2 / n_tok                AS top_bigram_token_frac,
           CAST(dups AS DOUBLE) / total   AS dup_bigram_frac
    FROM a
    UNION ALL
    SELECT doc_id, CAST(len(t) AS BIGINT), 0, 0.0, 0.0
    FROM docs_t WHERE len(t) < 2
    """,
)
def text_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics (Rae et al. 2021 §A1.1) per doc:
    top-bigram token coverage and duplicate-bigram fraction — the
    repetition filters a pretraining corpus runs next to the quality
    rules. All ratios integer-derived (bit-identical cross-engine);
    one (doc, bigram) count shuffle + a tiny per-doc rollup."""
    docs = load(spark, sf_dir, "documents")
    return ts.repetition_metrics(docs)


@register(
    "text_vocabulary_stats",
    oracle="""
    WITH toks AS (
        SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    pt AS (SELECT lang, tok, count(*) AS df FROM toks GROUP BY 1, 2)
    SELECT lang,
           count(*)                                                AS vocab_size,
           CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
           CAST(sum(df) AS BIGINT)                                 AS total_tokens
    FROM pt
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_vocabulary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary accounting (X8): vocabulary size, hapax
    legomena, total occurrences — what a tokenizer-training run reads
    first. Token postings stay distributed; only per-language triples
    reach the driver."""
    docs = load(spark, sf_dir, "documents")
    return ts.vocabulary_stats(docs).orderBy("lang")


@register(
    "text_length_histogram",
    oracle="""
    SELECT lang,
           CAST(n_chars // 50 AS BIGINT)                      AS chars_bucket,
           count(*)                                           AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT)  AS bucket_tokens
    FROM documents
    GROUP BY 1, 2
    ORDER BY lang, chars_bucket
    """,
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram per language (50-char integer buckets):
    the length-distribution view used to pick packing budgets and spot
    truncation artifacts. Pure integer bucketing — map-side expression +
    one accounting shuffle."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            "lang", F.floor(F.col("n_chars") / 50).cast("long").alias("chars_bucket")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias("bucket_tokens"),
        )
        .orderBy("lang", "chars_bucket")
    )


@register(
    "text_rarity_scores",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t)
    SELECT doc_id,
           count(*)                                   AS n_tokens,
           CAST(sum(c) AS BIGINT)                     AS freq_sum,
           CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / count(*) AS mean_token_freq
    FROM tok JOIN cnt USING (t)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_rarity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-rarity quality scores for every document (X8 beyond
    the reference — the CCNet perplexity-filter signal as exact integer
    corpus-frequency means; see operators/textstats.py
    token_rarity_stats for the scale/exactness argument). No trailing
    global sort (the driver hash is order-insensitive
    and a 50k-row range exchange bought nothing)."""
    docs = load(spark, sf_dir, "documents")
    return ts.token_rarity_stats(docs, "doc_id", "text")


@register(
    "lm_bigram_score",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l, doc_id % 10 < 8 AS is_train
      FROM documents
    ),
    bigr AS (
      SELECT doc_id, is_train, l[i] AS w1, l[i+1] AS w2
      FROM toks, unnest(generate_series(1, len(l)-1)) AS r(i)
    ),
    big_c AS (SELECT w1, w2, count(*) AS c2 FROM bigr WHERE is_train GROUP BY w1, w2),
    ctx_c AS (SELECT w1, count(*) AS c1 FROM bigr WHERE is_train GROUP BY w1)
    SELECT b.doc_id,
           count(*)                                   AS n_bigrams,
           count(c2)                                  AS matched_bigrams,
           CAST(coalesce(sum(c2), 0) AS BIGINT)       AS sum_bigram_count,
           CAST(coalesce(sum(c1), 0) AS BIGINT)       AS sum_context_count,
           CAST(count(c2) AS DOUBLE) / count(*)       AS bigram_coverage
    FROM bigr b
    LEFT JOIN big_c USING (w1, w2)
    LEFT JOIN ctx_c USING (w1)
    WHERE NOT b.is_train
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
)
def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality scoring with a real train/apply
    split (X8 beyond the reference — the CCNet perplexity filter as a
    trained-in-engine model applied to held-out documents; see
    operators/textstats.py bigram_lm_scores for the exactness and
    100 TB model-size argument)."""
    docs = load(spark, sf_dir, "documents")
    return ts.bigram_lm_scores(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "source_token_cosine",
    oracle="""
    WITH counts AS (
        SELECT source, t AS token, count(*) AS c
        FROM (SELECT source, unnest(string_split(text, ' ')) AS t
              FROM documents)
        GROUP BY source, t
    ),
    norms AS (
        SELECT source,
               sqrt(CAST(CAST(sum(c * c) AS BIGINT) AS DOUBLE)) AS nrm
        FROM counts GROUP BY source
    ),
    dots AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(sum(a.c * b.c) AS BIGINT) AS dot
        FROM counts a JOIN counts b
          ON a.token = b.token AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT src_a, src_b, dot,
           CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS cosine
    FROM dots
    JOIN norms na ON na.source = src_a
    JOIN norms nb ON nb.source = src_b
    ORDER BY cosine DESC, src_a, src_b
    LIMIT 20
    """,
)
def source_token_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source similarity (X8 corpus analytics): cosine between
    token-FREQUENCY vectors of each source — the fixture's 31-word
    vocabulary is fully shared, so set-Jaccard is degenerately 1.0 and
    only the frequency profile separates sources. Used in corpus
    curation to spot near-duplicate crawls/mirrors before mixing.

    Exactness: dot products and squared norms are BIGINT sums of
    integer counts (order-free, exact); the only float ops are one sqrt
    and one division of identical operands per pair. Scale shape: the
    (source x token) contingency is one shuffle of |vocab| x |sources|
    rows — tiny however big the corpus — and the pair join explodes per
    token by #sources, not by document count; norms broadcast."""
    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("c"))
    )
    norms = (
        counts.groupBy("source")
        .agg(F.sqrt(F.sum(F.col("c") * F.col("c")).cast("double")).alias("nrm"))
    )
    a = counts.alias("a")
    b = counts.alias("b")
    dots = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("dot"))
    )
    na = F.broadcast(norms.select(F.col("source").alias("src_a"), F.col("nrm").alias("na")))
    nb = F.broadcast(norms.select(F.col("source").alias("src_b"), F.col("nrm").alias("nb")))
    return (
        dots.join(na, "src_a")
        .join(nb, "src_b")
        .select(
            "src_a",
            "src_b",
            "dot",
            (F.col("dot").cast("double") / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "src_a", "src_b")
        .limit(20)
    )


@register(
    "fuzzy_name_pairs_blocked",
    oracle="""
    SELECT a.p_brand AS brand,
           levenshtein(a.p_name, b.p_name) AS edit_dist,
           count(*) AS n_pairs
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    GROUP BY brand, edit_dist
    ORDER BY brand, edit_dist
    """,
)
def fuzzy_name_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching (entity-resolution tier of X6): name pairs
    within edit distance 2, joined ONLY inside the brand blocking key —
    the standard record-linkage shape where a cheap exact key bounds
    the quadratic comparison to block-local pairs (dedup_* tiers do the
    same with LSH buckets for free-text; this is the structured-record
    variant).

    Exactness: levenshtein is an integer metric with identical
    unit-cost semantics in both engines; counts are exact. Scale
    shape: the metric depends only on the name VALUES, so the entry
    first collapses to DISTINCT (brand, name) groups with counts — the
    same identical-set collapse the MinHash tier runs before banding —
    and the quadratic comparison runs over distinct names per block,
    never over rows; row-level pair counts are recovered exactly as
    count products (cnt_a·cnt_b across distinct names — each unordered
    row pair is counted once because exactly one orientation satisfies
    key_a < key_b — plus C(cnt,2) at distance 0 within a group). On a
    duplicative catalog this is the whole game (sf1.0: 200k parts but
    64 distinct names — 0.69 BILLION row-level banded levenshteins
    became ~1.6k: 25.1 s → sub-second); with all-distinct names it
    degrades to exactly the old row-level join. The metric leg keeps
    the row-level geometry: the distinct-name side BROADCASTS (a blocked
    dimension is small by definition) against a repartitioned stream
    side, the free |len(a)-len(b)| <= 2 bound precedes the BANDED
    3-arg levenshtein, and the banded form's -1 sentinel is filtered
    after one projection. At 100 TB: distinct names per block is the
    collapse's only growth axis; salt the block key if a brand runs
    hot."""
    from ..session import default_parallelism

    part = load(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    g = part.groupBy("p_brand", "p_name").agg(F.count("*").alias("cnt"))
    a = g.repartition(default_parallelism()).alias("a")
    b = F.broadcast(g).alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), 2)
    cross_names = (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_name") < F.col("b.p_name"))
            & (
                F.abs(
                    F.length(F.col("a.p_name")) - F.length(F.col("b.p_name"))
                )
                <= 2
            ),
        )
        .select(
            F.col("a.p_brand").alias("brand"),
            dist.alias("edit_dist"),
            (F.col("a.cnt") * F.col("b.cnt")).alias("pairs"),
        )
        .filter(F.col("edit_dist") >= 0)  # banded form returns -1 past k
    )
    same_names = g.filter(F.col("cnt") > 1).select(
        F.col("p_brand").alias("brand"),
        F.lit(0).cast("int").alias("edit_dist"),
        (F.col("cnt") * (F.col("cnt") - 1) / 2).cast("long").alias("pairs"),
    )
    return (
        cross_names.unionByName(same_names)
        .groupBy("brand", "edit_dist")
        .agg(F.sum("pairs").cast("long").alias("n_pairs"))
        .orderBy("brand", "edit_dist")
    )


@register("sketch_cms_heavy_hitters", oracle=None)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy-hitter verification (operators/sketches.py —
    Cormode & Muthukrishnan 2005): build a 4×1024 CMS over the corpus
    token stream, then point-query it for the exact top-20 tokens and
    report estimate next to truth. The sketch table is depth×width
    integers at ANY corpus size and merges cell-wise — the mergeable-
    state frequency counterpart to the HLL distinct sketch. Rows-only:
    bucket assignment uses Spark-internal xxhash64; pytest pins the CMS
    guarantee (estimate >= exact always; overestimate <= 2N/width on
    every top token) in TestCountMin."""
    from ..operators import sketches

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok")).filter(
        F.length("tok") > 0
    )
    sketch = sketches.cms_build(toks, "tok")
    exact_top = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("exact_count"))
        .orderBy(F.desc("exact_count"), "tok")
        .limit(20)
    )
    est = sketches.cms_estimate(exact_top.select("tok"), sketch, "tok")
    return (
        exact_top.join(est, "tok")
        .select(
            "tok",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
        )
        .orderBy(F.desc("exact_count"), "tok")
    )


@register(
    "text_boilerplate_ngrams",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    grams AS (
        SELECT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS gram
        FROM toks, unnest(generate_series(1, len(l) - 2)) r(i)
    ),
    boiler AS (
        SELECT gram
        FROM (SELECT gram, count(DISTINCT doc_id) AS c FROM grams GROUP BY gram)
        WHERE c >= 4
    ),
    per_doc AS (
        SELECT g.doc_id,
               count(*)              AS n_boiler,
               count(DISTINCT g.gram) AS n_boiler_distinct
        FROM grams g JOIN boiler USING (gram)
        GROUP BY g.doc_id
    )
    SELECT t.doc_id,
           CAST(greatest(len(t.l) - 2, 0) AS BIGINT)       AS n_grams,
           CAST(COALESCE(p.n_boiler, 0) AS BIGINT)         AS n_boiler,
           CAST(COALESCE(p.n_boiler_distinct, 0) AS BIGINT) AS n_boiler_distinct
    FROM toks t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-level boilerplate trigram coverage (X8 beyond the
    reference — the RefinedWeb/CCNet cross-document template-removal
    signal, at n-gram granularity since fixture docs are single-line):
    a trigram occurring in >=4 distinct documents is boilerplate; each
    document reports total trigram positions, boilerplate-covered
    positions, and distinct boilerplate grams. Integer-only outputs.
    Scale shape: grams travel as xxhash64
    longs, sorted-array run-length collapse pre-aggregates per doc
    before the explode (one row per distinct gram per doc, so
    groupBy(hash).count() IS the doc frequency — no countDistinct),
    zero-gram docs ride a NULL sentinel run so there is no closing
    corpus join, and the boiler join-back is a pinned shuffle-hash
    join (no broadcast memory assumption, no doc×doc pairs)
    (operators/textstats.py boilerplate_ngram_stats)."""
    docs = load(spark, sf_dir, "documents")
    return ts.boilerplate_ngram_stats(
        docs, "doc_id", "text", n=3, min_df=4, broadcast_boiler=False
    )


@register(
    "text_ngram_novelty",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ),
    grams AS (
        SELECT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS gram
        FROM toks, unnest(generate_series(1, len(l) - 2)) r(i)
    ),
    firsts AS (SELECT gram, min(doc_id) AS first_id FROM grams GROUP BY gram),
    per_doc AS (
        SELECT g.doc_id,
               count(DISTINCT g.gram) FILTER (WHERE f.first_id = g.doc_id) AS nd,
               count(*)               FILTER (WHERE f.first_id = g.doc_id) AS no_
        FROM grams g JOIN firsts f USING (gram)
        GROUP BY g.doc_id
    )
    SELECT t.doc_id,
           CAST(greatest(len(t.l) - 2, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(p.nd, 0) AS BIGINT)         AS n_novel_distinct,
           CAST(COALESCE(p.no_, 0) AS BIGINT)        AS n_novel_occurrences
    FROM toks t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-redundancy growth curve (X8): per document, how
    many of its trigrams are NOVEL — first seen at this doc_id, by
    corpus-wide minimum — vs repeats of earlier text. The metric a
    pipeline reads to decide when a source's marginal data stops adding
    information (Lee et al. 2022 dedup-ROI analysis). Same plan family
    as text_boilerplate_ngrams: xxhash64 gram runs, one groupBy(hash)
    min(doc_id) shuffle (map-side partial min), pinned shuffle-hash
    join-back, order-free by construction — no window over an id
    ordering, which would single-partition at scale
    (operators/textstats.py ngram_novelty_stats)."""
    docs = load(spark, sf_dir, "documents")
    return ts.ngram_novelty_stats(docs, "doc_id", "text", n=3)


@register(
    "text_source_leakage_matrix",
    oracle="""
    WITH toks AS (
        SELECT source, string_split(text, ' ') AS l FROM documents
    ),
    grams AS (
        SELECT DISTINCT source,
               l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' ||
               l[i+3] || ' ' || l[i+4] AS gram
        FROM toks, unnest(generate_series(1, len(l) - 4)) r(i)
    ),
    m AS (SELECT source, count(*) AS n FROM grams GROUP BY source),
    p AS (
        SELECT a.source AS src1, b.source AS src2, count(*) AS shared
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT p.src1, p.src2,
           CAST(p.shared AS BIGINT) AS shared_grams,
           CAST(m1.n AS BIGINT)     AS n_grams1,
           CAST(m2.n AS BIGINT)     AS n_grams2,
           CAST(p.shared AS DOUBLE)
               / CAST(m1.n + m2.n - p.shared AS DOUBLE) AS jaccard
    FROM p
    JOIN m m1 ON m1.source = p.src1
    JOIN m m2 ON m2.source = p.src2
    ORDER BY shared_grams DESC, p.src1, p.src2
    LIMIT 20
    """,
)
def text_source_leakage_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination audit (X8): for every pair
    of corpus sources, how many DISTINCT word-5-grams they share, with
    per-source gram counts and the gram-set Jaccard — the leakage
    matrix a training pipeline reads before declaring two sources
    independent (train/eval splits, benchmark contamination — the
    source-level view of Lee et al. 2022 / Dodge et al. 2021 C4
    audits).

    Scale shape: reuses the gram-run relation (xxhash64 fingerprints,
    8-byte longs on the wire — operators/textstats.py gram_hash_runs),
    then ONE groupBy(gram) collects the bounded per-gram source set
    (|sources|, not |docs|), and one explode emits the pair AND
    singleton tallies as a tagged union (src2=NULL marks a marginal
    row) into ONE final groupBy(src1, src2) whose <= |sources|^2-row
    result is MATERIALIZED (localCheckpoint) before its consumers —
    the basket multi-consumer lesson (SCALE.md) applied at both
    levels: without the checkpoint Catalyst pushes each consumer's
    src2-NULL filter below the final agg and re-runs the explode per
    consumer (measured; the gram exchange still canonical-reuses, so
    only the reduce pass doubles). The heavy tokenize+hash+explode
    subtree runs exactly once. Decoration broadcasts the 20-row cut
    (never the |sources|-sized marginal relation). Pair fan-out per
    gram is bounded by |sources| choose 2, never doc x doc. The
    xxhash64-vs-exact-string oracle pairing carries the same 2^-64
    collision bound documented for the other gram-run consumers."""
    docs = load(spark, sf_dir, "documents")
    return ts.source_leakage_matrix(docs, "source", "text", n=5, top_k=20)
