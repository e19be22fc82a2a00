"""Full-text retrieval tier (X7×X8 bridge): BM25 ranked search and
TF-IDF keyword extraction — the two classic inverted-index scoring
operators an analytics engine runs over a document corpus (reference
scope: its DuckDB surface exposes FTS-style scoring through extensions;
here both are plain DataFrame compositions).

Cross-engine exactness scheme (the functions/exact.py discipline applied
to IR): every BM25/TF-IDF input (tf, df, dl, N, Σdl) is an exact BIGINT,
and the k1=1.2 / b=0.75 constants are folded into an integer-only
denominator — ``10·S·tf + 3·S + 9·dl·N`` — by clearing denominators, so
the ONLY float operations are one ``ln`` on identical doubles, one
multiply, one divide, written token-for-token identically in both
engines. Per-document term weights are summed in a FIXED expression
order (one conditional aggregate per query term, then a left-to-right
coalesce chain), never through an order-nondeterministic float SUM.
Ranking keys round to 4 decimals BEFORE the order-by so a last-ulp ``ln``
divergence cannot flip the top-k boundary (ties broken on doc_id/term).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load
from .catalog import register

# Query terms for the BM25 entry: mid-frequency corpus vocabulary, fixed
# so the oracle is a closed expression (a real engine binds these as
# parameters; the plan shape is term-count-agnostic).
_BM25_TERMS = ("spark", "join", "window")


@register(
    "bm25_search_topk",
    oracle="""
    WITH d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    stats AS (
        SELECT count(DISTINCT doc_id) AS n_docs, count(*) AS s FROM d
    ),
    tfc AS (
        SELECT doc_id, dl, term, count(*) AS tf
        FROM d WHERE term IN ('spark', 'join', 'window')
        GROUP BY 1, 2, 3
    ),
    dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
    w AS (
        SELECT doc_id,
               max(CASE WHEN term = 'spark' THEN
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * (22.0 * tf * s) / (10 * s * tf + 3 * s + 9 * dl * n_docs)
               END) AS w_spark,
               max(CASE WHEN term = 'join' THEN
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * (22.0 * tf * s) / (10 * s * tf + 3 * s + 9 * dl * n_docs)
               END) AS w_join,
               max(CASE WHEN term = 'window' THEN
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * (22.0 * tf * s) / (10 * s * tf + 3 * s + 9 * dl * n_docs)
               END) AS w_window,
               count(*) AS n_terms_matched
        FROM tfc JOIN dfc USING (term) CROSS JOIN stats
        GROUP BY doc_id
    )
    SELECT doc_id,
           round(coalesce(w_spark, 0) + coalesce(w_join, 0)
                 + coalesce(w_window, 0), 4) AS bm25,
           n_terms_matched
    FROM w
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
)
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval (k1=1.2, b=0.75, Lucene's
    non-negative ``ln(1 + (N-df+0.5)/(df+0.5))`` idf): top-20 documents
    for a 3-term query.

    Scale shape — the inverted-index scoring plan, not a scan-per-query:
    explode → ``isin`` prefilter (non-matching postings are dropped
    map-side, BEFORE any shuffle) → one (doc, term) partial-aggregated
    tf shuffle ∝ matching postings only; df (|query| rows) and the
    corpus stats (1 row) come back as broadcasts; the final top-k plans
    as TakeOrderedAndProject. At 100 TB with a query WORKLOAD, the tf
    frame is the persisted inverted index (write it bucketed by term)
    and each query touches |query terms| buckets."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("__toks")
    )
    d = docs.select(
        "doc_id", F.size("__toks").alias("dl"), F.explode("__toks").alias("term")
    )
    stats = d.agg(
        F.countDistinct("doc_id").alias("n_docs"), F.count(F.lit(1)).alias("s")
    )
    tfc = (
        d.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfc = tfc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    # token-for-token the oracle's arithmetic: ints stay BIGINT into the
    # one ln / one multiply / one divide
    weight = (
        F.log(
            F.lit(1)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        )
        * (F.lit(22.0) * F.col("tf") * F.col("s"))
        / (
            F.lit(10) * F.col("s") * F.col("tf")
            + F.lit(3) * F.col("s")
            + F.lit(9) * F.col("dl") * F.col("n_docs")
        )
    )
    w = (
        tfc.join(F.broadcast(dfc), "term")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            *[
                F.max(F.when(F.col("term") == t, weight)).alias(f"w_{t}")
                for t in _BM25_TERMS
            ],
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
    )
    score = (
        F.coalesce(F.col("w_spark"), F.lit(0))
        + F.coalesce(F.col("w_join"), F.lit(0))
        + F.coalesce(F.col("w_window"), F.lit(0))
    )
    return (
        w.select("doc_id", F.round(score, 4).alias("bm25"), "n_terms_matched")
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


@register(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    stats AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
    tf AS (SELECT lang, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ),
    scored AS (
        SELECT lang, term, tf, df,
               round(tf * ln(n_docs / df), 4) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN stats
    )
    SELECT lang, term, tf, df, tfidf
    FROM (
        SELECT *, row_number() OVER (PARTITION BY lang
                                     ORDER BY tfidf DESC, term) AS rn
        FROM scored
    )
    WHERE rn <= 10
    ORDER BY lang, tfidf DESC, term
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: the 10 most characteristic terms per
    language (corpus-level tf within the language, document df across
    the corpus) — the classic signature-vocabulary profile a corpus
    audit produces per slice.

    Scale shape (jobs audit: 12 jobs, 2.45 s at sf1.0 → the explode
    subtree was recomputed by its THREE consumers — stats, tf, df — so
    the corpus was tokenized three times, and tf/df then met in a
    term-keyed join): the whole profile now derives from ONE pass over
    the exploded tokens. groupBy(lang, term) computes tf = count(*) and
    the per-language document frequency df_l = countDistinct(doc_id) in
    a single aggregation (Spark plans the distinct agg as the same
    two-level (lang, term, doc_id) partial aggregation the explicit
    postings relation would be); because each document has exactly one
    lang, the corpus df is the SUM of df_l over the term's languages —
    a window over the |langs × vocab| aggregate, so the former
    vocabulary join disappears entirely (no broadcast-a-web-vocab
    question left). n_docs = count of non-null texts straight off the
    documents metadata (each such doc emits >= 1 token row in both
    engines, so it equals the oracle's count(DISTINCT doc_id) over
    postings). Per-language top-10 is a window over the aggregate,
    never over raw postings; the ranking key rounds before ordering
    (ties → term) so the cut is engine-stable. The documents scan is
    widened first — single-split file, CPU-dense tokenize (the
    narrow-scan class). Measured: 12 jobs → 5, 2.45 s → ~1.2 s."""
    from ..session import widen_narrow_scan

    docs = load(spark, sf_dir, "documents")
    toks = widen_narrow_scan(docs.select("doc_id", "lang", "text")).select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    per_lang = toks.groupBy("lang", "term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("doc_id").alias("__df_l"),
    )
    stats = docs.agg(F.count("text").alias("n_docs"))
    scored = (
        per_lang.withColumn("df", F.sum("__df_l").over(Window.partitionBy("term")))
        .join(F.broadcast(stats))
        .select(
            "lang",
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4).alias(
                "tfidf"
            ),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.desc("tfidf"), "term")
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= 10)
        .drop("rn")
        .orderBy("lang", F.desc("tfidf"), "term")
    )


@register(
    "hybrid_search_rrf",
    oracle="""
    WITH d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    stats AS (
        SELECT count(DISTINCT doc_id) AS n_docs, count(*) AS s FROM d
    ),
    tfc AS (
        SELECT doc_id, dl, term, count(*) AS tf
        FROM d WHERE term IN ('spark', 'join', 'window')
        GROUP BY 1, 2, 3
    ),
    dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
    w AS (
        SELECT doc_id,
               max(CASE WHEN term = 'spark' THEN
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * (22.0 * tf * s) / (10 * s * tf + 3 * s + 9 * dl * n_docs)
               END) AS w_spark,
               max(CASE WHEN term = 'join' THEN
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * (22.0 * tf * s) / (10 * s * tf + 3 * s + 9 * dl * n_docs)
               END) AS w_join,
               max(CASE WHEN term = 'window' THEN
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * (22.0 * tf * s) / (10 * s * tf + 3 * s + 9 * dl * n_docs)
               END) AS w_window
        FROM tfc JOIN dfc USING (term) CROSS JOIN stats
        GROUP BY doc_id
    ),
    lex AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS lex_rank
        FROM (SELECT doc_id,
                     round(coalesce(w_spark, 0) + coalesce(w_join, 0)
                           + coalesce(w_window, 0), 4) AS bm25
              FROM w)
        ORDER BY bm25 DESC, doc_id LIMIT 20
    ),
    e AS (
        SELECT vec_id,
               unnest(range(1, len(embedding) + 1)) AS pos,
               CAST(unnest(embedding) AS DOUBLE)    AS val
        FROM embeddings
    ),
    norms AS (SELECT vec_id, sum(val * val) AS sq FROM e GROUP BY vec_id),
    dots AS (
        SELECT c.vec_id AS neighbor_id, sum(q.val * c.val) AS dp
        FROM e q JOIN e c ON q.pos = c.pos AND q.vec_id <> c.vec_id
        WHERE q.vec_id = 0
        GROUP BY 1
    ),
    sem AS (
        SELECT neighbor_id AS doc_id,
               CAST(row_number() OVER (
                   ORDER BY dp / sqrt(nq.sq * nc.sq) DESC, neighbor_id
               ) AS BIGINT) AS sem_rank
        FROM dots
        JOIN norms nq ON nq.vec_id = 0
        JOIN norms nc ON dots.neighbor_id = nc.vec_id
        ORDER BY dp / sqrt(nq.sq * nc.sq) DESC, neighbor_id LIMIT 20
    )
    SELECT doc_id,
           CAST(coalesce(lex_rank, 0) AS BIGINT) AS lex_rank,
           CAST(coalesce(sem_rank, 0) AS BIGINT) AS sem_rank,
           (CASE WHEN lex_rank IS NULL THEN 0.0 ELSE 1.0 / (60 + lex_rank) END
            + CASE WHEN sem_rank IS NULL THEN 0.0 ELSE 1.0 / (60 + sem_rank) END)
               AS rrf_score
    FROM lex FULL OUTER JOIN sem USING (doc_id)
    ORDER BY rrf_score DESC, doc_id
    LIMIT 10
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval with reciprocal-rank fusion (Cormack et al.
    2009 — the standard fusion RAG retrieval stacks run): the lexical
    leg is the BM25 top-20 (same integer-exact Okapi scheme as
    bm25_search_topk), the semantic leg is the exact cosine top-20 of
    embedding vec_id 0 (same double-precision fold as
    knn_bruteforce_cosine, embeddings sharing the documents' id space),
    and the fused score is 1/(60+r_lex) + 1/(60+r_sem) over INTEGER
    ranks — so the only floats in the fusion are two divisions of
    identical operands, bit-identical cross-engine, with absent legs
    contributing exactly 0. Scale shape: both legs are the already-
    gated index plans (postings prefilter + TakeOrdered; broadcast
    query vector); the fusion is a full outer join of two 20-row
    relations — driver-trivial at any corpus size. The one
    unpartitioned row_number window runs AFTER the limit(20), i.e.
    over at most 20 rows — the single-partition-window anti-pattern
    applies to corpus-sized inputs, not to an already-cut top-k."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("__toks")
    )
    d = docs.select(
        "doc_id", F.size("__toks").alias("dl"), F.explode("__toks").alias("term")
    )
    stats = d.agg(
        F.countDistinct("doc_id").alias("n_docs"), F.count(F.lit(1)).alias("s")
    )
    tfc = (
        d.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfc = tfc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    weight = (
        F.log(
            F.lit(1)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        )
        * (F.lit(22.0) * F.col("tf") * F.col("s"))
        / (
            F.lit(10) * F.col("s") * F.col("tf")
            + F.lit(3) * F.col("s")
            + F.lit(9) * F.col("dl") * F.col("n_docs")
        )
    )
    per_term = (
        tfc.join(F.broadcast(dfc), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            *[
                F.max(F.when(F.col("term") == t, weight)).alias(f"w_{t}")
                for t in _BM25_TERMS
            ]
        )
    )
    bm25 = F.round(
        sum(F.coalesce(F.col(f"w_{t}"), F.lit(0.0)) for t in _BM25_TERMS), 4
    )
    lex = (
        per_term.select("doc_id", bm25.alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("bm25"), "doc_id"))
            .cast("long")
            .alias("lex_rank"),
        )
    )
    from ..operators import similarity as sim

    emb = load(spark, sf_dir, "embeddings")
    sem = (
        sim.cosine_topk_bruteforce(emb, emb.filter(F.col("vec_id") == 0), k=20)
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").cast("long").alias("sem_rank"))
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("lex_rank", F.lit(0)).cast("long").alias("lex_rank"),
        F.coalesce("sem_rank", F.lit(0)).cast("long").alias("sem_rank"),
        (
            F.when(F.col("lex_rank").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / (F.lit(60) + F.col("lex_rank"))
            )
            + F.when(F.col("sem_rank").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / (F.lit(60) + F.col("sem_rank"))
            )
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), "doc_id").limit(10)


@register(
    "search_term_proximity",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents WHERE text IS NOT NULL),
    pp AS (
        SELECT doc_id,
               list_filter(range(1, len(t) + 1), i -> t[i] = 'hash') AS pa,
               list_filter(range(1, len(t) + 1), i -> t[i] = 'join') AS pb
        FROM toks
    )
    SELECT doc_id,
           CAST(len(pa) AS BIGINT) AS n_hash,
           CAST(len(pb) AS BIGINT) AS n_join,
           CAST(list_min(flatten(list_transform(pa,
               a -> list_transform(pb, b -> abs(a - b))))) AS BIGINT)
               AS min_dist
    FROM pp
    WHERE len(pa) > 0 AND len(pb) > 0
    ORDER BY min_dist, doc_id
    LIMIT 20
    """,
)
def search_term_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-proximity retrieval (X7×X8, the positional-index operator
    next to BM25): the 20 documents where the query terms 'hash' and
    'join' co-occur closest together — the phrase/NEAR scoring primitive
    a positional inverted index serves. All-integer arithmetic (token
    positions and |a-b| distances), so both engines agree exactly; ties
    break on doc_id.

    Scale shape: positions come from one higher-order-function pass per
    document (filter over sequence — JVM codegen, no explode, no UDF,
    no posting-list shuffle at all for the per-doc distance), and the
    candidate set is docs containing BOTH terms. The per-doc distance
    matrix is |pa|x|pb| — occurrence counts of two fixed terms, not
    document length. The final cut is TakeOrderedAndProject (per-
    partition top-20 heaps), so nothing resembling a global sort exists
    at 100 TB. The token array is a NAMED projection column, never the
    raw split expression: a HOF lambda over the raw expression
    re-evaluates the split PER POSITION (O(len^2) per doc — measured
    7.7 s vs 0.35 s at sf0.1; the operators/dedup.py `tokenized`
    helper documents the same CollapseProject rule)."""
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split(F.col("text"), " ").alias("__toks"))
    )
    toks = F.col("__toks")
    # candidate gate BEFORE the positional HOFs, as array_contains (one
    # O(len) pass): a filter on the computed n_hash/n_join columns gets
    # pushed below the projection with the position-filter expressions
    # SUBSTITUTED IN — re-running the O(len^2) lambda for every
    # document (measured 2.98 s vs 0.9 s at sf0.1)
    docs = docs.filter(
        F.array_contains(toks, "hash") & F.array_contains(toks, "join")
    )
    # The gate keeps ~63% of docs (it selects candidates, it does
    # not prune the corpus), so the 4-HOF position projection below is
    # the entry's real cost — and it inherited the documents file's
    # I/O-sized split count (1-2 tasks at sf1.0; the narrow-scan
    # class, session.widen_narrow_scan). Widen the SURVIVORS: the
    # array_contains gate still runs at the scan (pushdown substitutes
    # it below the repartition — O(len) per doc, the cheap part), the
    # exchange then carries candidate (doc_id, __toks) rows and the
    # position HOFs + TakeOrdered heaps run on every core. Conditional,
    # so inert on a real many-split corpus scan. Measured sf1.0: warm
    # median 2.30 s -> 1.43 s (min 1.92 -> 1.29; jobs 2 -> 3, the
    # widen's extra stage; scan+gate alone is ~0.7 s of the residue).
    # Widen HASH-KEYED on doc_id — the keyless form's
    # sortBeforeRepartition locally sorted the survivor (doc_id,
    # token-array) rows inside the 2-task scan stage before fanning out
    # (min 1.279 -> 1.236 s same-session A/B; rows proven identical).
    from ..session import widen_narrow_scan

    docs = widen_narrow_scan(docs, "doc_id")
    pos = F.when(F.size(toks) > 0, F.sequence(F.lit(1), F.size(toks))).otherwise(
        F.array().cast("array<int>")
    )
    pa = F.filter(pos, lambda i: F.element_at(toks, i) == "hash")
    pb = F.filter(pos, lambda i: F.element_at(toks, i) == "join")
    dists = F.flatten(
        F.transform(pa, lambda a: F.transform(pb, lambda b: F.abs(a - b)))
    )
    return (
        docs.select(
            "doc_id",
            F.size(pa).cast("long").alias("n_hash"),
            F.size(pb).cast("long").alias("n_join"),
            F.array_min(dists).cast("long").alias("min_dist"),
        )
        .orderBy("min_dist", "doc_id")
        .limit(20)
    )
