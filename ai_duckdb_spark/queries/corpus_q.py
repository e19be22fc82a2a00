"""Training-corpus assembly queries (SURVEY.md §2.9 [D] north-star
scope): deterministic stratified sampling, token-budget sequence
packing, benchmark decontamination, Gopher-style quality rules. Thin
catalog wrappers over operators/corpus.py; every oracle recomputes the
closed-form semantics independently."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import corpus as cp
from ..operators.textstats import STOPWORDS
from ..tables import load
from .catalog import register

_SAMPLE_RATES = {"en": 0.5, "de": 1.0, "zh": 0.25, "fr": 1.0, "es": 0.1}
_RATES_SQL = " ".join(
    f"WHEN '{lang}' THEN {int(rate * 1000)}" for lang, rate in _SAMPLE_RATES.items()
)
_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)
_BUCKET_SQL = cp.sample_bucket_sql("doc_id")


@register(
    "corpus_hash_sample",
    oracle=f"""
    SELECT lang,
           count(*)                                          AS n_sampled,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sampled_tokens
    FROM documents
    WHERE {_BUCKET_SQL} < CASE lang {_RATES_SQL} ELSE 0 END
    GROUP BY lang
    ORDER BY lang
    """,
)
def corpus_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language stratified sampling (corpus mixing:
    upsample low-resource langs, downsample dominant ones). The keep
    decision is a closed-form hash on doc_id — map-only, reproducible
    across engines and runs, no RNG state to ship."""
    docs = load(spark, sf_dir, "documents")
    sampled = cp.stratified_hash_sample(docs, _SAMPLE_RATES)
    return (
        sampled.groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("sampled_tokens"),
        )
        .orderBy("lang")
    )


@register(
    "corpus_pack_sequences",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT lang,
               CAST(floor(COALESCE(sum(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / 2000) AS BIGINT) AS pack_id,
               n_tokens
        FROM toks
    )
    SELECT lang, pack_id,
           count(*)                      AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
    FROM packed
    GROUP BY lang, pack_id
    ORDER BY lang, pack_id
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (2000-token packs per language):
    contiguous chunking over a deterministic doc order — one window
    shuffle keyed by language, then per-pack accounting. The
    distributed-friendly form of training-sequence packing (true greedy
    bin-packing is serial; contiguous chunking needs no global state)."""
    docs = load(spark, sf_dir, "documents")
    packed = cp.pack_sequences(docs, budget=2000)
    return (
        packed.groupBy("lang", "pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("pack_tokens"))
        .orderBy("lang", "pack_id")
    )


@register(
    "corpus_contamination",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        WHERE len(t) >= 3
    ),
    hits AS (
        SELECT c.doc_id AS doc_id, b.doc_id AS bid, count(DISTINCT c.sh) AS n
        FROM sh c
        JOIN (SELECT * FROM sh WHERE doc_id % 97 = 0) b
          ON c.sh = b.sh AND c.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT)  AS n_matched_shingles,
           count(*)                AS n_benchmark_docs_hit
    FROM hits
    GROUP BY doc_id
    """,
)
def corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing word trigrams with
    any (other) doc of the benchmark set (stand-in: doc_id % 97 == 0).
    Benchmark shingles broadcast — the eval set is small by nature — so
    the check is one scan of the corpus, no shuffle of corpus text."""
    docs = load(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return cp.contaminated_docs(docs, benchmark, shingle_n=3, min_common=1)


@register(
    "corpus_gopher_rules",
    oracle=f"""
    WITH feat AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS BIGINT)                 AS n_tokens,
               CAST(list_aggregate(list_transform(string_split(text, ' '),
                        x -> CAST(length(x) AS BIGINT)), 'sum') AS DOUBLE)
                   / len(string_split(text, ' '))                           AS avg_len,
               CAST(len(list_filter(string_split(text, ' '),
                        x -> x IN ({_STOP_SQL}))) AS DOUBLE)
                   / len(string_split(text, ' '))                           AS stop_ratio,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' '))                           AS distinct_ratio
        FROM documents
    ),
    flags AS (
        SELECT lang,
               (n_tokens >= 5 AND n_tokens <= 10000)    AS ok_token_count,
               (avg_len >= 2.0 AND avg_len <= 12.0)     AS ok_avg_token_len,
               (stop_ratio <= 0.6)                      AS ok_stopword_ratio,
               (distinct_ratio > 0.2)                   AS ok_repetition
        FROM feat
    )
    SELECT lang,
           count(*)                                              AS n_docs,
           CAST(sum(CASE WHEN ok_token_count THEN 1 ELSE 0 END) AS BIGINT)   AS n_ok_token_count,
           CAST(sum(CASE WHEN ok_avg_token_len THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_avg_token_len,
           CAST(sum(CASE WHEN ok_stopword_ratio THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_stopword_ratio,
           CAST(sum(CASE WHEN ok_repetition THEN 1 ELSE 0 END) AS BIGINT)    AS n_ok_repetition,
           CAST(sum(CASE WHEN ok_token_count AND ok_avg_token_len
                          AND ok_stopword_ratio AND ok_repetition
                     THEN 1 ELSE 0 END) AS BIGINT)                           AS n_passes_all
    FROM flags
    GROUP BY lang
    ORDER BY lang
    """,
)
def corpus_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule accounting per language: how many docs
    pass each deterministic threshold rule and all of them together.
    Features are exact integer ratios (bit-identical cross-engine), so
    the boolean thresholds are oracle-safe."""
    docs = load(spark, sf_dir, "documents")
    flags = cp.gopher_quality_flags(docs)
    as_n = lambda c: F.sum(F.col(c).cast("long")).alias(f"n_{c}")  # noqa: E731
    return (
        flags.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            as_n("ok_token_count"),
            as_n("ok_avg_token_len"),
            as_n("ok_stopword_ratio"),
            as_n("ok_repetition"),
            F.sum(F.col("passes_all").cast("long")).alias("n_passes_all"),
        )
        .orderBy("lang")
    )


_EMAIL_RE = cp.PII_PATTERNS["email"]
_PHONE_RE = cp.PII_PATTERNS["phone"]
_IPV4_RE = cp.PII_PATTERNS["ipv4"]


@register(
    "corpus_pii_scrub",
    oracle=f"""
    WITH seeded AS (
        SELECT lang,
               text
               || CASE WHEN doc_id % 3 = 0
                       THEN ' u' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                            || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)
                       ELSE '' END AS text
        FROM documents
    ),
    cleaned AS (
        SELECT lang, text,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PHONE_RE}', '<PHONE>', 'g'),
                   '{_IPV4_RE}', '<IPV4>', 'g') AS ct
        FROM seeded
    ),
    scrubbed AS (
        -- counts = redactions PERFORMED (sequential semantics), the same
        -- literal sentinel-delta formula the engine uses — input-agnostic
        -- pairing even when a match of one kind swallows another kind's
        -- match (operators/corpus.py scrub_pii exactness notes)
        SELECT lang,
               (length(ct) - length(replace(ct, '<EMAIL>', ''))) // 7
                 - (length(text) - length(replace(text, '<EMAIL>', ''))) // 7 AS n_email,
               (length(ct) - length(replace(ct, '<PHONE>', ''))) // 7
                 - (length(text) - length(replace(text, '<PHONE>', ''))) // 7 AS n_phone,
               (length(ct) - length(replace(ct, '<IPV4>', ''))) // 6
                 - (length(text) - length(replace(text, '<IPV4>', ''))) // 6 AS n_ipv4,
               length(text) - length(ct) AS chars_delta
        FROM cleaned
    )
    SELECT lang,
           count(*)                                        AS n_docs,
           CAST(sum(n_email) AS BIGINT)                    AS total_emails,
           CAST(sum(n_phone) AS BIGINT)                    AS total_phones,
           CAST(sum(n_ipv4) AS BIGINT)                     AS total_ipv4,
           CAST(sum(CASE WHEN n_email + n_phone + n_ipv4 > 0
                    THEN 1 ELSE 0 END) AS BIGINT)          AS n_docs_with_pii,
           CAST(sum(chars_delta) AS BIGINT)                AS redacted_chars_delta
    FROM scrubbed
    GROUP BY lang
    ORDER BY lang
    """,
)
def corpus_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction accounting (operators/corpus.py scrub_pii): the
    privacy pass every training corpus runs. The fixture carries no PII,
    so payloads are seeded deterministically from doc_id (emails on %3,
    NANP-style phones on %5, IPv4 on %7 — the synthesize-then-verify
    pattern the multimodal tier uses); the scrub itself is the real
    operator — regexp_count + regexp_replace chains, map-only, zero
    Python. The oracle re-seeds and re-scrubs independently with the
    same RE2∩Java-safe patterns.

    The regex chain is CPU-dense per row, so the (lang, doc_id, text)
    projection is widened past I/O-sized splits first (the stage-width
    class, session.widen_narrow_scan; conditional, inert on a many-split
    scan). Measured sf1.0: 3.3 s -> 1.1 s (2.3x vs DuckDB, with the 3-pass scrub)."""
    from ..session import widen_narrow_scan

    docs = widen_narrow_scan(
        load(spark, sf_dir, "documents").select("lang", "doc_id", "text")
    )
    seeded = docs.select(
        "lang",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" u"), F.col("doc_id").cast("string"), F.lit("@mail.example.com")
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" 555-010-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit("."),
                    ((F.col("doc_id") * 3) % 256).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    scrubbed = cp.scrub_pii(seeded)
    any_pii = (F.col("n_email") + F.col("n_phone") + F.col("n_ipv4")) > 0
    return (
        scrubbed.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_email").cast("long").alias("total_emails"),
            F.sum("n_phone").cast("long").alias("total_phones"),
            F.sum("n_ipv4").cast("long").alias("total_ipv4"),
            F.sum(any_pii.cast("long")).alias("n_docs_with_pii"),
            F.sum(F.length("text") - F.length("clean_text")).cast("long").alias(
                "redacted_chars_delta"
            ),
        )
        .orderBy("lang")
    )


@register(
    "corpus_source_rebalance",
    oracle=f"""
    WITH counts AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
    tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM counts),
    rates AS (
        SELECT source,
               least(1000, CAST(floor(30 * t.n / c.n_s) AS BIGINT)) AS keep_permille
        FROM counts c, tot t
    ),
    kept AS (
        SELECT d.source
        FROM documents d JOIN rates r USING (source)
        WHERE {_BUCKET_SQL} < r.keep_permille
    ),
    kept_counts AS (SELECT source, count(*) AS n_after FROM kept GROUP BY 1)
    SELECT c.source,
           c.n_s                        AS n_before,
           COALESCE(k.n_after, 0)       AS n_after,
           r.keep_permille
    FROM counts c
    JOIN rates r USING (source)
    LEFT JOIN kept_counts k USING (source)
    ORDER BY c.source
    """,
)
def corpus_source_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing (operators/corpus.py rebalance_by_source):
    cap every source at 30‰ of the corpus by deterministic closed-form
    downsampling — integer keep-rates derived from a tiny per-source
    count that broadcasts back, then a map-only keep decision (the
    corpus itself never shuffles). Output is the before/after mix plus
    the applied rate per source; the oracle recomputes the whole scheme
    independently."""
    docs = load(spark, sf_dir, "documents")
    kept = cp.rebalance_by_source(docs, cap_permille=30)
    before = docs.groupBy("source").agg(F.count("*").alias("n_before"))
    after = kept.groupBy("source").agg(F.count("*").alias("n_after"))
    total = before.agg(F.sum("n_before").alias("__n_total"))
    keep_rate = F.least(
        F.lit(1000).cast("long"),
        F.floor(F.lit(30) * F.col("__n_total") / F.col("n_before")).cast("long"),
    )
    return (
        before.crossJoin(F.broadcast(total))
        .join(after, "source", "left")
        .select(
            "source",
            "n_before",
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
            keep_rate.alias("keep_permille"),
        )
        .orderBy("source")
    )


@register(
    "corpus_train_split",
    oracle=f"""
    SELECT lang,
           CASE WHEN {_BUCKET_SQL} < 800 THEN 'train'
                WHEN {_BUCKET_SQL} < 900 THEN 'val'
                ELSE 'test' END AS split,
           count(*)                                          AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS split_tokens
    FROM documents
    GROUP BY 1, 2
    ORDER BY lang, split
    """,
)
def corpus_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by the
    closed-form doc_id hash bucket — reproducible across engines, runs,
    and re-ingests (no RNG state), stratification read off per language.
    Map-only split decision + one accounting shuffle."""
    docs = load(spark, sf_dir, "documents")
    bucket = cp.sample_bucket("doc_id")
    split = (
        F.when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test")
    )
    return (
        docs.groupBy("lang", split.alias("split"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " "))).cast("bigint").alias(
                "split_tokens"
            ),
        )
        .orderBy("lang", "split")
    )


@register(
    "corpus_temperature_resample",
    oracle=f"""
    WITH counts AS (SELECT lang, count(*) AS n_l FROM documents GROUP BY 1),
    s AS (SELECT lang, n_l, CAST(floor(sqrt(n_l)) AS BIGINT) AS s_l FROM counts),
    tot AS (SELECT CAST(sum(s_l) AS BIGINT) AS S FROM s),
    rates AS (
        SELECT lang, n_l,
               CAST(floor(1000 * 500 * s_l / (S * n_l)) AS BIGINT) AS rate
        FROM s, tot
    ),
    frac AS (
        SELECT d.lang, count(*) AS n_frac
        FROM documents d JOIN rates r USING (lang)
        WHERE {_BUCKET_SQL} < r.rate % 1000
        GROUP BY d.lang
    )
    SELECT r.lang,
           r.n_l                                             AS n_before,
           (r.rate // 1000) * r.n_l + COALESCE(f.n_frac, 0)  AS n_after,
           r.rate                                            AS keep_permille
    FROM rates r LEFT JOIN frac f USING (lang)
    ORDER BY r.lang
    """,
)
def corpus_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual mixing (operators/corpus.py
    temperature_resample — the mT5/XLM-R scheme at T=2): sampling
    probability ∝ sqrt(corpus share), so the dominant language is
    downsampled while low-resource languages are UPSAMPLED by
    deterministic replication (map-side sequence explode — the corpus
    never shuffles; rates come from a broadcast per-language count).
    Output is the before/after mix with the applied permille rate; the
    oracle reproduces the integer-safe rate derivation and the
    replication rule independently."""
    docs = load(spark, sf_dir, "documents")
    resampled = cp.temperature_resample(docs, target_total=500)
    before = docs.groupBy("lang").agg(F.count("*").alias("n_before"))
    after = resampled.groupBy("lang").agg(F.count("*").alias("n_after"))
    s_l = F.floor(F.sqrt(F.col("n_before"))).cast("long")
    weights = before.select("lang", "n_before", s_l.alias("__s_l"))
    total_s = weights.agg(F.sum("__s_l").alias("__S"))
    return (
        weights.crossJoin(F.broadcast(total_s))
        .join(after, "lang", "left")
        .select(
            "lang",
            "n_before",
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
            F.floor(
                F.lit(1000) * F.lit(500) * F.col("__s_l")
                / (F.col("__S") * F.col("n_before"))
            )
            .cast("long")
            .alias("keep_permille"),
        )
        .orderBy("lang")
    )



@register(
    "corpus_chunk_windows",
    oracle="""
    WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
    k AS (
        SELECT doc_id, n,
               CASE WHEN n <= 32 THEN 1
                    ELSE 1 + CAST(ceil((n - 32) / 24.0) AS BIGINT) END AS n_chunks
        FROM d
    ),
    c AS (SELECT doc_id, n, unnest(range(0, n_chunks)) AS idx FROM k)
    SELECT doc_id,
           CAST(idx AS INT)                      AS chunk_idx,
           CAST(least(32, n - idx * 24) AS INT)  AS n_chunk_tokens
    FROM c
    ORDER BY doc_id, chunk_idx
    """,
)
def corpus_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking THROUGH a Python UDTF (X2 table-function
    tier × corpus prep): docs fan out to overlapping 32-token / stride-24
    windows inside the Python worker, invoked from SQL as a LATERAL
    correlated table function — map-side row expansion, no shuffle. The
    oracle reproduces the chunk geometry (count per doc, size of each
    chunk) in closed form, so the UDTF's emission rule is what's
    actually verified.

    No ORDER BY: the driver's value hash is
    order-insensitive and nothing downstream consumes the chunks sorted,
    so the former global ``ORDER BY doc_id, chunk_idx`` was a pure
    rangepartition+sort exchange appended to an otherwise shuffle-free
    map plan (6.8x at sf1.0 with the sort; the oracle keeps its ORDER BY
    — it never binds the comparison). Plan-gated shuffle-free in
    tests/test_plans.py."""
    from ..functions.udf import register_chunk_udtf
    from ..tables import register_views

    register_chunk_udtf(spark)
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(
        """
        SELECT c.doc_id, c.chunk_idx, c.n_chunk_tokens
        FROM documents d, LATERAL chunk_doc(d.doc_id, d.text) c
        """
    )


_LEN_BUCKETS = [16, 32, 64, 128, 256, 512, 1024, 2048, 4096]


def _bucket_case_sql() -> str:
    arms = " ".join(
        f"WHEN n_tok <= {b} THEN {b}" for b in _LEN_BUCKETS
    )
    return f"CASE {arms} ELSE {2 * _LEN_BUCKETS[-1]} END"


@register(
    "corpus_length_buckets",
    oracle=f"""
    WITH t AS (
        SELECT len(string_split(text, ' ')) AS n_tok FROM documents
    ),
    b AS (SELECT n_tok, {_bucket_case_sql()} AS bucket_len FROM t)
    SELECT bucket_len,
           count(*)                       AS n_docs,
           CAST(sum(n_tok) AS BIGINT)     AS total_tokens,
           CAST(sum(n_tok) AS DOUBLE)
             / (bucket_len * count(*))    AS utilization
    FROM b
    GROUP BY bucket_len
    ORDER BY bucket_len
    """,
)
def corpus_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length bucketing for training batch assembly (corpus tier):
    route each document to the smallest power-of-two sequence bucket
    that holds it and account the padding waste per bucket — the
    batching layout that minimizes pad tokens when a trainer packs
    fixed-shape batches (the alternative to concat-packing, which
    corpus_pack_sequences covers).

    Exactness: bucket routing is an integer CASE ladder; utilization is
    one division of an exact BIGINT token sum by an exact slot count —
    identical operands, identical bits. Scale shape: map-side CASE +
    one tiny shuffle over ≤10 bucket keys; at 100 TB this is scan-bound
    with a few-row result."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).alias("n_tok")
    bucket = F.lit(2 * _LEN_BUCKETS[-1])
    for b in reversed(_LEN_BUCKETS):
        bucket = F.when(F.col("n_tok") <= b, F.lit(b)).otherwise(bucket)
    t = docs.select(n_tok).select("n_tok", bucket.alias("bucket_len"))
    return (
        t.groupBy("bucket_len")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            (
                F.sum("n_tok").cast("double")
                / (F.col("bucket_len") * F.count("*"))
            ).alias("utilization"),
        )
        .orderBy("bucket_len")
    )


@register(
    "corpus_weighted_sample",
    oracle="""
    WITH pri AS (
        SELECT doc_id, lang, n_chars,
               -ln((((doc_id % 1000003) * 10007 + 12345) % 1000003 + 1)
                   / 1000003.0) / n_chars AS key
        FROM documents
    )
    SELECT doc_id, lang, n_chars AS weight_chars,
           round(key, 9) AS priority
    FROM pri
    ORDER BY priority, doc_id
    LIMIT 100
    """,
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    priority sampling, the one-pass distributed form): keep the 100
    documents with the smallest ``-ln(u)/w`` exponential key, where the
    weight w is n_chars — the quality/length-weighted corpus
    subsampling step (longer docs proportionally likelier), the
    continuous-weight generalization of corpus_hash_sample's stratified
    rates and corpus_temperature_resample's closed-form language rates.

    Scale shape: the key is one map-side expression per row (no RNG
    state — u comes from the same portable GF(1000003) mix as
    sample_bucket, so reruns and engines agree) and the selection plans
    as TakeOrderedAndProject: per-partition top-100 heaps, one driver
    merge, no global sort, no shuffle of non-winners. Keys round to 9
    decimals BEFORE ordering (ties → doc_id) so a last-ulp ``ln``
    divergence cannot flip the boundary."""
    docs = load(spark, sf_dir, "documents")
    u = (
        ((F.col("doc_id") % cp._MIX_PRIME) * cp._MIX_MULT + cp._MIX_ADD)
        % cp._MIX_PRIME
        + 1
    ) / F.lit(float(cp._MIX_PRIME))
    key = -F.log(u) / F.col("n_chars")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.col("n_chars").alias("weight_chars"),
            F.round(key, 9).alias("priority"),
        )
        .orderBy("priority", "doc_id")
        .limit(100)
    )


@register(
    "corpus_dsir_select",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang = 'en' AS tgt, string_split(text, ' ') AS l
        FROM documents
    ),
    grams AS (
        SELECT doc_id, tgt, l[i] || ' ' || l[i+1] AS gram
        FROM toks, unnest(generate_series(1, len(l) - 1)) r(i)
    ),
    counts AS (
        SELECT gram,
               CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS t,
               CAST(count(*) AS BIGINT)                             AS r
        FROM grams GROUP BY gram
    ),
    scored AS (
        SELECT g.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(c.t) AS BIGINT) AS sum_target,
               CAST(sum(c.r) AS BIGINT) AS sum_raw
        FROM grams g JOIN counts c USING (gram)
        GROUP BY g.doc_id
    )
    SELECT doc_id, n_grams, sum_target, sum_raw,
           sum_target / CAST(sum_raw AS DOUBLE) AS importance
    FROM scored
    ORDER BY importance DESC, doc_id
    LIMIT 100
    """,
)
def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023 — importance
    resampling toward a target distribution, here the lang='en' slice):
    keep the 100 documents whose bigram occurrences have the highest
    average target-share, scored with INTEGER corpus-frequency sums and
    one IEEE division (bit-identical cross-engine, the repo's
    exactness discipline; the paper's hashed-multinomial log-ratio is
    available as the xxhash64-bucketed n_buckets variant of the
    operator — engine-internal hash, so that path stays rows-only).
    One groupBy(gram) shuffle builds target and overall counts together
    (conditional agg); top-k plans as TakeOrderedAndProject
    (operators/corpus.py dsir_importance_select)."""
    docs = load(spark, sf_dir, "documents")
    return cp.dsir_importance_select(
        docs, F.col("lang") == "en", "doc_id", "text", k=100
    )


@register(
    "corpus_exactk_sample",
    oracle="""
    SELECT doc_id, lang, rank
    FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(doc_id::VARCHAR), doc_id
               ) AS rank
        FROM documents
    )
    WHERE rank <= 200
    """,
)
def corpus_exactk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-k-per-stratum sampling: exactly 200 docs per
    language, drawn by content-hash order — the fixed-budget companion
    to the rate-based corpus_stratified_sample (a rate draw's stratum
    size is binomial; an eval-set or annotation budget needs exactly k).
    Hash order makes the draw reproducible under any partitioning,
    engine, or retry; the doc_id tiebreak makes row_number total.

    Scale shape: one window shuffle keyed by stratum. The rank is only
    needed up to k, so at 100 TB the window is preceded by a cheap
    hash-prefix pre-filter (keep rows with md5 < bound chosen so ~3k
    survive per stratum, exact by construction since md5 order IS the
    sort key) — the same two-phase trick TakeOrderedAndProject plays
    for global top-k; at fixture scale the plain window is the honest
    measure."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= 200)
    )


@register(
    "corpus_stratified_sample",
    oracle="""
    SELECT lang, source,
           count(*) AS n_total,
           CAST(count(*) FILTER (
               WHERE substr(md5(doc_id::VARCHAR), 1, 2) <
                     CASE lang WHEN 'en' THEN '10'
                               WHEN 'zh' THEN '80'
                               ELSE '40' END) AS BIGINT) AS n_kept
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified subsampling accounting: the
    data-mixture step that downsamples the over-represented language
    head (en kept at 16/256) while keeping the tail (others 64/256, zh
    128/256), gated by a CONTENT HASH so the draw is reproducible under
    any partitioning, engine, or retry — the property seeded sample()
    lacks (see sampled_lineitem_stats). One scan, map-side gate, one
    small groupBy; md5 is bit-identical across Spark and DuckDB so the
    whole accounting is oracle-exact
    (operators/textstats.py stratified_hash_sample_stats)."""
    from ..operators.textstats import stratified_hash_sample_stats

    docs = load(spark, sf_dir, "documents")
    return stratified_hash_sample_stats(
        docs,
        ["lang", "source"],
        F.col("doc_id").cast("string"),
        rates={"en": "10", "zh": "80"},
        rate_col="lang",
        default_gate="40",
    )
