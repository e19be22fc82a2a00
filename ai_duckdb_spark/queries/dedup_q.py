"""Deduplication queries over the documents fixture (SURVEY.md §2.9 X6
[D]): exact, normalized-exact, exact n-gram Jaccard (oracle-checked), and
the approximate scale tiers MinHash+LSH / SimHash (rows-only — their hash
families are Spark-internal murmur3/xxhash64, not expressible in portable
oracle SQL; the exact Jaccard entry is their ground-truth check instead)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup
from ..operators import similarity as sim_ops
from ..operators.cluster import connected_components_twophase
from ..tables import load
from .caches import session_memo
from .catalog import register


@register(
    "dedup_exact_fulltext",
    oracle="""
    SELECT count(*)                             AS n_rows,
           count(DISTINCT text)                 AS n_distinct_text,
           count(*) - count(DISTINCT text)      AS n_exact_dups
    FROM documents
    """,
)
def dedup_exact_fulltext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact full-text dedup accounting (hash-groupBy distinct)."""
    docs = load(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("text").alias("n_distinct_text"),
        (F.count("*") - F.countDistinct("text")).alias("n_exact_dups"),
    )


@register(
    "dedup_exact_token_set",
    oracle="""
    SELECT array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS dedup_key,
           min(doc_id) AS keep_id,
           count(*)    AS dup_count
    FROM documents
    GROUP BY 1
    HAVING count(*) > 1
    """,
)
def dedup_exact_token_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized exact dedup: canonical key = sorted distinct token set.

    Deterministic survivor rule (min doc_id) so the result is a stable
    relation, not an arbitrary dropDuplicates pick.
    """
    docs = load(spark, sf_dir, "documents")
    return dedup.exact_duplicate_groups(docs, "doc_id", dedup.normalized_token_set_key("text"))


@register(
    "dedup_jaccard_pairs",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
        WHERE doc_id < 1000
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id1, id2,
           CAST(n_common AS DOUBLE) / (s1.sz + s2.sz - n_common) AS jaccard
    FROM inter
    JOIN sizes s1 ON inter.id1 = s1.doc_id
    JOIN sizes s2 ON inter.id2 = s2.doc_id
    WHERE CAST(n_common AS DOUBLE) / (s1.sz + s2.sz - n_common) >= 0.9
    """,
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-duplicate pairs (token-set Jaccard >= 0.9) via an
    inverted-index self-join — ground truth for the approximate tiers.

    Bounded to doc_id < 1000: the exact pair join is quadratic in
    postings, which is precisely why MinHash/LSH is the unbounded path.
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return dedup.jaccard_pairs_exact(docs, "doc_id", "text", threshold=0.9)


@register(
    "dedup_containment_pairs",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
        WHERE doc_id < 1000
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS nc
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    paired AS (
        SELECT ida, idb, nc, sa.sz AS sza, sb.sz AS szb
        FROM inter
        JOIN sizes sa ON ida = sa.doc_id
        JOIN sizes sb ON idb = sb.doc_id
    )
    SELECT contained_id, container_id, containment FROM (
        SELECT ida AS contained_id, idb AS container_id,
               CAST(nc AS DOUBLE) / sza AS containment
        FROM paired
        UNION ALL
        SELECT idb AS contained_id, ida AS container_id,
               CAST(nc AS DOUBLE) / szb AS containment
        FROM paired
    ) WHERE containment >= 0.9
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment near-dups (Broder's containment
    coefficient): ordered pairs where >= 90% of the contained doc's
    token set appears in the container — the doc-in-doc duplication
    (quotes, wrapper pages, aggregator reposts) that symmetric Jaccard
    structurally misses (a short doc quoted inside a long one has
    J ~ |short|/|long| but containment ~ 1). Bounded to doc_id < 1000
    like the exact-Jaccard tier: one unordered inverted-index join
    feeds both directions (operators/dedup.py containment_pairs_exact),
    and the unbounded scale path is prefix-filtering on the CONTAINED
    side only (no container-length bound exists by construction)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return dedup.containment_pairs_exact(docs, "doc_id", "text", threshold=0.9)


@register(
    "dedup_prefix_jaccard_pairs",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id1, id2,
           CAST(n_common AS DOUBLE) / (s1.sz + s2.sz - n_common) AS jaccard
    FROM inter
    JOIN sizes s1 ON inter.id1 = s1.doc_id
    JOIN sizes s2 ON inter.id2 = s2.doc_id
    WHERE CAST(n_common AS DOUBLE) / (s1.sz + s2.sz - n_common) >= 0.9
    """,
)
def dedup_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard pairs over the FULL corpus via prefix-filter AllPairs
    (Bayardo WWW'07) — the exact tier that stays sub-quadratic at scale,
    driver-checked unbounded (the plain inverted-index entry above stays
    bounded precisely because it is quadratic in postings). Only prefix
    postings of the rarest tokens enter the self-join; stopword postings
    never do."""
    docs = load(spark, sf_dir, "documents")
    return dedup.jaccard_pairs_prefix(docs, "doc_id", "text", threshold=0.9)


@session_memo("minhash_core")
def _minhash_core_cached(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The (groups, rep_pairs) MinHash→LSH→verify core at the catalog's
    (t=0.8, 32 hashes, 8 bands), built ONCE per corpus and shared by
    both granularity tiers (dedup_minhash_lsh pair output,
    dedup_minhash_components connectivity output) — otherwise each
    bench pass pays the same ~10 s core twice. rep_pairs is
    lazily localCheckpointed here (groups and the signature relation
    already are, inside _minhash_rep_pairs) so the second consumer
    reads materialized partitions instead of re-running banding+verify."""
    docs = load(spark, sf_dir, "documents")
    groups, rep_pairs = dedup._minhash_rep_pairs(
        docs, "doc_id", "text", threshold=0.8, num_hashes=32, bands=8
    )
    return groups, rep_pairs.localCheckpoint(eager=False)


@register("dedup_minhash_lsh", oracle=None)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH(8 bands) candidates, verified to Jaccard >= 0.8.

    The 100 TB dedup path: candidate generation is linear in docs × bands
    (bucket equi-join), never the O(n²) pair space. Rows-only check —
    murmur3 seeds are Spark-internal; recall is pytest-checked against
    the exact tier instead (tests/test_dedup.py). The MinHash core is
    shared with dedup_minhash_components via _minhash_core_cached.
    """
    docs = load(spark, sf_dir, "documents")
    # no ORDER BY: the output is ~3M pairs at sf0.1 and a global range
    # sort of a pair relation nobody consumes sorted costs more than the
    # whole candidate+verify pipeline (rows-only check needs no order)
    return dedup.minhash_near_duplicates(
        docs, "doc_id", "text", threshold=0.8, num_hashes=32, bands=8,
        core=_minhash_core_cached(spark, sf_dir),
    )


@register("dedup_minhash_components", oracle=None)
def dedup_minhash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH dedup at CONNECTIVITY granularity: verified LSH
    rep-pair graph → O(log n) connected components → one survivor per
    component, WITHOUT materializing the quadratic member-pair relation
    (a 1M-doc duplicate cluster implies 5·10¹¹ pairs; its component
    output is 1M rows). The form a 100 TB dedup pipeline actually
    consumes. Rows-only check (Spark-internal hash family); grouping
    recall is pytest-checked against the exact-Jaccard components
    (tests/test_operators.py). Shares the checkpointed MinHash core
    with dedup_minhash_lsh, and checkpoints its own label frame once
    per corpus (one core build + one contraction loop per session)."""
    docs = load(spark, sf_dir, "documents")
    return dedup.minhash_components(
        docs, "doc_id", "text",
        labels=_minhash_labels_cached(spark, sf_dir),
    ).orderBy("doc_id")


@session_memo("minhash_component_labels")
def _minhash_labels_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed component labels of the verified MinHash rep-pair
    graph, once per (session, corpus) — shared by the entry above and
    the bench's index_build line (queries/caches.py)."""
    groups, rep_pairs = _minhash_core_cached(spark, sf_dir)
    return dedup.minhash_component_labels(groups, rep_pairs).localCheckpoint(
        eager=False
    )


@register("dedup_simhash", oracle=None)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document (xxhash64 bit votes).

    Rows-only: the fingerprint value depends on Spark's xxhash64. Pair
    extraction at hamming distance <= 6 is exercised in
    tests/test_dedup.py via simhash_near_duplicates.
    """
    docs = load(spark, sf_dir, "documents")
    return dedup.simhash64(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "dedup_simhash_portable",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents WHERE doc_id < 1000
    ),
    h AS (
        SELECT doc_id,
               CAST(list_sum(list_transform(range(1, 16),
                   p -> (strpos('0123456789abcdef', substr(md5(tok), p, 1)) - 1)::BIGINT
                        << (4 * (15 - p)))) AS BIGINT) AS hv
        FROM toks
    ),
    votes AS (
        SELECT doc_id, b,
               sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM h, unnest(range(0, 60)) r(b)
        GROUP BY doc_id, b
    ),
    fp AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS f
        FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.f, b.f)) <= 3
    """,
)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, ORACLE-PAIRED: the fingerprint
    is a 60-bit majority vote over md5-derived token bits
    (operators/dedup.py simhash60_md5) — a pure integer function of the
    data, so DuckDB recomputes every fingerprint and every hamming
    distance bit-for-bit. This graduates the SimHash capability class
    from rows-only (the xxhash64 tier, whose hash family is
    engine-internal) to hash-exact at the driver, the same move that
    graduated sampled_lineitem_stats.

    The Spark side pairs through the lossless pigeonhole blocking
    (4 blocks for hamming <= 3 — a pair differing in <= 3 bits shares
    at least one untouched block), never the quadratic all-pairs; the
    oracle brute-forces the same relation, which is why the entry is
    doc_id-bounded like the other exact ground-truth tiers."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    sigs = dedup.simhash60_md5(docs, "doc_id", "text")
    return dedup.simhash_pairs_from_sigs(sigs, max_hamming=3)


# The shared CTE prefix of both portable-MinHash oracles: md5-permuted
# 60-bit signatures (12 hashes), 4 exact band slices, banded candidates,
# exact-Jaccard verify at >= 0.8 — the bit-for-bit DuckDB recomputation
# of minhash_signatures_md5 + minhash_banded_pairs_exact + verify.
_MINHASH_PORTABLE_ORACLE_PAIRS = """
    toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents WHERE doc_id < 1000
    ),
    hv AS (
        SELECT doc_id, p,
               min(CAST(list_sum(list_transform(range(1, 16),
                   q -> (strpos('0123456789abcdef',
                         substr(md5(CAST(p AS VARCHAR) || ':' || tok), q, 1)) - 1)::BIGINT
                        << (4 * (15 - q)))) AS BIGINT)) AS m
        FROM toks, unnest(range(0, 12)) r(p)
        GROUP BY doc_id, p
    ),
    bands AS (
        SELECT doc_id, p // 3 AS band,
               string_agg(CAST(m AS VARCHAR), ',' ORDER BY p) AS slice
        FROM hv GROUP BY doc_id, p // 3
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.slice = b.slice AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
        SELECT c.id1, c.id2, count(*) AS nc
        FROM cand c
        JOIN toks a ON a.doc_id = c.id1
        JOIN toks b ON b.doc_id = c.id2 AND b.tok = a.tok
        GROUP BY c.id1, c.id2
    ),
    verified AS (
        SELECT i.id1, i.id2,
               CAST(nc AS DOUBLE) / (s1.sz + s2.sz - nc) AS jaccard
        FROM inter i
        JOIN sizes s1 ON i.id1 = s1.doc_id
        JOIN sizes s2 ON i.id2 = s2.doc_id
        WHERE CAST(nc AS DOUBLE) / (s1.sz + s2.sz - nc) >= 0.8
    )
"""


@session_memo("portable_minhash_pairs")
def _minhash_portable_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified portable-MinHash pairs (id1, id2, jaccard), built once
    per (session, corpus) and shared by the pair-level and connectivity
    entries — the same share-the-core move as _minhash_core_cached."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    sigs = dedup.minhash_signatures_md5(docs, "doc_id", "text", num_hashes=12)
    cand = dedup.minhash_banded_pairs_exact(sigs, bands=4)
    tok = dedup._token_sets(docs, "doc_id", "text")
    jac = F.size(F.array_intersect("__t1", "__t2")).cast("double") / F.size(
        F.array_union("__t1", "__t2")
    )
    pairs = (
        cand.join(
            tok.select(F.col("__id").alias("id1"), F.col("__tokens").alias("__t1")),
            "id1",
        )
        .join(
            tok.select(F.col("__id").alias("id2"), F.col("__tokens").alias("__t2")),
            "id2",
        )
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.8)
        .select("id1", "id2", "jaccard")
    )
    return pairs.localCheckpoint(eager=False)


@register(
    "dedup_minhash_portable",
    oracle="WITH " + _MINHASH_PORTABLE_ORACLE_PAIRS + """
    SELECT id1, id2, jaccard FROM verified
    """,
)
def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, ORACLE-PAIRED: md5-derived
    permutations (operators/dedup.py minhash_signatures_md5 — 60-bit
    integer from the first 15 hex chars of md5(perm ':' token)) make
    every signature component a pure function of the data, and the
    banding joins on the literal band slice (minhash_banded_pairs_exact,
    collision-free by construction), so DuckDB recomputes the ENTIRE
    pipeline — signatures, band collisions, exact-Jaccard verify —
    bit-for-bit. This graduates the MinHash family from rows-only to
    hash-exact at the driver, the same md5-portable move that graduated
    SimHash (dedup_simhash_portable above); the murmur3/xxhash64
    production tiers (dedup_minhash_lsh/_components) stay the fast path,
    with recall pytests vs the exact tier as before.

    Both engines run the SAME sub-quadratic banded shape (the oracle's
    band self-join is on (band, slice), never all-pairs); the entry is
    doc_id-bounded like the other exact ground-truth tiers so the
    oracle's string-token verify stays cheap at any SF."""
    return _minhash_portable_pairs_cached(spark, sf_dir)


# The first formulation of the connectivity oracle: naive min-label
# reachability over a recursive CTE. Kept as the equivalence REFERENCE
# (tests/test_scale_oracles.py proves the registered contracted form
# below computes the identical relation), no longer the registered
# oracle: DuckDB inlines multiply-referenced CTEs, so every recursion
# round re-evaluated the md5-heavy `verified` prefix TWICE — ~85 s of
# the sf0.1 bench's duck side and 224.6 s at sf1.0.
_MINHASH_PORTABLE_COMPONENTS_NAIVE_ORACLE = (
    "WITH RECURSIVE " + _MINHASH_PORTABLE_ORACLE_PAIRS + """,
    edges AS (
        SELECT id1 AS a, id2 AS b FROM verified
        UNION ALL
        SELECT id2 AS a, id1 AS b FROM verified
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.a, r.lbl FROM reach r JOIN edges e ON e.b = r.node
    )
    SELECT node AS doc_id, min(lbl) AS component
    FROM reach
    GROUP BY node
    """
)


@register(
    "dedup_minhash_portable_components",
    # Finishable connectivity oracle: MATERIALIZE the
    # md5-heavy pair CTE so recursion rounds stop re-evaluating it, then
    # two min-label CONTRACTION rounds (the large-star/small-star hooking
    # step: l(v) = min(v, min(neighbors)), edges re-keyed to labels) —
    # near-dup clusters are dense, so two rounds collapse almost every
    # component to its min-id representative — and a recursive min-label
    # reachability pass over the tiny residual graph for exactness on
    # whatever chain-shaped components survive. Composition is exact:
    # the component's min id m always satisfies l(m) = m, so it survives
    # every contraction as its own representative, and a node whose label
    # is isolated at level k is fully resolved (all edges inside its
    # group), so the coalesce chain walks v -> l1 -> l2 -> residual.
    # Equivalence to the naive reachability form is machine-checked at
    # sf0.01 (tests/test_scale_oracles.py); measured sf0.1 duck side
    # ~85 s -> well under 10 s, sf1.0 224.6 s -> seconds.
    oracle="WITH RECURSIVE "
    + _MINHASH_PORTABLE_ORACLE_PAIRS.replace(
        "verified AS (", "verified AS MATERIALIZED ("
    )
    + """,
    edges0 AS MATERIALIZED (
        SELECT id1 AS a, id2 AS b FROM verified
        UNION ALL
        SELECT id2 AS a, id1 AS b FROM verified
    ),
    l1 AS MATERIALIZED (
        SELECT a AS node, least(a, min(b)) AS lbl FROM edges0 GROUP BY a
    ),
    e1 AS MATERIALIZED (
        SELECT DISTINCT la.lbl AS a, lb.lbl AS b
        FROM edges0 e JOIN l1 la ON la.node = e.a JOIN l1 lb ON lb.node = e.b
        WHERE la.lbl <> lb.lbl
    ),
    l2 AS MATERIALIZED (
        SELECT a AS node, least(a, min(b)) AS lbl FROM e1 GROUP BY a
    ),
    e2 AS MATERIALIZED (
        SELECT DISTINCT la.lbl AS a, lb.lbl AS b
        FROM e1 e JOIN l2 la ON la.node = e.a JOIN l2 lb ON lb.node = e.b
        WHERE la.lbl <> lb.lbl
    ),
    nodes2 AS (SELECT DISTINCT a AS node FROM e2),
    reach(node, lbl) AS (
        SELECT node, node FROM nodes2
        UNION
        SELECT e.a, r.lbl FROM reach r JOIN e2 e ON e.b = r.node
    ),
    resid AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node)
    SELECT l1.node AS doc_id,
           coalesce(f.lbl, l2.lbl, l1.lbl) AS component
    FROM l1
    LEFT JOIN l2 ON l2.node = l1.lbl
    LEFT JOIN resid f ON f.node = coalesce(l2.lbl, l1.lbl)
    """,
)
def dedup_minhash_portable_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connectivity granularity of the portable MinHash graph:
    verified portable pairs -> O(log n) large-star/small-star connected
    components — the oracle-paired twin of dedup_minhash_components
    (rows-only). Shares the
    checkpointed verified-pair relation with dedup_minhash_portable;
    oracle is recursive-CTE reachability over the identical edge set."""
    pairs = _minhash_portable_pairs_cached(spark, sf_dir)
    return connected_components_twophase(pairs, "id1", "id2").select(
        F.col("node").alias("doc_id"), "component"
    )


@register(
    "dedup_bigram_jaccard_pairs",
    oracle="""
    WITH sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(string_split(text, ' '))),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
               ))) AS tok
        FROM documents
        WHERE doc_id < 1000
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
        FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id1, id2,
           CAST(n_common AS DOUBLE) / (s1.sz + s2.sz - n_common) AS jaccard
    FROM inter
    JOIN sizes s1 ON inter.id1 = s1.doc_id
    JOIN sizes s2 ON inter.id2 = s2.doc_id
    WHERE CAST(n_common AS DOUBLE) / (s1.sz + s2.sz - n_common) >= 0.6
    """,
)
def dedup_bigram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-BIGRAM shingle Jaccard pairs (>= 0.6): order-sensitive
    near-dup detection — reordered docs that tie at 1.0 on unigram sets
    score low here. Same inverted-index plan over a hashed shingle
    alphabet (xxhash64 of the token slice — Jaccard needs only set
    identity, so the postings join moves longs, not bigram strings)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return dedup.jaccard_pairs_exact(docs, "doc_id", "text", threshold=0.6, shingle_n=2)


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (
        SELECT vec_id,
               unnest(range(1, len(embedding) + 1)) AS pos,
               CAST(unnest(embedding) AS DOUBLE)    AS val
        FROM embeddings
    ),
    norms AS (SELECT vec_id, sum(val * val) AS sq FROM e GROUP BY vec_id),
    dots AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2, sum(a.val * b.val) AS dp
        FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id < b.vec_id
        GROUP BY 1, 2
    )
    SELECT id1, id2, round(dp / sqrt(n1.sq * n2.sq), 4) AS cosine
    FROM dots
    JOIN norms n1 ON dots.id1 = n1.vec_id
    JOIN norms n2 ON dots.id2 = n2.vec_id
    WHERE round(dp / sqrt(n1.sq * n2.sq), 4) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (>= 0.4): the semantic dedup tier
    — catches paraphrases sharing no surface tokens. Exact double-
    precision all-pairs (operators/dedup.py embedding_cosine_pairs);
    the LSH-bucketed variant (knn_lsh_cosine) is the unbounded path."""
    emb = load(spark, sf_dir, "embeddings")
    return dedup.embedding_cosine_pairs(emb, threshold=0.4)


@register(
    "dedup_components",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents WHERE doc_id < 1000
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS nc
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id1, id2
        FROM inter
        JOIN sizes s1 ON inter.id1 = s1.doc_id
        JOIN sizes s2 ON inter.id2 = s2.doc_id
        WHERE CAST(nc AS DOUBLE) / (s1.sz + s2.sz - nc) >= 0.95
    ),
    edges AS (
        SELECT id1 AS a, id2 AS b FROM pairs
        UNION ALL
        SELECT id2 AS a, id1 AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.a, r.lbl FROM reach r JOIN edges e ON e.b = r.node
    )
    SELECT node AS doc_id, min(lbl) AS component
    FROM reach
    GROUP BY node
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters: connected components of the >=0.95 Jaccard graph
    via O(log n) two-phase large-star/small-star contraction
    (operators/cluster.py:122) — the scale path, immune to chain-shaped
    components that make the O(diameter) min-label loop unbounded.
    Pairs become GROUPS — the form a dedup pipeline actually consumes
    (keep min doc_id per component). Oracle: recursive-CTE reachability
    in DuckDB."""
    return _labels_095(spark, sf_dir)


@session_memo("jaccard095_labels")
def _labels_095(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component labels of the >=0.95 Jaccard graph, materialized once
    per corpus — three catalog entries consume the SAME clustering
    (components, survivors, pagerank representatives), and the
    components loop is iterative, so sharing the checkpointed label
    frame saves two full O(log n) contraction runs per bench pass."""
    return (
        connected_components_twophase(_pairs_095(spark, sf_dir), "id1", "id2")
        .select(F.col("node").alias("doc_id"), "component")
        .localCheckpoint()
    )


@session_memo()
def _pairs_095(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The >=0.95 Jaccard pair set (doc_id < 1000), materialized once per
    corpus — the pair relation is the INDEX both clustering entries
    (components, survivors) consume, exactly like a real pipeline
    materializes pairs once and runs clustering + survivor selection off
    the same table (same once-per-corpus pattern as the cached IVF
    quantizer in similarity_q)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return dedup.jaccard_pairs_exact(
        docs, "doc_id", "text", threshold=0.95
    ).localCheckpoint()


@register(
    "pipeline_training_corpus",
    oracle="""
    WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
    survivors AS (
        SELECT d.* FROM documents d
        WHERE d.doc_id IN (SELECT doc_id FROM keep)
    ),
    quality AS (
        SELECT * FROM survivors
        WHERE n_chars >= 200 AND len(string_split(text, ' ')) >= 30
    )
    SELECT lang,
           count(*)                                            AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT)   AS total_tokens,
           avg(n_chars)                                        AS avg_chars
    FROM quality
    GROUP BY lang
    """,
)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline composition: exact dedup (keep
    min doc_id per identical text) → quality gate (length + token
    floor) → per-language corpus accounting. The shape a pretraining
    data pipeline actually runs; every stage is a catalogued operator
    family (X6 dedup, X8 text analysis) composed into one declarative
    plan Catalyst optimizes end to end — the dedup groupBy and the final
    stats are the only two shuffles."""
    docs = load(spark, sf_dir, "documents")
    keep = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    survivors = docs.join(keep, "doc_id", "left_semi")
    n_tokens = F.size(F.split(F.col("text"), " "))
    quality = survivors.filter((F.col("n_chars") >= 200) & (n_tokens >= 30))
    return quality.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(n_tokens).cast("bigint").alias("total_tokens"),
        F.avg("n_chars").alias("avg_chars"),
    )


@register(
    "dedup_incremental",
    oracle="""
    WITH keyed AS (
        SELECT doc_id,
               array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS k
        FROM documents
    )
    SELECT n.doc_id AS new_doc_id,
           min(e.doc_id) AS dup_of_existing
    FROM keyed n
    JOIN keyed e ON n.k = e.k AND e.doc_id % 10 <> 7
    WHERE n.doc_id % 10 = 7
    GROUP BY n.doc_id
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (daily-ingest) dedup: which docs of the NEW batch
    (doc_id % 10 == 7 as the batch stand-in) duplicate the EXISTING
    corpus, by normalized token-set key. The incremental shape matters
    at scale: the new batch is small, so the key join broadcasts it and
    the existing corpus is scanned once — no O(corpus) shuffle per
    ingest.

    The token-set key (split/distinct/sort/concat) is CPU-dense per row
    and applied to BOTH branches, so the (doc_id, text) projection is
    widened past I/O-sized splits first (the stage-width class,
    session.widen_narrow_scan; conditional, inert on a many-split scan).
    Measured sf1.0: 4.4 s -> 1.6 s (1.6x vs DuckDB)."""
    from ..session import widen_narrow_scan

    docs = widen_narrow_scan(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    key = dedup.normalized_token_set_key("text")
    existing = docs.filter(F.col("doc_id") % 10 != 7).select(
        F.col("doc_id").alias("e_id"), key.alias("k")
    )
    new = docs.filter(F.col("doc_id") % 10 == 7).select(
        F.col("doc_id").alias("new_doc_id"), key.alias("k")
    )
    return (
        existing.join(F.broadcast(new), "k")
        .groupBy("new_doc_id")
        .agg(F.min("e_id").alias("dup_of_existing"))
    )


@register(
    "skew_salted_counts",
    oracle="""
    SELECT l_returnflag AS key, count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY key
    """,
)
def skew_salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py) over a
    low-cardinality (hot-key) grouping column: phase 1 shuffles on
    (key, salt) so each hot key spreads across 16 reducers, phase 2
    collapses the tiny partials. Result identical to the plain groupBy —
    the oracle proves it — while removing the single-reducer straggler
    a 3-distinct-values key creates at 100 TB."""
    from ..operators.skew import salted_group_count

    li = load(spark, sf_dir, "lineitem")
    return salted_group_count(li.select("l_returnflag"), "l_returnflag").orderBy("key")


@register(
    "skew_salted_join_flags",
    oracle="""
    WITH dim AS (
        SELECT l_returnflag, count(*) AS flag_n FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag AS flag,
           count(*)       AS n,
           max(d.flag_n)  AS dim_n
    FROM lineitem l
    LEFT JOIN dim d ON l.l_returnflag = d.l_returnflag
    GROUP BY 1
    ORDER BY 1
    """,
)
def skew_salted_join_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted broadcast left join (operators/skew.py
    salted_broadcast_left_join) on a pathologically hot key: every
    lineitem row joins a 3-row per-flag dimension. The dim is replicated
    num_salts times and the fact side salted by a stable row hash, so
    each hot key's rows fan out over 8 tasks instead of one straggler —
    results identical to the plain left join, which is exactly what the
    oracle recomputes (n == dim_n also proves one-match-per-row join
    multiplicity)."""
    from ..operators.skew import salted_broadcast_left_join

    li = load(spark, sf_dir, "lineitem")
    dim = li.groupBy("l_returnflag").agg(F.count("*").alias("flag_n"))
    # include a high-cardinality column so the row-hash salt actually
    # varies within a flag (salting a 1-column frame of the hot key
    # alone would put each key's rows back on one salt)
    fact = li.select("l_returnflag", "l_orderkey")
    joined = salted_broadcast_left_join(fact, dim, on="l_returnflag", num_salts=8)
    return (
        joined.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(F.count("*").alias("n"), F.max("flag_n").alias("dim_n"))
        .orderBy("flag")
    )


@register(
    "dedup_survivors",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents WHERE doc_id < 1000
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS nc
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id1, id2
        FROM inter
        JOIN sizes s1 ON inter.id1 = s1.doc_id
        JOIN sizes s2 ON inter.id2 = s2.doc_id
        WHERE CAST(nc AS DOUBLE) / (s1.sz + s2.sz - nc) >= 0.95
    ),
    edges AS (
        SELECT id1 AS a, id2 AS b FROM pairs
        UNION ALL
        SELECT id2 AS a, id1 AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.a, r.lbl FROM reach r JOIN edges e ON e.b = r.node
    ),
    comp AS (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY node),
    ranked AS (
        SELECT c.component, c.doc_id, d.n_chars,
               row_number() OVER (PARTITION BY c.component
                                  ORDER BY d.n_chars DESC, c.doc_id) AS rn,
               count(*) OVER (PARTITION BY c.component) AS n_members
        FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT component,
           doc_id        AS survivor_id,
           n_chars       AS survivor_chars,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1
    """,
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: the step AFTER clustering that a
    dedup pipeline actually ships — per near-dup cluster (>=0.95 Jaccard
    components), keep the highest-quality member (longest text,
    deterministic doc_id tie-break) and record cluster size.

    One max_by aggregation over the component labels joined back to the
    doc metadata — no window materialization; the (quality, id) argmax
    runs as a single-pass struct max."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    member = _labels_095(spark, sf_dir).join(docs.select("doc_id", "n_chars"), "doc_id")
    best = F.max_by(
        F.struct(F.col("doc_id"), F.col("n_chars")),
        F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")),
    )
    return (
        member.groupBy("component")
        .agg(
            best.alias("__best"),
            F.count("*").alias("n_members"),
        )
        .select(
            "component",
            F.col("__best.doc_id").alias("survivor_id"),
            F.col("__best.n_chars").alias("survivor_chars"),
            "n_members",
        )
    )


@register(
    "dedup_exact_spans",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(t) - 8),
                   i -> array_to_string(t[i:i+9], ' ')))) AS span
        FROM toks WHERE len(t) >= 10
    ),
    dup AS (SELECT span FROM sh GROUP BY span HAVING count(*) > 1)
    SELECT s.doc_id,
           count(*)      AS n_spans,
           count(d.span) AS n_dup_spans
    FROM sh s LEFT JOIN dup d ON s.span = d.span
    GROUP BY 1
    HAVING count(d.span) > 0
    ORDER BY 1
    """,
)
def dedup_exact_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup accounting over the FULL corpus (X6, the
    Lee-et-al suffix-array tier): 10-token rolling spans, a span in >1
    doc is verbatim duplicated text. Linear, no pairwise doc join —
    see operators/dedup.py duplicated_span_stats for the scale
    argument. Spark groups on xxhash64 span fingerprints (the entry
    outputs per-doc counts, never span text); the oracle rebuilds the
    span relation as strings with DuckDB list comprehensions — counts
    agree modulo the documented 2^-64 collision bound."""
    docs = load(spark, sf_dir, "documents")
    return dedup.duplicated_span_stats(docs, "doc_id", "text", span_tokens=10).orderBy(
        "doc_id"
    )


@register(
    "dedup_cdc_chunks",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents WHERE text IS NOT NULL),
    b AS (
        SELECT doc_id, t,
               list_filter(range(1, len(t) + 1),
                           i -> substr(md5(t[i]), 32, 1) IN ('0', '1')) AS bpos
        FROM toks
    ),
    se AS (
        SELECT doc_id, t,
               list_concat([1], list_transform(bpos, x -> x + 1)) AS starts,
               list_concat(bpos, [len(t)])                        AS ends
        FROM b
    ),
    ch AS (
        SELECT doc_id,
               unnest(list_distinct(list_filter(
                   list_transform(range(1, len(starts) + 1),
                       i -> CASE WHEN ends[i] >= starts[i]
                                 THEN md5(array_to_string(t[starts[i]:ends[i]], ' '))
                            END),
                   x -> x IS NOT NULL))) AS chunk_h
        FROM se
    ),
    dup AS (SELECT chunk_h FROM ch GROUP BY chunk_h HAVING count(*) > 1)
    SELECT c.doc_id,
           count(*)        AS n_chunks,
           count(d.chunk_h) AS n_dup_chunks,
           CAST(count(d.chunk_h) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS dup_chunk_fraction
    FROM ch c LEFT JOIN dup d ON c.chunk_h = d.chunk_h
    GROUP BY 1
    HAVING count(d.chunk_h) > 0
    ORDER BY 1
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup accounting (X6, the CDC tier next
    to the fixed-span Lee-et-al tier): chunk boundaries are tokens
    whose md5 ends in a designated nibble, so chunking re-synchronizes
    after insertions/deletions where fixed windows shift. Per doc:
    distinct chunks, chunks shared with any other doc, and the
    duplicated fraction — the edit-robust dup-mass metric a 100 TB
    curation pass keys retention thresholds on. Linear postings plan,
    no pairwise join (operators/dedup.py cdc_chunk_stats); both engines
    evaluate the IDENTICAL md5 chunk identity, so agreement is exact,
    not collision-bounded."""
    docs = load(spark, sf_dir, "documents")
    return dedup.cdc_chunk_stats(docs, "doc_id", "text").orderBy("doc_id")


@register(
    "dedup_semantic_exact",
    oracle="""
    WITH e AS (
        SELECT vec_id,
               unnest(range(1, len(embedding) + 1)) AS pos,
               CAST(unnest(embedding) AS DOUBLE)    AS val
        FROM embeddings
    ),
    norms AS (SELECT vec_id, sum(val * val) AS sq FROM e GROUP BY vec_id),
    dots AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2, sum(a.val * b.val) AS dp
        FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id < b.vec_id
        GROUP BY 1, 2
    ),
    dups AS (
        SELECT DISTINCT id2 AS vec_id
        FROM dots
        JOIN norms n1 ON dots.id1 = n1.vec_id
        JOIN norms n2 ON dots.id2 = n2.vec_id
        WHERE round(dp / sqrt(n1.sq * n2.sq), 4) >= 0.3
    )
    SELECT label,
           count(*) AS n_vectors,
           CAST(sum(CASE WHEN dups.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
           CAST(sum(CASE WHEN dups.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)     AS n_survivors
    FROM embeddings LEFT JOIN dups USING (vec_id)
    GROUP BY label
    ORDER BY label
    """,
)
def dedup_semantic_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact semantic dedup (keep-lowest-id rule): a vector
    is a duplicate iff SOME lower-id vector anywhere in the corpus has
    cosine >= 0.3 with it; survivors/dups counted per label. This is
    the ground-truth relation the clustered SemDeDup tier
    (dedup_semdedup) approximates — its dup set is provably a subset of
    this one, and the pytest recall gate measures how much of it the
    clustering recovers. Reuses embedding_cosine_pairs' auto
    broadcast↔posjoin strategy (operators/dedup.py), so the exact tier
    itself flips off broadcast by measured bytes at scale."""
    emb = load(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_cosine_pairs(emb, threshold=0.3)
    dups = pairs.select(F.col("id2").alias("vec_id")).distinct()
    return (
        emb.join(dups.withColumn("__d", F.lit(1)), "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum(F.when(F.col("__d").isNotNull(), 1).otherwise(0)).alias("n_dups"),
            F.sum(F.when(F.col("__d").isNull(), 1).otherwise(0)).alias("n_survivors"),
        )
        .orderBy("label")
    )


@register("dedup_semdedup", oracle=None)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — the
    LAION/LLM-corpus semantic dedup recipe): k-means-cluster the
    embeddings, then prune within clusters only (cosine >= 0.3,
    keep-lowest-id). The within-cluster equi-join makes candidate
    volume sum(|cluster|^2) instead of N^2 — the scale path next to the
    exact corpus-wide tier (dedup_semantic_exact). Rows-only: the
    k-means model is iterative (not SQL-expressible); pytest pins
    dup ⊆ exact-dup plus a recall floor (tests/test_operators.py)."""
    from .similarity_q import shared_kmeans_model

    emb = load(spark, sf_dir, "embeddings")
    flags = sim_ops.semdedup(
        emb, eps=0.3, n_clusters=16, iters=3,
        centroids=shared_kmeans_model(spark, sf_dir),
    )
    return flags.orderBy("vec_id")


@register("dedup_graph_pagerank", oracle=None)
def dedup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality-based representative selection: PageRank (10 damped
    power iterations, d=0.85) over the >=0.95-Jaccard near-dup graph,
    then the top-ranked member per connected component — the
    "most-linked version wins" alternative to keep-longest
    (dedup_survivors) for choosing the canonical copy of a duplicate
    cluster (mirror pages vote for the original).

    Scale shape: each iteration is one out-degree-normalized
    contribution explode + one node-keyed sum — O(edges) per sweep,
    localCheckpoint'ed like every iterative loop here; the graph AND its
    component labels are the SAME shared checkpointed frames the
    components/survivors entries consume (one candidate-generation pass
    + one clustering pass, three consumers). Convergence early-exit
    (tol): near-dup graphs are near-cliques, where uniform rank is an
    exact fixed point — the sweep loop ends after 2-3 iterations
    instead of the generic 10. Rows-only: iterative; pytest pins the
    ranking against a pure-Python power iteration on the identical edge
    list (TestPageRank, tol=0 fixed-iteration path)."""
    from ..operators.cluster import pagerank

    pairs = _pairs_095(spark, sf_dir)
    comp = _labels_095(spark, sf_dir)
    pr = pagerank(pairs, "id1", "id2", iters=10, damping=0.85, tol=1e-6)
    ranked = comp.join(pr, "doc_id")
    best = ranked.groupBy("component").agg(
        F.max_by("doc_id", F.struct(F.round("rank", 9), (-F.col("doc_id")).cast("double"))).alias(
            "representative_id"
        ),
        F.round(F.max(F.round("rank", 9)), 6).alias("top_rank"),
        F.count("*").cast("long").alias("n_members"),
    )
    return best.orderBy("component")


@register(
    "pipeline_semantic_corpus",
    oracle="""
    WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
    exact_survivors AS (
        SELECT d.* FROM documents d
        WHERE d.doc_id IN (SELECT doc_id FROM keep)
    ),
    e AS (
        SELECT vec_id,
               unnest(range(1, len(embedding) + 1)) AS pos,
               CAST(unnest(embedding) AS DOUBLE)    AS val
        FROM embeddings
    ),
    norms AS (SELECT vec_id, sum(val * val) AS sq FROM e GROUP BY vec_id),
    dots AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2, sum(a.val * b.val) AS dp
        FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id < b.vec_id
        GROUP BY 1, 2
    ),
    sem_dups AS (
        SELECT DISTINCT id2 AS doc_id
        FROM dots
        JOIN norms n1 ON dots.id1 = n1.vec_id
        JOIN norms n2 ON dots.id2 = n2.vec_id
        WHERE round(dp / sqrt(n1.sq * n2.sq), 4) >= 0.3
    ),
    sem_survivors AS (
        SELECT * FROM exact_survivors
        WHERE doc_id NOT IN (SELECT doc_id FROM sem_dups)
    ),
    quality AS (
        SELECT doc_id, lang, n_chars,
               len(string_split(text, ' ')) AS n_tokens
        FROM sem_survivors
        WHERE n_chars >= 200 AND len(string_split(text, ' ')) >= 30
    ),
    budgeted AS (
        SELECT doc_id, lang, n_tokens,
               sum(n_tokens) OVER (
                   ORDER BY n_chars DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM quality
    )
    SELECT lang,
           count(*)                      AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM budgeted
    WHERE cum_tokens <= 15000
    GROUP BY lang
    ORDER BY lang
    """,
)
def pipeline_semantic_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL training-data pipeline in one declarative plan, every
    stage oracle-verified end to end: exact dedup (keep min doc_id per
    identical text) → SEMANTIC dedup (drop docs whose embedding has a
    lower-id cosine-0.3 neighbor — the exact corpus-wide rule the
    SemDeDup tier approximates; embeddings keyed 1:1 to doc_id) →
    quality gate (length + token floor) → token-budget curriculum
    (longest-first under 15k tokens) → per-language accounting.

    Scale shape: the stages compose WITHOUT materialization — Catalyst
    plans the whole DAG at once; the cosine stage rides
    embedding_cosine_pairs' auto broadcast↔posjoin flip; at 100 TB the
    semantic stage swaps to the clustered SemDeDup tier
    (dedup_semdedup) with everything else unchanged — the pipeline IS
    the integration test for that swap. All outputs integer-exact."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")

    keep = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    exact_survivors = docs.join(keep, "doc_id", "left_semi")

    sem_dups = (
        dedup.embedding_cosine_pairs(emb, threshold=0.3)
        .select(F.col("id2").alias("doc_id"))
        .distinct()
    )
    sem_survivors = exact_survivors.join(sem_dups, "doc_id", "left_anti")

    n_tokens = F.size(F.split(F.col("text"), " "))
    quality = sem_survivors.filter(
        (F.col("n_chars") >= 200) & (n_tokens >= 30)
    ).select("doc_id", "lang", "n_chars", n_tokens.alias("n_tokens"))

    from ..operators.prefix import ordered_cumsum

    budgeted = ordered_cumsum(
        quality, [F.desc("n_chars"), F.asc("doc_id")], "n_tokens", "cum_tokens"
    )
    return (
        budgeted.filter(F.col("cum_tokens") <= 15000)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("lang")
    )


@register(
    "dedup_graph_triangles",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents WHERE doc_id < 1000
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS nc
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id1, id2
        FROM inter
        JOIN sizes s1 ON inter.id1 = s1.doc_id
        JOIN sizes s2 ON inter.id2 = s2.doc_id
        WHERE CAST(nc AS DOUBLE) / (s1.sz + s2.sz - nc) >= 0.95
    ),
    tri AS (
        SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.id1 = e1.id2
        JOIN pairs e3 ON e3.id1 = e1.id1 AND e3.id2 = e2.id2
    ),
    members AS (
        SELECT a AS doc_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT doc_id, count(*) AS n_triangles
    FROM members GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the >=0.95-Jaccard near-dup graph: per
    document, how many closed triples it sits in — the local-clustering
    signal that separates tight mirror clusters (cliques: every pair
    agrees) from chain-shaped false merges (paths: A~B~C but never A~C),
    i.e. the graph-quality audit a dedup pipeline runs BEFORE trusting
    its connected components as duplicate groups.

    Scale shape (Suri & Vassilvitskii, WWW'11 — "the curse of the last
    reducer"): edges are oriented by DEGREE (low-degree endpoint →
    high-degree, ties on id) before the wedge join, so a node's wedge
    fan-out is bounded by its ORIENTED out-degree — O(m^{3/2}) total
    wedges on any graph instead of sum(deg²), which a hub node makes
    quadratic. The id-ordered enumeration the oracle runs is the
    orientation-INVARIANT count, so both plans must agree exactly; all
    arithmetic is integer. Third consumer of the shared pair relation
    (components, survivors, pagerank, triangles — one candidate pass,
    four consumers)."""
    pairs = _pairs_095(spark, sf_dir).select("id1", "id2")
    deg = (
        pairs.select(F.col("id1").alias("node"))
        .unionAll(pairs.select(F.col("id2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        pairs.join(deg.withColumnRenamed("node", "id1").withColumnRenamed("deg", "d1"), "id1")
        .join(deg.withColumnRenamed("node", "id2").withColumnRenamed("deg", "d2"), "id2")
    )
    # orient low->high in (deg, id) order: total order, so every triangle
    # appears exactly once as src->mid->dst
    lo_first = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("id1") < F.col("id2"))
    )
    oriented = with_deg.select(
        F.when(lo_first, F.col("id1")).otherwise(F.col("id2")).alias("src"),
        F.when(lo_first, F.col("id2")).otherwise(F.col("id1")).alias("dst"),
    ).localCheckpoint()
    e1 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = oriented.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    wedges = e1.join(e2, "b")
    tri = wedges.join(e3, ["a", "c"])
    members = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("doc_id")
    )
    return (
        members.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy("doc_id")
    )
