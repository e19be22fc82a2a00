"""Finishable DuckDB oracle formulations for the sf1.0 scale rehearsal.

Six catalog entries keep deliberately-naive quadratic oracles as their
DRIVER correctness gate (a dumb oracle is a more independent check than
one that mirrors the engine's own algorithm), but those formulations die
in DuckDB at sf1.0 while Spark finishes — leaving the Spark results at
scale unverified. This module holds ALGEBRAICALLY EQUIVALENT oracle SQL
that expresses the same blocking/bucketing the Spark plan uses (or a
better single-node kernel), so the rehearsal can hash-compare both
engines at sf1.0.

Equivalence is machine-checked, not argued: tests/test_scale_oracles.py
runs every entry's main oracle and scale oracle side by side in DuckDB
at the test SF and asserts identical relations (sorted-column value
hash). The driver gate itself is untouched — `oracle_sql()` still
serves the naive formulations.

Why each rewrite is exact (not approximate):

- skyline_parts: 2D dominance. p is dominated iff some q has
  (price<p.price AND size>=p.size) OR (price<=p.price AND size>p.size).
  Group to per-distinct-price max sizes, then a running max ordered by
  price gives both tests in O(n log n) — the same per-x-maxima +
  running-max plan operators/skyline.py runs distributed.
- fuzzy_name_pairs_blocked: factor through DISTINCT (brand, name)
  groups. The metric depends only on the name VALUES, so group first
  (64 distinct names in this fixture; 1.6k (brand, name) groups),
  evaluate levenshtein once per distinct name pair per brand, and
  recover pair counts as products of group sizes (cnt_a * cnt_b for
  distinct names — each unordered part pair is counted once because
  exactly one orientation satisfies a.key < b.key; cnt*(cnt-1)/2 at
  distance 0 within a group). Exact for ANY corpus; it degrades to the
  naive quadratic only when all names are distinct, which is also the
  regime where the naive oracle itself is feasible. (A PassJoin
  segment-pigeonhole variant was tried first and IS lossless, but on
  7-12-char names its 2-4-char segments collide massively and the
  candidate join exceeded the rehearsal budget at sf1.0.)
- dedup_embedding_cosine / dedup_semantic_exact /
  pipeline_semantic_corpus: the naive oracles explode vectors into
  (vec_id, pos, val) rows and join on pos — O(N^2 * d) ROWS through a
  hash join. The scale form casts to a fixed-size DOUBLE[64] array and
  evaluates DuckDB's SIMD array_cosine_similarity per pair — the same
  O(N^2 * d) FLOPs with zero row explosion (the single-node analogue of
  the BLAS-blocked pair kernel in operators/dedup.py
  embedding_cosine_pairs). Verified bit-compatible with the
  sum-of-products form at the entries' 4-decimal rounding. Both
  formulations (and every Spark tier) take the >= threshold decision on
  round(sim, 4) — the emitted precision — so a pair sitting a few ulps
  across the cut under a different summation order cannot flip
  inclusion without also flipping the hashed value.
- dedup_prefix_jaccard_pairs: token-SET grouping. Unigram Jaccard is a
  function of the distinct-token SET, so group docs by their exact
  sorted token set first: distinct sets S (|S| << N on any duplicative
  corpus — and a corpus must be duplicative for this entry's output to
  be large), compute Jaccard once per SET pair (quadratic in |S|, with
  the same theta length filter the Spark prefix plan uses), then fan
  qualifying set pairs back out to doc pairs. Same-set doc pairs are
  Jaccard 1.0 exactly. This sidesteps the flat postings join that is
  quadratic in POSTINGS (the sf1.0 vocabulary is 30 tokens, so every
  posting list is ~N/2 long and the naive join is ~10^13 rows).
"""

from __future__ import annotations

_COSINE_PAIRS_CTE = """
    v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[64]) AS emb
        FROM embeddings
    )
"""

SCALE_ORACLES: dict[str, str] = {
    "skyline_parts": """
    WITH per_price AS (
        SELECT p_retailprice, max(CAST(p_size AS INTEGER)) AS mx
        FROM part GROUP BY p_retailprice
    ),
    run AS (
        SELECT p_retailprice,
               max(mx) OVER (ORDER BY p_retailprice
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx_lt,
               max(mx) OVER (ORDER BY p_retailprice
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mx_le
        FROM per_price
    )
    SELECT p.p_partkey, p.p_retailprice, CAST(p.p_size AS INTEGER) AS p_size
    FROM part p JOIN run r USING (p_retailprice)
    WHERE NOT (coalesce(r.mx_lt >= CAST(p.p_size AS INTEGER), FALSE)
               OR r.mx_le > CAST(p.p_size AS INTEGER))
    """,
    "fuzzy_name_pairs_blocked": """
    WITH g AS (
        SELECT p_brand, p_name, count(*) AS cnt
        FROM part GROUP BY 1, 2
    ),
    cross_names AS (
        SELECT a.p_brand AS brand,
               levenshtein(a.p_name, b.p_name) AS edit_dist,
               a.cnt * b.cnt AS pairs
        FROM g a JOIN g b
          ON a.p_brand = b.p_brand AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 2
    ),
    same_names AS (
        SELECT p_brand AS brand,
               CAST(0 AS BIGINT) AS edit_dist,
               cnt * (cnt - 1) // 2 AS pairs
        FROM g WHERE cnt > 1
    )
    SELECT brand, edit_dist, CAST(sum(pairs) AS BIGINT) AS n_pairs
    FROM (SELECT * FROM cross_names UNION ALL SELECT * FROM same_names) t
    GROUP BY brand, edit_dist
    ORDER BY brand, edit_dist
    """,
    "dedup_embedding_cosine": f"""
    WITH {_COSINE_PAIRS_CTE}
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           round(array_cosine_similarity(a.emb, b.emb), 4) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE round(array_cosine_similarity(a.emb, b.emb), 4) >= 0.4
    """,
    "dedup_semantic_exact": f"""
    WITH {_COSINE_PAIRS_CTE},
    dups AS (
        SELECT DISTINCT b.vec_id
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE round(array_cosine_similarity(a.emb, b.emb), 4) >= 0.3
    )
    SELECT label,
           count(*) AS n_vectors,
           CAST(sum(CASE WHEN dups.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
           CAST(sum(CASE WHEN dups.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)     AS n_survivors
    FROM embeddings LEFT JOIN dups USING (vec_id)
    GROUP BY label
    ORDER BY label
    """,
    "pipeline_semantic_corpus": f"""
    WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
    exact_survivors AS (
        SELECT d.* FROM documents d
        WHERE d.doc_id IN (SELECT doc_id FROM keep)
    ),
    {_COSINE_PAIRS_CTE},
    sem_dups AS (
        SELECT DISTINCT b.vec_id AS doc_id
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE round(array_cosine_similarity(a.emb, b.emb), 4) >= 0.3
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
    "dedup_prefix_jaccard_pairs": """
    WITH keyed AS (
        SELECT doc_id,
               list_sort(list_distinct(string_split(text, ' '))) AS toks,
               array_to_string(list_sort(list_distinct(string_split(text, ' '))), chr(31)) AS skey,
               len(list_distinct(string_split(text, ' '))) AS sz
        FROM documents
    ),
    reps AS (
        SELECT skey, any_value(toks) AS toks, any_value(sz) AS sz
        FROM keyed GROUP BY skey
    ),
    setpairs AS (
        SELECT a.skey AS ka, b.skey AS kb,
               CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / (a.sz + b.sz - len(list_intersect(a.toks, b.toks))) AS jac
        FROM reps a JOIN reps b
          ON a.skey < b.skey
         AND 0.9 * a.sz <= b.sz AND 0.9 * b.sz <= a.sz
    ),
    cross_pairs AS (
        SELECT least(x.doc_id, y.doc_id)    AS id1,
               greatest(x.doc_id, y.doc_id) AS id2,
               s.jac AS jaccard
        FROM setpairs s
        JOIN keyed x ON x.skey = s.ka
        JOIN keyed y ON y.skey = s.kb
        WHERE s.jac >= 0.9
    ),
    same_pairs AS (
        SELECT x.doc_id AS id1, y.doc_id AS id2, CAST(1.0 AS DOUBLE) AS jaccard
        FROM keyed x JOIN keyed y ON x.skey = y.skey AND x.doc_id < y.doc_id
    )
    SELECT id1, id2, jaccard FROM cross_pairs
    UNION ALL
    SELECT id1, id2, jaccard FROM same_pairs
    """,
}
