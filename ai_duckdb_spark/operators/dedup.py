"""Deduplication operators (SURVEY.md §2.9 X6 [D] — north-star scope).

Four tiers, each a pure DataFrame composition:

  * exact            — dropDuplicates / hash-groupBy (one shuffle);
  * normalized exact — canonicalize (sorted distinct token set) then group;
  * n-gram Jaccard   — EXACT near-dup pairs via an inverted-index
                       self-join (deterministic; the oracle-checkable
                       ground truth for the approximate tiers);
  * MinHash + LSH    — banded signatures → bucket join → verify; the
                       100 TB path: candidate generation cost is
                       O(docs × bands), not O(docs²);
  * SimHash          — 64-bit fingerprints for hamming-distance near-dup.

Scale notes: the inverted-index join explodes postings, so its shuffle is
bounded by sum(postings²) per token — fine for selective tokens, quadratic
for stopword-like tokens. That is exactly why the MinHash/LSH tier exists;
the exact tier is kept for verification and for bounded inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import default_parallelism

def normalized_token_set_key(text_col: str = "text") -> F.Column:
    """Canonical dedup key: sorted distinct whitespace tokens re-joined."""
    return F.array_join(F.array_sort(F.array_distinct(F.split(F.col(text_col), " "))), " ")


def exact_duplicate_groups(df: DataFrame, id_col: str, key: F.Column) -> DataFrame:
    """Group rows by a dedup key; keep min-id as the canonical survivor."""
    return (
        df.groupBy(key.alias("dedup_key"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def _token_sets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    # no fan-out here: a single split+array_distinct is one cheap pass
    # per row (unlike the per-position HOF shingle transforms, which go
    # through `tokenized`'s repartition), so the round-robin shuffle
    # costs more than it parallelizes
    return df.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(F.split(F.col(text_col), " ")).alias("__tokens"),
    )


def shingle_hashes_of_tokens(toks: F.Column, n: int = 2) -> F.Column:
    """Distinct 64-bit fingerprints of word n-gram shingles: xxhash64
    over the token SLICE itself — the span string is never assembled.

    For every consumer that only counts/joins/groups shingles (span
    dedup, shingle-Jaccard, contamination) the hash is a drop-in key and
    removes both the concat CPU and the string shuffle bytes (~10× fewer
    bytes for 10-token spans). 64-bit collision bound: by the birthday
    bound, a corpus of S distinct shingles sees ~S²/2⁶⁵ collisions —
    at S = 10¹⁰ (a ~100 TB corpus) that is ~3 spurious shingle
    identities corpus-wide, noise at the dup-count granularity these
    operators report. Each span is one ``slice``, not n ``element_at``
    calls (per-position element_at was the CPU hot spot of span
    assembly).

    ``toks`` should be a MATERIALIZED column (project ``split(text)``
    into a named column first): expressions referenced inside a HOF
    lambda are re-evaluated per iteration, so an inline ``split`` turns
    shingling O(len²) — the dominant measured cost.
    """
    idx = _shingle_index(toks, n)
    return F.array_distinct(F.transform(idx, lambda i: F.xxhash64(F.slice(toks, i, n))))


def _shingle_index(toks: F.Column, n: int) -> F.Column:
    # docs shorter than n tokens have NO n-gram shingles: guard the index
    # range explicitly — sequence(1, size-(n-1)) DESCENDS through 0 when
    # size < n, and slicing at those indices is an error under ANSI
    # mode (and silently-wrong shingles otherwise)
    upper = F.size(toks) - (n - 1)
    return F.when(upper >= 1, F.sequence(F.lit(1), upper)).otherwise(
        F.array().cast("array<int>")
    )


def tokenized(df: DataFrame, id_col: str, text_col: str, out_col: str = "__toks") -> DataFrame:
    """(id, token-array) projection, fanned out past input file splits.

    Two deliberate properties for every shingle consumer:
      * round-robin ``repartition`` BEFORE tokenizing — per-doc shingle
        hashing is CPU work that must not inherit a small input's
        one-split layout (one parquet file = one core doing all
        hashing), and the raw-text shuffle is strictly cheaper than the
        ~n× expansion it feeds;
      * the token array lands in a NAMED column, so downstream HOF
        lambdas slice an attribute — Catalyst's CollapseProject keeps
        multi-referenced non-cheap aliases materialized, which is what
        stops the per-iteration ``split`` re-evaluation.
    """
    return (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .repartition(default_parallelism())
        .select("__id", F.split(F.col("__text"), " ").alias(out_col))
    )


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    # hashed shingles: Jaccard needs only set cardinalities and matches,
    # so the 64-bit fingerprint replaces the n-word string as the set
    # element (collision bound documented at shingle_hashes_of_tokens)
    return tokenized(df, id_col, text_col).select(
        "__id", shingle_hashes_of_tokens(F.col("__toks"), n).alias("__tokens")
    )


def duplicated_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 10,
    broadcast_dup: bool = False,
) -> DataFrame:
    """Exact-substring duplication accounting (the suffix-array dedup of
    Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better", re-expressed in the Spark-distributable form): every
    k-token span is a key; a span occurring in more than one document is
    verbatim duplicated text. Returns, per document with at least one
    duplicated span: total distinct spans and how many are duplicated.

    Linear in corpus size (each doc emits ~len/1 spans, deduped per doc)
    with NO pairwise doc join — the blowup-proof property that makes it
    the first pass at 100 TB. Spans are carried as xxhash64
    FINGERPRINTS of the token slice, never materialized as strings
    (this operator reports counts, not span text): that removes both
    the per-span concat CPU and ~10× of shuffle bytes vs shipping
    10-token strings (collision bound at :func:`word_shingle_hashes`).
    The (doc_id, span_hash) relation feeds both the global duplication
    count and the per-doc flag join, so it is localCheckpoint'ed ONCE.
    ``broadcast_dup`` defaults to False: the duplicated-span set's size
    is corpus-dependent, so the safe default lets AQE broadcast it when
    its measured size is small rather than hint an unconditional
    driver-side collect that OOMs when duplicated vocabulary is large;
    pass True only when the dup set is known-small a priori. Suffix
    arrays find arbitrary-length matches; fixed k-token spans are the
    standard distributed relaxation (any shared substring of >= k
    tokens shares a k-span, so recall at the k granularity is exact)."""
    spans = (
        tokenized(df, id_col, text_col)
        .select(
            F.col("__id").alias("doc_id"),
            F.explode(shingle_hashes_of_tokens(F.col("__toks"), span_tokens)).alias(
                "span_h"
            ),
        )
        .localCheckpoint()
    )
    dup = (
        spans.groupBy("span_h")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > 1)  # per-doc-distinct spans: count(*) = n docs
        .select("span_h", F.lit(1).alias("__dup"))
    )
    if broadcast_dup:
        dup = F.broadcast(dup)
    return (
        spans.join(dup, "span_h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.count("__dup").alias("n_dup_spans"),
        )
        .filter(F.col("n_dup_spans") > 0)
    )


def cdc_chunk_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    boundary_nibbles: tuple[str, ...] = ("0", "1"),
) -> DataFrame:
    """Content-defined-chunking dedup accounting (the LBFS/rsync CDC
    family — Muthitacharoen et al., SOSP'01 — restated for token
    streams): a token is a CHUNK BOUNDARY when the last hex nibble of
    its md5 falls in ``boundary_nibbles`` (p = |nibbles|/16, so the
    default gives mean chunk length ~8 tokens); a chunk is the token
    run up to and including a boundary. Because boundaries depend only
    on LOCAL content, an insertion or deletion re-synchronizes after
    one chunk — unlike fixed k-token spans, where a single added token
    shifts every downstream window (duplicated_span_stats recovers
    recall only at the k granularity). Returns, per document with at
    least one duplicated chunk: total distinct chunks, duplicated-chunk
    count, and the duplicated fraction.

    Scale shape: chunking is pure higher-order-function work inside one
    projection (filter/zip_with/slice over the token array — JVM
    codegen, no explode until chunks exist, no UDF), then the same
    linear postings plan as the span tier: one (doc, chunk-hash)
    relation localCheckpoint'ed once, one hash groupBy for the global
    duplicate set, one join back. No pairwise doc join anywhere, so the
    whole operator is linear in corpus tokens at 100 TB. Chunk identity
    is the md5 of the joined chunk text — the identical expression the
    DuckDB oracle evaluates, so both engines agree exactly (not merely
    modulo a private fingerprint).
    """
    nibs = [F.lit(n) for n in boundary_nibbles]
    toks = F.col("__toks")
    pos = F.when(F.size(toks) > 0, F.sequence(F.lit(1), F.size(toks))).otherwise(
        F.array().cast("array<int>")
    )
    bpos = F.filter(
        pos,
        lambda i: F.substring(F.md5(F.element_at(toks, i)), 32, 1).isin(*nibs),
    )
    starts = F.concat(F.array(F.lit(1)), F.transform(bpos, lambda b: b + 1))
    ends = F.concat(bpos, F.array(F.size(toks)))
    chunks = F.filter(
        F.zip_with(
            starts,
            ends,
            lambda s, e: F.when(
                e >= s, F.md5(F.array_join(F.slice(toks, s, e - s + 1), " "))
            ),
        ),
        lambda x: x.isNotNull(),
    )
    rel = (
        tokenized(df.filter(F.col(text_col).isNotNull()), id_col, text_col)
        .select(
            F.col("__id").alias("doc_id"),
            F.explode(F.array_distinct(chunks)).alias("chunk_h"),
        )
        .localCheckpoint()
    )
    dup = (
        rel.groupBy("chunk_h")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > 1)  # per-doc-distinct chunks: count(*) = n docs
        .select("chunk_h", F.lit(1).alias("__dup"))
    )
    return (
        rel.join(dup, "chunk_h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count("__dup").alias("n_dup_chunks"),
        )
        .filter(F.col("n_dup_chunks") > 0)
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            (
                F.col("n_dup_chunks").cast("double") / F.col("n_chunks").cast("double")
            ).alias("dup_chunk_fraction"),
        )
    )


def jaccard_pairs_exact(
    df: DataFrame, id_col: str, text_col: str, threshold: float, shingle_n: int = 1
) -> DataFrame:
    """All pairs with token/shingle-set Jaccard >= threshold, via
    inverted index.

    explode(tokens) → self-join on token → per-pair intersection size →
    join set sizes → Jaccard filter. Deterministic (exact), used as the
    verification tier and the DuckDB-oracle-checkable entry.
    ``shingle_n > 1`` switches the set elements to word n-grams.
    """
    if shingle_n > 1:
        toks = _shingle_sets(df, id_col, text_col, shingle_n)
    else:
        toks = _token_sets(df, id_col, text_col)
    sizes = toks.select("__id", F.size("__tokens").alias("__sz"))
    # the pair join is quadratic in postings-per-token: fan out by token
    # explicitly — input splits reflect FILE size, not join cost, so a
    # single small parquet file would otherwise run the join on one core
    postings = (
        toks.select("__id", F.explode("__tokens").alias("__tok"))
        .repartition(default_parallelism(), "__tok")
    )

    a = postings.alias("a")
    b = postings.alias("b")
    inter = (
        a.join(b, (F.col("a.__tok") == F.col("b.__tok")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id1"), F.col("b.__id").alias("id2"))
        .agg(F.count("*").alias("n_common"))
    )
    s1 = sizes.select(F.col("__id").alias("id1"), F.col("__sz").alias("sz1"))
    s2 = sizes.select(F.col("__id").alias("id2"), F.col("__sz").alias("sz2"))
    raw = F.col("n_common").cast("double") / (F.col("sz1") + F.col("sz2") - F.col("n_common"))
    return (
        inter.join(s1, "id1")
        .join(s2, "id2")
        .filter(raw >= threshold)  # threshold on the raw ratio (oracle parity)
        .select("id1", "id2", raw.alias("jaccard"))
    )


def containment_pairs_exact(
    df: DataFrame, id_col: str, text_col: str, threshold: float
) -> DataFrame:
    """ASYMMETRIC set-containment pairs: every ordered (a, b) with
    |T_a ∩ T_b| / |T_a| >= threshold — "a is contained in b".

    The near-dup relation symmetric Jaccard structurally misses: a
    500-token article quoted inside a 50k-token page scores J ≈ 0.01
    but containment 1.0 — exactly the doc-in-doc duplication (quotes,
    wrapper boilerplate, aggregator pages, forum reposts) a training
    corpus must catch, because the small doc's content is ALREADY in
    the corpus through the big one. Broder's containment coefficient
    (the other half of the resemblance/containment pair from the
    original shingling paper).

    Same inverted-index geometry as ``jaccard_pairs_exact`` — one
    UNORDERED postings self-join and intersection count, then both
    ordered directions are projected from that single relation (the
    intersection is symmetric; only the normalizing size differs).
    Scale notes: THIS function is the bounded tier — a plain full
    postings self-join, quadratic in postings, correct for the
    doc_id-bounded catalog entry but NOT an unbounded-corpus plan. No
    prefix filter is implemented here. The sub-quadratic design an
    unbounded variant would use — future/design-only, no code path
    exists yet — is prefix-filtering the CONTAINED side only (the
    AllPairs bound |T_a| - ceil(t·|T_a|) + 1 involves just a's size;
    there is NO container-side length bound by construction, since
    containment against an unboundedly-larger b is legitimate).
    """
    toks = _token_sets(df, id_col, text_col)
    sizes = toks.select("__id", F.size("__tokens").alias("__sz"))
    postings = (
        toks.select("__id", F.explode("__tokens").alias("__tok"))
        .repartition(default_parallelism(), "__tok")
    )
    a = postings.alias("a")
    b = postings.alias("b")
    inter = (
        a.join(b, (F.col("a.__tok") == F.col("b.__tok")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("__ida"), F.col("b.__id").alias("__idb"))
        .agg(F.count("*").alias("__nc"))
    )
    sa = sizes.select(F.col("__id").alias("__ida"), F.col("__sz").alias("__sa"))
    sb = sizes.select(F.col("__id").alias("__idb"), F.col("__sz").alias("__sb"))
    both = inter.join(sa, "__ida").join(sb, "__idb")
    fwd = both.select(
        F.col("__ida").alias("contained_id"),
        F.col("__idb").alias("container_id"),
        (F.col("__nc").cast("double") / F.col("__sa")).alias("containment"),
    )
    rev = both.select(
        F.col("__idb").alias("contained_id"),
        F.col("__ida").alias("container_id"),
        (F.col("__nc").cast("double") / F.col("__sb")).alias("containment"),
    )
    return fwd.unionAll(rev).filter(F.col("containment") >= F.lit(threshold))


# Max prefix postings per (token, chunk) cell in the AllPairs self-join.
# Bounds per-task fan-out work at ~chunk * n_t pair probes; rare tokens
# (the common case on a Zipfian corpus) get k=1 and pay no replication.
_PREFIX_CHUNK = 1024


def jaccard_pairs_prefix(
    df: DataFrame, id_col: str, text_col: str, threshold: float, shingle_n: int = 1
) -> DataFrame:
    """EXACT Jaccard pairs via prefix filtering (the AllPairs / PPJoin
    scheme: Bayardo et al. WWW'07) — same result relation as
    ``jaccard_pairs_exact``, different join geometry.

    Canonically order every set by ascending global document frequency
    and index only its first ``|d| - ceil(t*|d|) + 1`` elements: any pair
    with Jaccard >= t must collide inside both prefixes (if all common
    elements sat outside a prefix, the overlap would be < ceil(t*|d|),
    contradicting J >= t). Candidates also pass the length filter
    ``t*|a| <= |b|`` both ways, then are verified exactly on the full
    sets with ``array_intersect``.

    Scale effect: the self-join runs on prefix postings of the RAREST
    tokens — high-frequency (stopword-like) postings lists, which make
    the plain inverted-index join quadratic, never enter the join. The
    verification join is linear in surviving candidates.

    When to use which (measured, sf0.1 documents): on this small, highly
    duplicative fixture the plain inverted join wins (4.7 s vs 10.4 s —
    candidates are dense, so verification dominates and postings are
    near-unique anyway); on a Zipfian web-scale corpus the ranking
    flips, because a single stopword shingle with df=k contributes k²/2
    join rows to the plain plan and zero to this one. Results are
    pytest-verified identical, so swapping is a pure planning choice.

    Duplication collapse (the same lesson as the fuzzy-names
    group-factoring and the identical-set scale oracle, now applied to
    the OPERATOR): Jaccard depends only on the token SET, so docs are
    first grouped by their exact set and the whole prefix/candidate/
    verify pipeline runs once per DISTINCT set; qualifying set pairs
    fan back out to doc pairs, and same-set doc pairs are emitted as
    exact 1.0s without ever entering the join. On a corpus where this
    entry's output is large — which means duplicative by definition —
    the quadratic stages shrink by the square of the collapse factor
    (sf1.0 fixture: 50k docs -> 33.6k sets; pre-distinct candidates
    912M -> ~410M), and on an all-distinct corpus the collapse costs
    one linear window shuffle and changes nothing. The result relation
    is bit-identical (pytest: prefix == inverted-index tier).
    """
    if shingle_n > 1:
        toks = _shingle_sets(df, id_col, text_col, shingle_n)
    else:
        toks = _token_sets(df, id_col, text_col)
    toks = toks.withColumn("__sz", F.size("__tokens"))
    # collapse identical token sets: set id = min doc id over the set
    # group (deterministic, no synthetic ids to desync on retry)
    setw = Window.partitionBy("__tokens")
    mem = toks.withColumn("__sid", F.min("__id").over(setw)).localCheckpoint()
    # materialize once: the distinct-set frame feeds the prefix/postings
    # side and the two verification sides — without this the tokenization
    # scan (split + array_distinct over the full corpus) runs three times
    sets = (
        mem.filter(F.col("__id") == F.col("__sid"))
        .select(F.col("__sid").alias("__id"), "__tokens", "__sz")
        .localCheckpoint()
    )
    postings = sets.select("__id", "__sz", F.explode("__tokens").alias("__tok"))

    freq = postings.groupBy("__tok").agg(F.count("*").alias("__df"))
    w = Window.partitionBy("__id").orderBy("__df", "__tok")
    prefix = (
        postings.join(freq, "__tok")
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz")) + 1)
        .select("__id", "__sz", "__tok")
        .localCheckpoint()  # feeds the chunk census + both join sides
    )
    # Hot-posting-list skew split: the self-join's fan-out work is
    # proportional to the SQUARE of each token's prefix-posting count,
    # and partitioning by token alone serializes a hot list onto one
    # core (sf1.0 fixture: 97% of all prefix rows live in 4 tokens; the
    # candidate stage plus its partial-distinct ran 3-wide on a 32-core
    # box). Split each token's postings into <= _PREFIX_CHUNK-row
    # chunks: the build side keeps its chunk id, the probe side is
    # replicated once per chunk (k_t = ceil(n_t / chunk), so rare
    # tokens replicate 1x and only hot lists pay), and (token, chunk)
    # becomes the equi-key — per-cell work is bounded by chunk * n_t
    # and the cells spread across the cluster. Pair completeness is
    # unchanged: every (a, b) meets in exactly one cell (b's chunk).
    chunks = prefix.groupBy("__tok").agg(
        F.ceil(F.count("*") / F.lit(_PREFIX_CHUNK)).cast("int").alias("__k")
    )
    withk = prefix.join(chunks, "__tok")
    # pin the cell partitioning EXPLICITLY on both sides: the join input
    # is only megabytes, so AQE's byte-based coalescing would fuse the
    # cells back onto a handful of tasks and re-serialize the pair
    # fan-out the chunk split exists to spread (measured: 1 running task
    # on a 32-core box). A user repartition is exempt from coalescing,
    # and both sides sharing it means the join adds no extra exchange.
    n_part = default_parallelism()
    bside = withk.withColumn(
        "__c", F.pmod(F.xxhash64("__id"), F.col("__k"))
    ).repartition(n_part, "__tok", "__c")
    aside = withk.withColumn(
        "__c", F.explode(F.sequence(F.lit(0), F.col("__k") - 1))
    ).repartition(n_part, "__tok", "__c")
    a = aside.alias("a")
    b = bside.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.__tok") == F.col("b.__tok"))
            & (F.col("a.__c") == F.col("b.__c"))
            & (F.col("a.__id") < F.col("b.__id"))
            # length filter: J >= t forces t*|a| <= |b| and t*|b| <= |a|
            & (F.lit(threshold) * F.col("a.__sz") <= F.col("b.__sz"))
            & (F.lit(threshold) * F.col("b.__sz") <= F.col("a.__sz")),
        )
        .select(F.col("a.__id").alias("id1"), F.col("b.__id").alias("id2"))
        .distinct()
    )
    t1 = sets.select(F.col("__id").alias("id1"), F.col("__tokens").alias("__t1"), F.col("__sz").alias("sz1"))
    t2 = sets.select(F.col("__id").alias("id2"), F.col("__tokens").alias("__t2"), F.col("__sz").alias("sz2"))
    n_common = F.size(F.array_intersect(F.col("__t1"), F.col("__t2")))
    raw = n_common.cast("double") / (F.col("sz1") + F.col("sz2") - n_common)
    set_pairs = (
        candidates.join(t1, "id1")
        .join(t2, "id2")
        .filter(raw >= threshold)
        .select(
            F.col("id1").alias("__s1"),
            F.col("id2").alias("__s2"),
            raw.alias("jaccard"),
        )
    )
    # fan qualifying SET pairs back out to doc pairs (output-sized work);
    # the set ids don't order the member doc ids, so re-normalize
    m1 = mem.select(F.col("__sid").alias("__s1"), F.col("__id").alias("__ida"))
    m2 = mem.select(F.col("__sid").alias("__s2"), F.col("__id").alias("__idb"))
    cross = set_pairs.join(m1, "__s1").join(m2, "__s2").select(
        F.least("__ida", "__idb").alias("id1"),
        F.greatest("__ida", "__idb").alias("id2"),
        "jaccard",
    )
    # same-set doc pairs are Jaccard 1.0 exactly (n_common == sz):
    # emitted directly, never joined
    dup1 = mem.select(F.col("__sid").alias("__s"), F.col("__id").alias("id1"))
    dup2 = mem.select(F.col("__sid").alias("__s"), F.col("__id").alias("id2"))
    same = (
        dup1.join(dup2, "__s")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(same)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 32
) -> DataFrame:
    """Per-row MinHash signature over the distinct-token set.

    Hash family: murmur3(token, seed_i) via the built-in ``hash`` —
    JVM-side, deterministic across runs/executors. Signature is computed
    with one explode + one groupBy (num_hashes mins in a single
    aggregation pass), not num_hashes passes.
    """
    postings = _token_sets(df, id_col, text_col).select(
        "__id", F.explode("__tokens").alias("__tok")
    )
    mins = postings.groupBy("__id").agg(
        *[F.min(F.hash(F.col("__tok"), F.lit(i))).alias(f"__h{i}") for i in range(num_hashes)]
    )
    return mins.select(
        "__id", F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("signature")
    )


def banded_buckets(signatures: DataFrame, bands: int) -> DataFrame:
    """The (__id, __bucket) banded projection of a MinHash signature
    relation: one xxhash64(band_id, band_slice) bucket per band per row.

    THE single definition of the banding expression — lsh_candidate_pairs
    builds its self-join input from this, and the cap rehearsal
    (`git show e82f2fa:scripts/lsh_cap_rehearsal.py`) built its
    hot-bucket census from the same call (an inline re-implementation
    there could silently desynchronize the cap measurements from what
    the cap actually drops).

    slice() is 1-based; rows per band are derived from the signature
    length so callers can band any num_hashes divisible by ``bands``.
    """
    return signatures.select(
        "__id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    b,
                    F.slice(
                        F.col("signature"),
                        b * (F.size(F.col("signature")) / bands).cast("int") + 1,
                        (F.size(F.col("signature")) / bands).cast("int"),
                    ),
                ),
            )
        ).alias("__bucket"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int, max_bucket: int | None = None
) -> DataFrame:
    """Band the signatures; rows sharing any band bucket become candidates.

    The bucket key is xxhash64(band_id, band_slice) — a single int64, so
    the self-join compares one long per row instead of an int-array
    (array-equality join keys cost ~2× at the same cardinality; measured
    7.0 s → 3.9 s on the sf0.1 documents fixture). A 64-bit bucket
    collision can only ADD a candidate pair, never drop one, and every
    caller exact-verifies candidates — so the contract (superset of true
    banded collisions, subset removed by verify) is unchanged.

    Shuffles by bucket, never enumerates the O(n²) pair space — EXCEPT
    when the corpus makes a band bucket itself quadratic: a bucket of k
    rows emits k(k-1)/2 pairs, and on degenerate content (boilerplate
    floods, near-constant token sets — the sf1.0 30-word-vocab fixture
    produced a 313M-pair candidate relation this way) one hot bucket is
    the whole job. ``max_bucket`` is the production guard: buckets
    larger than the cap are DROPPED before the self-join (counted with
    one window aggregate over the same bucket partitioning the join
    needs — no extra shuffle). With a cap the candidate relation
    becomes a SUBSET of the banded collisions, so recall on content
    inside hot buckets is deliberately sacrificed for bounded work —
    the standard trade in web-scale dedup, where a bucket that holds
    0.1% of the corpus is boilerplate by definition and its members are
    better handled by the exact-dup or boilerplate tiers. Default None
    keeps the exact superset contract (the catalogued tiers' pytest
    ground truths assume it).
    """
    banded = banded_buckets(signatures, bands)
    # spread the self-join across the cluster by BUCKET, not by whatever
    # partitioning the (small, often checkpointed) signature frame came
    # in with: the join's map input is tiny but its output fans out
    # k(k-1)/2 per bucket, and on a dense-duplicate corpus a 2-partition
    # input serializes a ~10^8-pair fan-out onto two cores (measured at
    # sf1.0: the uncapped candidate count sat >9 min on one task; with
    # the bucket repartition the same count is seconds). Same geometry
    # lesson as jaccard_pairs_prefix's repartition-by-token — and the
    # cap's window count below rides this exact exchange for free.
    banded = banded.repartition(default_parallelism(), "__bucket")
    if max_bucket is not None:
        bucket_w = Window.partitionBy("__bucket")
        banded = banded.withColumn("__bsz", F.count("*").over(bucket_w)).where(
            F.col("__bsz") <= max_bucket
        ).drop("__bsz")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id1"), F.col("b.__id").alias("id2"))
        .distinct()
    )


def minhash_estimate_floor(threshold: float, num_hashes: int) -> int:
    """Signature-prefilter floor: 3σ below the requested threshold.

    The matching-component count of a true pair at Jaccard J is
    Binomial(num_hashes, J); at the decision boundary J=threshold its
    σ is sqrt(t(1-t)/n)·n components. A floor 3σ below t·n keeps
    ≥99.87% of boundary pairs for ANY (threshold, num_hashes) — the
    old hard-coded 0.6·n floor silently discarded true pairs with J in
    [threshold, 0.6) whenever threshold < 0.6 (the margin was only
    derived for J=0.8)."""
    sigma = (threshold * (1.0 - threshold) / num_hashes) ** 0.5
    return int(max(0.0, threshold - 3.0 * sigma) * num_hashes)


def minhash_rep_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Identical-set collapse + MinHash signatures over the
    representatives: returns (groups, reps, sigs), each lazily
    checkpointed where multi-consumed. The shared front half of
    ``_minhash_rep_pairs``, exposed so the hot-bucket cap rehearsal
    (`git show e82f2fa:scripts/lsh_cap_rehearsal.py`) measured
    ``lsh_candidate_pairs`` over EXACTLY the signature relation the catalogued tier bands."""
    toks = _token_sets(df, id_col, text_col).select(
        "__id",
        F.array_sort(
            F.array_distinct(F.transform("__tokens", lambda t: F.xxhash64(t)))
        ).alias("__htoks"),
    )
    # collapse identical token sets: one representative per distinct set
    groups = toks.groupBy("__htoks").agg(
        F.min("__id").alias("__rep"), F.collect_list("__id").alias("__members")
    ).localCheckpoint(eager=False)
    reps = groups.select(F.col("__rep").alias("__id"), "__htoks")

    # signatures over the hashed-token postings of the representatives
    postings = reps.select("__id", F.explode("__htoks").alias("__h"))
    mins = postings.groupBy("__id").agg(
        *[
            F.min(F.hash(F.col("__h"), F.lit(i))).alias(f"__m{i}")
            for i in range(num_hashes)
        ]
    )
    sigs = mins.select(
        "__id",
        F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("signature"),
    ).localCheckpoint(eager=False)
    return groups, reps, sigs


def _minhash_rep_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    num_hashes: int,
    bands: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared MinHash→LSH core: returns (groups, rep_pairs).

    ``groups`` is one row per DISTINCT token set — (__htoks, __rep,
    __members) — lazily checkpointed; ``rep_pairs`` is the verified
    (id1, id2, jaccard) relation over group REPRESENTATIVES only.
    Both the pair-level tier (minhash_near_duplicates) and the
    connectivity tier (minhash_components) are built from this core.

    * token sets are hashed to sorted int64 arrays ONCE; the verify
      intersections run on longs, not strings;
    * documents with IDENTICAL token sets collapse to one
      representative before signatures/banding, so the LSH join never
      sees exact-dup cliques;
    * the tiny signature relation (one row per representative) is
      LAZILY localCheckpointed (eager=False: persisted by the first job
      that touches it, then shared) — it feeds three consumers (both
      sides of the banded self-join and the verify prefilter), and
      without the checkpoint Catalyst recomputes the explode+groupBy
      signature aggregation once per consumer (measured 3× on the
      sf0.1 fixture); ``groups`` is checkpointed the same way;
    * candidate pairs are prefiltered on the MinHash ESTIMATE
      (matching components ≥ minhash_estimate_floor, a 3σ margin below
      threshold) against the 32-int signatures BEFORE the token arrays
      are joined in, so most false candidates die without ever touching
      a set intersection.
    """
    groups, reps, sigs = minhash_rep_signatures(df, id_col, text_col, num_hashes)
    candidates = lsh_candidate_pairs(sigs, bands)

    # stage 1: estimate prefilter on the signatures alone — the
    # candidate relation is multi-million rows, so keep the join payload
    # to 2×(num_hashes ints) until the cheap filter has run (each side
    # small enough for AQE to broadcast at this SF; at model-breaking
    # rep counts both joins hash-shuffle by id)
    est = F.size(
        F.filter(F.zip_with("__s1", "__s2", lambda x, y: x == y), lambda m: m)
    )
    survivors = (
        candidates.join(
            sigs.select(F.col("__id").alias("id1"), F.col("signature").alias("__s1")),
            "id1",
        )
        .join(
            sigs.select(F.col("__id").alias("id2"), F.col("signature").alias("__s2")),
            "id2",
        )
        .filter(est >= F.lit(minhash_estimate_floor(threshold, num_hashes)))
        .select("id1", "id2")
    )

    # stage 2: exact verify on the int64 token arrays
    raw = F.size(F.array_intersect("__t1", "__t2")).cast("double") / F.size(
        F.array_union("__t1", "__t2")
    )
    rep_pairs = (
        survivors.join(
            reps.select(F.col("__id").alias("id1"), F.col("__htoks").alias("__t1")),
            "id1",
        )
        .join(
            reps.select(F.col("__id").alias("id2"), F.col("__htoks").alias("__t2")),
            "id2",
        )
        .filter(raw >= threshold)
        .select("id1", "id2", raw.alias("jaccard"))
    )
    return groups, rep_pairs


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    core: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """MinHash→LSH candidates, verified with Jaccard over 64-bit token
    fingerprints (collision-negligible: ~|vocab|²/2⁶⁴), so no false
    positives beyond that bound; recall governed by
    1-(1-t^(hashes/bands))^bands, minus the conservative 3σ signature
    prefilter (see _minhash_rep_pairs / minhash_estimate_floor).

    Duplicate-dense corpora are the expensive case — the fixture at
    sf0.1 contains 2.9M true ≥0.8 pairs among 5000 docs (23% of the
    whole pair space), and pair OUTPUT is inherently quadratic in
    duplicate-cluster size. The identical-set collapse, hashed bucket
    keys, checkpointed signatures, and two-stage verify live in
    _minhash_rep_pairs (together 72 s → ~13 s warm at sf0.1).

    At 100 TB the pair enumeration itself is the bottleneck by design —
    a 1M-doc duplicate cluster implies 5·10¹¹ pairs. Production
    pipelines stop at connectivity instead: use minhash_components,
    which feeds the same verified rep-pair graph into connected
    components WITHOUT ever materializing member pairs.

    ``core`` accepts a precomputed (groups, rep_pairs) from
    ``_minhash_rep_pairs`` so callers running BOTH granularities (this
    pair tier and minhash_components) pay the MinHash→LSH→verify
    pipeline once — a real pipeline materializes the rep-pair graph
    once and derives every downstream relation from it."""
    groups, rep_pairs = (
        core
        if core is not None
        else _minhash_rep_pairs(df, id_col, text_col, threshold, num_hashes, bands)
    )

    # expand representative pairs to member pairs (identical token sets
    # have identical Jaccard to everything), normalized to id1 < id2
    m1 = groups.select(
        F.col("__rep").alias("id1"), F.explode("__members").alias("__a")
    )
    m2 = groups.select(
        F.col("__rep").alias("id2"), F.explode("__members").alias("__b")
    )
    cross = (
        rep_pairs.join(m1, "id1")
        .join(m2, "id2")
        .select(
            F.least("__a", "__b").alias("id1"),
            F.greatest("__a", "__b").alias("id2"),
            "jaccard",
        )
    )
    # in-group pairs: every ordered pair within an identical-set group
    within = (
        groups.select(F.explode("__members").alias("__a"), "__members")
        .select("__a", F.explode("__members").alias("__b"))
        .filter(F.col("__a") < F.col("__b"))
        .select(
            F.col("__a").alias("id1"),
            F.col("__b").alias("id2"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionAll(within)


def minhash_component_labels(
    groups: DataFrame, rep_pairs: DataFrame, max_iterations: int = 25
) -> DataFrame:
    """(node, component) labels over the MinHash near-dup graph: verified
    rep pairs plus one (rep → member) star edge per identical-set member
    — the edge set is linear in documents + verified rep pairs, and
    member pairs are never materialized. Split out of
    minhash_components so callers can checkpoint the label frame once
    per corpus (the O(log n) contraction loop is the dominant cost of
    repeated component queries)."""
    from .cluster import connected_components_twophase

    member_edges = (
        groups.select(F.col("__rep").alias("id1"), F.explode("__members").alias("id2"))
        .filter(F.col("id1") != F.col("id2"))
    )
    edges = rep_pairs.select("id1", "id2").unionAll(member_edges)
    return connected_components_twophase(
        edges, "id1", "id2", max_iterations=max_iterations
    )


def minhash_components(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    max_iterations: int = 25,
    core: tuple[DataFrame, DataFrame] | None = None,
    labels: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH dedup at CONNECTIVITY granularity — the 100 TB
    short-circuit the pair tier's docstring prescribes.

    Pair-level output is quadratic in duplicate-cluster size (a 1M-doc
    cluster implies 5·10¹¹ pairs); a dedup pipeline only needs GROUPS
    and one survivor per group. This operator feeds the verified
    representative-pair graph straight into O(log n) two-phase
    connected components, with identical-set members attached by a
    (rep → member) star edge each — the edge set is linear in documents
    plus verified rep pairs, and member pairs are NEVER materialized.

    Output: one row per input document —
      (doc_id, component, is_survivor) — where ``component`` is the
    minimum doc_id of the document's near-duplicate cluster (singleton
    docs form their own component) and ``is_survivor`` marks the one
    row per component a dedup pipeline keeps.

    ``core`` / ``labels`` accept precomputed intermediates (the
    (groups, rep_pairs) core, or the finished label frame from
    minhash_component_labels) so repeated queries against one corpus
    pay the pipeline once — the materialize-once index discipline.
    """
    if labels is None:
        groups, rep_pairs = (
            core
            if core is not None
            else _minhash_rep_pairs(df, id_col, text_col, threshold, num_hashes, bands)
        )
        labels = minhash_component_labels(groups, rep_pairs, max_iterations)
    docs = df.select(F.col(id_col).alias("doc_id"))
    return docs.join(
        labels.select(F.col("node").alias("doc_id"), "component"), "doc_id", "left"
    ).select(
        "doc_id",
        # two-phase labels are component minima, so singletons (no edge,
        # NULL label) self-label and survivor == label-holder
        F.coalesce("component", F.col("doc_id")).alias("component"),
        (F.coalesce("component", F.col("doc_id")) == F.col("doc_id")).alias(
            "is_survivor"
        ),
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per row: xxhash64 token bits, majority-vote per bit.

    One explode + one 64-column aggregation (single shuffle); the bit
    recombination is a JVM-side fold — no Python.
    """
    postings = (
        _token_sets(df, id_col, text_col)
        .select("__id", F.explode("__tokens").alias("__tok"))
        .select("__id", F.xxhash64(F.col("__tok")).alias("__h"))
    )

    bit_votes = postings.groupBy("__id").agg(
        *[
            F.sum(
                (F.shiftrightunsigned(F.col("__h"), i).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"__b{i}")
            for i in range(64)
        ]
    )
    # Recombine: bit i set iff vote > 0. Built as a sum of powers of two
    # (each term is 0 or 2^i, all non-negative, max < 2^63 via signed-safe
    # handling of bit 63 through a negative offset).
    acc = F.lit(0).cast("long")
    for i in range(63):
        acc = acc + F.when(F.col(f"__b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    # bit 63 would overflow signed long as +2^63; encode it by sign.
    acc = acc + F.when(F.col("__b63") > 0, F.lit(-(1 << 63)).cast("long")).otherwise(F.lit(0).cast("long"))
    return bit_votes.select(F.col("__id").alias("doc_id"), acc.alias("simhash"))


def simhash_near_duplicates(df: DataFrame, id_col: str, text_col: str, max_hamming: int = 6) -> DataFrame:
    """Pairs within a hamming radius of each other's SimHash.

    Pairing strategy: split the fingerprint into ``max_hamming + 1``
    contiguous blocks and join on exact block match. Pigeonhole makes
    this lossless: at most ``max_hamming`` bits differ, so at least one
    of the ``max_hamming + 1`` blocks is untouched and the pair meets in
    that block's bucket. (Blocking on fewer segments than
    ``max_hamming + 1`` — e.g. 4 quarters for hamming 6 — silently drops
    pairs whose differing bits spread across every segment.) Candidates
    are then verified with bit_count(xor), so output has no false
    positives either.
    """
    return simhash_pairs_from_sigs(simhash64(df, id_col, text_col), max_hamming)


def simhash60_md5(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PORTABLE 60-bit SimHash per row: md5-derived bit votes, so the
    fingerprint is a pure function of the data and an oracle can
    recompute it bit-for-bit — the graduation of the SimHash class from
    rows-only to oracle-paired (the xxhash64 tier above stays as
    the faster engine-internal variant, like murmur3 MinHash vs the
    exact Jaccard tiers).

    Per distinct token: h = int(first 15 hex chars of md5(token)) — a
    60-bit non-negative integer both engines parse identically (md5 hex
    is already relied on cross-engine by corpus_stratified_sample).
    Per bit b: vote_b = sum over tokens of (2*bit_b(h) - 1); fingerprint
    bit b is set iff vote_b > 0 (ties -> 0, deterministic). All integer
    arithmetic — no libm, no engine hash. One explode + one 60-column
    aggregation (single shuffle), same shape as simhash64.
    """
    from ..session import widen_narrow_scan

    # Stage-width class: the split + array_distinct + per-token
    # md5 fan below runs in the SCAN stage, and the doc_id-bounded scan
    # is one split — measured 0.87 s single-threaded for 1000 docs at
    # sf0.1. Conditional hash-keyed widen (no sortBeforeRepartition;
    # inert on a many-split production scan).
    postings = (
        _token_sets(
            widen_narrow_scan(df.select(id_col, text_col), id_col),
            id_col,
            text_col,
        )
        .select("__id", F.explode("__tokens").alias("__tok"))
        .select(
            "__id",
            F.conv(F.substring(F.md5("__tok"), 1, 15), 16, 10)
            .cast("long")
            .alias("__h"),
        )
    )
    bit_votes = postings.groupBy("__id").agg(
        *[
            F.sum(
                (F.shiftrightunsigned(F.col("__h"), i).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"__b{i}")
            for i in range(60)
        ]
    )
    acc = F.lit(0).cast("long")
    for i in range(60):
        acc = acc + F.when(
            F.col(f"__b{i}") > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return bit_votes.select(F.col("__id").alias("doc_id"), acc.alias("simhash"))


def simhash_pairs_from_sigs(sigs: DataFrame, max_hamming: int) -> DataFrame:
    """Blocked pairing stage over (doc_id, simhash) fingerprints.

    Separated from fingerprinting so the lossless-blocking guarantee can
    be tested with crafted bit patterns (bits spread across all blocks).
    """
    if not 0 <= max_hamming <= 31:
        raise ValueError("max_hamming must be in [0, 31] (64-bit fingerprint blocking)")
    n_blocks = max_hamming + 1
    base, extra = divmod(64, n_blocks)
    blocks, offset = [], 0
    for i in range(n_blocks):
        width = base + (1 if i < extra else 0)
        blocks.append(
            F.shiftrightunsigned(F.col("simhash"), offset).bitwiseAND(F.lit((1 << width) - 1))
        )
        offset += width
    segments = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(F.array(*blocks)).alias("q_id", "q_val"),
    )
    a = segments.alias("a")
    b = segments.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.q_id") == F.col("b.q_id"))
            & (F.col("a.q_val") == F.col("b.q_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            F.col("a.simhash").alias("h1"),
            F.col("b.simhash").alias("h2"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


def minhash_signatures_md5(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 12
) -> DataFrame:
    """PORTABLE MinHash signatures: permutation ``i`` hashes a token to
    the 60-bit integer from the first 15 hex chars of
    ``md5(i || ':' || token)`` and takes the min over the distinct-token
    set — a pure function of the data, so an oracle engine recomputes
    every signature component bit-for-bit (the simhash60_md5 move
    applied to the MinHash family; the murmur3 `minhash_signatures`
    above stays as the faster engine-internal production tier).

    Same single-shuffle shape as minhash_signatures: one explode + one
    groupBy computing all ``num_hashes`` mins in a single aggregation
    pass. Returns (__id, signature array<long>).
    """
    from ..session import widen_narrow_scan

    # Stage-width class, same fix as simhash60_md5: num_hashes
    # md5 evaluations per token otherwise run inside the one-split
    # doc_id-bounded scan stage; conditional keyed widen spreads the
    # fan, inert on a many-split scan.
    postings = _token_sets(
        widen_narrow_scan(df.select(id_col, text_col), id_col), id_col, text_col
    ).select("__id", F.explode("__tokens").alias("__tok"))
    mins = postings.groupBy("__id").agg(
        *[
            F.min(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.lit(str(i)), F.col("__tok"))), 1, 15
                    ),
                    16,
                    10,
                )
                .cast("long")
            ).alias(f"__m{i}")
            for i in range(num_hashes)
        ]
    )
    return mins.select(
        "__id",
        F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("signature"),
    )


def minhash_banded_pairs_exact(sigs: DataFrame, bands: int) -> DataFrame:
    """Candidate pairs sharing at least one EXACT band slice — the
    engine-independent banding twin of lsh_candidate_pairs.

    The production tier buckets on xxhash64(band, slice) (one long per
    row, faster join key) and tolerates hash collisions because its
    callers exact-verify candidates; here the bucket key is the literal
    decimal rendering of (band, slice) — collision-free by
    construction — so the candidate relation is EXACTLY the
    "shares >= 1 band" set an oracle brute-forces, making the composed
    MinHash pipeline hash-matchable at the driver. Same sub-quadratic
    shape: shuffle by bucket, self-join per bucket.
    """
    rows = (F.size(F.col("signature")) / bands).cast("int")
    slices = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.slice(F.col("signature"), b * rows + 1, rows),
    )
    banded = sigs.select(
        "__id",
        F.posexplode(slices).alias("__band", "__slice"),
    ).select(
        "__id",
        F.concat_ws(
            ",",
            F.col("__band").cast("string"),
            F.concat_ws(",", F.transform("__slice", lambda x: x.cast("string"))),
        ).alias("__bucket"),
    )
    banded = banded.repartition(default_parallelism(), "__bucket")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id1"), F.col("b.__id").alias("id2"))
        .distinct()
    )


# Auto-strategy boundary for exact cosine all-pairs: one corpus copy
# must fit in every executor to broadcast (vectors are array<double>, so
# ~8 bytes/dim/row + arrow overhead). 256 MB leaves headroom in a 4 GB
# executor while covering ~1M rows at dim=32 or 80k at dim=384.
COSINE_BROADCAST_BYTES_CAP = 256 << 20


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    strategy: str = "auto",
    broadcast_bytes_cap: int = COSINE_BROADCAST_BYTES_CAP,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (brief: the semantic
    dedup tier — catches paraphrases that share no tokens).

    ``strategy="auto"`` (default) picks by measured corpus size
    (rows × dim × 8 bytes vs ``broadcast_bytes_cap``) — at 100× data the
    default must flip to the shuffle path on its own rather than OOM on
    a broadcast sized for the test fixture. Strategies:

      * ``kernel`` (auto's under-cap choice): the vector matrix is
        collected once and broadcast (same memory class the JVM
        ``broadcast`` tier ships to every executor anyway); executors
        receive only their shard of row ids and score the half-matrix
        block against the broadcast with a dim-loop of vectorized
        numpy adds. ``acc += A[:, j] * M[:, j]`` performs the SAME
        sequential IEEE additions as the JVM ``zip_with``/``aggregate``
        fold (and the sum-of-squares the same fold, computed once per
        vector instead of once per pair), so every cosine — and
        therefore the >= threshold decision and the rounded output —
        is bit-identical to the ``broadcast`` tier (equality
        pytest-pinned; the oracle hash-match holds either way).
      * ``broadcast``: nested-loop of the corpus against a
        broadcast copy of itself; the per-pair dot product is a JVM
        ``zip_with`` fold — NO shuffle at all (the pos-join alternative
        moves corpus × dim rows through two shuffles and spills first).
        Same memory boundary as ``kernel``; kept as the pure-JVM form.
      * ``posjoin``: dimension-keyed explode + join; linear rows per
        reducer, for corpora past broadcast size. Beyond THAT, exact
        all-pairs is the wrong tool — gate candidates with
        similarity.cosine_topk_lsh buckets and verify only those.

    ALL tiers (and the dedup_semantic_exact oracle) compute the cosine
    as ``dp / sqrt(sq1 * sq2)`` — one sqrt of the product, never
    ``sqrt(sq1) * sqrt(sq2)`` — so a boundary pair cannot flip the
    ``>=`` decision across physical strategies (up to 1 ulp apart
    otherwise).

    The ``>= threshold`` decision itself is taken on ``round(cosine,
    4)`` — the precision the operator EMITS — in every tier, and the
    paired oracles threshold on the same rounded value: a
    different summation order (hash-agg sum in the naive oracle, SIMD
    array_cosine_similarity in the sf1.0 scale oracle) can sit a few
    ulps across an unrounded cut, and thresholding at emitted precision
    makes inclusion exactly as robust as the values being hashed. The
    numpy kernel pre-masks with a 1e-4-relaxed cut and leaves the
    authoritative rounded comparison to the same Spark ``F.round``
    expression the other tiers use. (Residual boundary note: a cosine
    landing EXACTLY on a 4th-decimal half-boundary relies on
    Spark's exact-decimal HALF_UP round and DuckDB's
    float-multiply round agreeing — this ulp-boundary class pre-existed
    on the unrounded cut and has never surfaced in an oracle run; if
    one ever does, switch to an epsilon-widened cut plus rounded
    emission.)

    Domain: zero-norm vectors have no defined cosine and are excluded
    from pairing by an identical ``sum(x²) > 0`` pre-filter in every
    tier (under ANSI mode the JVM division would otherwise raise
    DIVIDE_BY_ZERO; pre-filtering keeps the tiers uniform rather than
    strategy-dependent). Vectors CONTAINING NaN survive the filter
    (NaN is greater than every double in Spark's ordering) and produce
    NaN cosines, which every tier KEEPS — Spark evaluates ``NaN >= t``
    as TRUE, and the numpy kernel preserves that with an explicit
    ``isnan`` mask. Both behaviors are pinned by a boundary/NaN pytest.
    """
    from ..operators.similarity import dot, sq_norm

    # identical domain restriction in every tier (see docstring)
    df = df.filter(sq_norm(F.col(vec_col).cast("array<double>")) > 0)

    if strategy == "auto":
        n_rows, dim = df.select(
            F.count("*"), F.first(F.size(F.col(vec_col)))
        ).first()
        est_bytes = (n_rows or 0) * (dim or 0) * 8
        strategy = "kernel" if est_bytes <= broadcast_bytes_cap else "posjoin"

    if strategy == "kernel":
        import numpy as np

        v = df.select(
            F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v")
        )
        rows = v.collect()  # size-gated above: rows × dim × 8 <= cap
        if rows and isinstance(rows[0]["__id"], int):
            ids = np.array([r["__id"] for r in rows], dtype="int64")
            mat = np.array([r["__v"] for r in rows], dtype="float64")
            n, dim = mat.shape
            sq = np.zeros(n, dtype="float64")
            for j in range(dim):  # sequential adds == the JVM sq fold
                sq += mat[:, j] * mat[:, j]
            sc = df.sparkSession.sparkContext
            ids_bc, mat_bc, sq_bc = sc.broadcast(ids), sc.broadcast(mat), sc.broadcast(sq)
            idx = {int(i): p for p, i in enumerate(ids)}
            idx_bc = sc.broadcast(idx)
            # bound the (chunk × n) score block to ~32 MB of doubles
            chunk = max(1, 4_000_000 // max(1, n))

            def _score(batches):
                import pandas as pd

                ids_a, mat_a, sq_a = ids_bc.value, mat_bc.value, sq_bc.value
                pos = idx_bc.value
                for pdf in batches:
                    rows_i = pdf["__id"].map(pos).to_numpy(dtype="int64")
                    for s in range(0, len(rows_i), chunk):
                        i1 = rows_i[s : s + chunk]
                        A = mat_a[i1]
                        acc = np.zeros((len(i1), len(ids_a)), dtype="float64")
                        for j in range(A.shape[1]):  # JVM fold order
                            acc += A[:, j, None] * mat_a[None, :, j]
                        # oracle form: one sqrt of the product of sq norms;
                        # NaN >= t is TRUE in Spark's ordering — keep NaNs
                        with np.errstate(divide="ignore", invalid="ignore"):
                            cos = acc / np.sqrt(sq_a[i1][:, None] * sq_a[None, :])
                        # relaxed pre-mask; the exact rounded cut is the
                        # F.round filter below (see docstring)
                        mask = ((cos >= threshold - 1e-4) | np.isnan(cos)) & (
                            ids_a[i1][:, None] < ids_a[None, :]
                        )
                        r, c = np.nonzero(mask)
                        yield pd.DataFrame(
                            {
                                "id1": ids_a[i1][r],
                                "id2": ids_a[c],
                                "__raw": cos[r, c],
                                # pandas NaN crosses Arrow as NULL (pandas
                                # uses NaN for missing); carry the NaN-ness
                                # explicitly so the JVM side can restore it
                                # and this tier emits NaN like the others
                                "__nan": np.isnan(cos[r, c]),
                            }
                        )

            restored = F.when(
                F.col("__nan"), F.lit(float("nan")).cast("double")
            ).otherwise(F.col("__raw"))
            return (
                v.select("__id")
                .repartition(default_parallelism())
                .mapInPandas(_score, "id1 long, id2 long, __raw double, __nan boolean")
                .withColumn("__rawf", restored)
                .filter(F.round("__rawf", 4) >= threshold)
                .select("id1", "id2", F.round("__rawf", 4).alias("cosine"))
            )
        strategy = "broadcast"  # non-integer ids: keep the JVM tier

    if strategy == "broadcast":
        v = df.select(
            F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v")
        ).withColumn("__sq", sq_norm(F.col("__v")))
        a = v.select(
            F.col("__id").alias("id1"), F.col("__v").alias("__v1"), F.col("__sq").alias("__sq1")
        ).repartition(default_parallelism())
        b = v.select(
            F.col("__id").alias("id2"), F.col("__v").alias("__v2"), F.col("__sq").alias("__sq2")
        )
        raw = dot(F.col("__v1"), F.col("__v2")) / F.sqrt(F.col("__sq1") * F.col("__sq2"))
        return (
            a.join(F.broadcast(b), F.col("id1") < F.col("id2"))
            .withColumn("__raw", raw)
            .filter(F.round(F.col("__raw"), 4) >= threshold)
            .select("id1", "id2", F.round("__raw", 4).alias("cosine"))
        )

    e = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("__pos", "__val"),
    ).repartition(default_parallelism(), "__pos")  # dim-keyed fan-out
    norms = e.groupBy("__id").agg(F.sum(F.col("__val") * F.col("__val")).alias("__sq"))
    a, b = e.alias("a"), e.alias("b")
    dots = (
        a.join(b, (F.col("a.__pos") == F.col("b.__pos")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(F.col("a.__id").alias("id1"), F.col("b.__id").alias("id2"))
        .agg(F.sum(F.col("a.__val") * F.col("b.__val")).alias("__dp"))
    )
    n1 = norms.select(F.col("__id").alias("id1"), F.col("__sq").alias("__sq1"))
    n2 = norms.select(F.col("__id").alias("id2"), F.col("__sq").alias("__sq2"))
    raw = F.col("__dp") / F.sqrt(F.col("__sq1") * F.col("__sq2"))
    return (
        dots.join(n1, "id1")
        .join(n2, "id2")
        .filter(F.round(raw, 4) >= threshold)
        .select("id1", "id2", F.round(raw, 4).alias("cosine"))
    )
