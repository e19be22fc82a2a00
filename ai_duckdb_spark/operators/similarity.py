"""Vector similarity search (SURVEY.md §2.9 X7 [D] — north-star scope).

Two tiers over an ``array<float>`` embedding column:

  * brute-force cosine top-k — exact baseline. Queries are broadcast
    (k queries × full scan of the corpus); per-pair math is a JVM-side
    ``zip_with`` + ``aggregate`` fold in double precision (no Python, no
    UDF). Top-k per query is a ranking window over (query, similarity).
  * random-hyperplane LSH — the scale path: hash every vector to a
    bit-bucket with J fixed hyperplanes; only same-bucket candidates get
    exact scoring. Corpus bucketing is one narrow projection; the
    candidate join is an equi-join on the bucket id instead of a cross
    join, turning O(N×Q) into O(N×Q/2^J) expected comparisons.

Hyperplanes are deterministic (seeded by plane/dim index via math.sin) so
results are stable across runs and executors without shipping state.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# largest unit-vector matrix the NN-Descent scoring kernel will collect
# and broadcast (float64 bytes). Same memory class as the broadcast hash
# join AQE picks for the vector side at these sizes; beyond it the build
# falls back to the shuffle-join + HOF-fold path automatically.
_KERNEL_CAP_BYTES = 128 << 20


def _as_double(col) -> F.Column:
    return F.col(col).cast("array<double>") if isinstance(col, str) else col.cast("array<double>")


def dot(a: F.Column, b: F.Column) -> F.Column:
    """Double-precision dot product of two array columns (JVM fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def sq_norm(a: F.Column) -> F.Column:
    """Sum-of-squares fold (the oracle's ``sum(val*val)`` per vector)."""
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)


def l2_norm(a: F.Column) -> F.Column:
    return F.sqrt(sq_norm(a))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, rank, similarity). Self-matches are
    excluded. Ties break on neighbor id for determinism.
    """
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("__cvec")
    )
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__qvec"))

    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "similarity",
            dot(F.col("__qvec"), F.col("__cvec"))
            / (l2_norm(F.col("__qvec")) * l2_norm(F.col("__cvec"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("similarity", 4).alias("similarity"))
    )


def cosine_topk_filtered(
    corpus: DataFrame,
    queries: DataFrame,
    attr_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Metadata-FILTERED exact top-k cosine: neighbors restricted to
    corpus rows whose ``attr_col`` equals the query's — the
    "filtered vector search" shape every production retrieval system
    needs (tenant isolation, language-matched retrieval, source or
    license constraints on RAG candidates).

    Strategy is PRE-filtering: the attribute equality is the JOIN key,
    so only same-attribute pairs are ever scored — at selectivity s the
    scored relation is s·|corpus|·|queries| instead of the cross
    product, and recall is exact BY CONSTRUCTION (post-filtering an
    unfiltered ANN top-k is the lossy alternative: the k survivors of
    a filter applied after ranking can be fewer than k true filtered
    neighbors). At cluster scale the corpus is written partitioned by
    the attribute, so each query's candidate scan prunes to its
    partition; the query side broadcasts exactly like the unfiltered
    brute-force tier.

    Output: (query_id, attr, neighbor_id, rank, similarity); ties break
    on neighbor id.
    """
    c = corpus.select(
        F.col(attr_col).alias("__attr"),
        F.col(id_col).alias("neighbor_id"),
        _as_double(vec_col).alias("__cvec"),
    )
    q = queries.select(
        F.col(attr_col).alias("__attr"),
        F.col(id_col).alias("query_id"),
        _as_double(vec_col).alias("__qvec"),
    )
    scored = (
        c.join(F.broadcast(q), "__attr")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "similarity",
            dot(F.col("__qvec"), F.col("__cvec"))
            / (l2_norm(F.col("__qvec")) * l2_norm(F.col("__cvec"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("__attr").alias("attr"),
            "neighbor_id",
            "rank",
            F.round("similarity", 4).alias("similarity"),
        )
    )


def hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane (unit-free; only sign matters)."""
    return [math.sin((plane + 1) * 1000003 + i * 7919) for i in range(dim)]


def lsh_bucket(vec_col: F.Column, planes: list[list[float]]) -> F.Column:
    """Bit-bucket id: bit j = sign(vec · plane_j)."""
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        proj = dot(vec_col, F.array(*[F.lit(v) for v in plane]))
        bucket = bucket + F.when(proj > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    num_planes: int = 4,
    probe_radius: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket,
    with multi-probe expansion (also probe buckets within hamming
    ``probe_radius`` of the query's — boundary-crossing neighbors are the
    dominant recall loss for hyperplane LSH on high-angle corpora).

    Recall < 1 by construction (that is the point: at 100 TB the bucket
    equi-join replaces the corpus-wide scan per query). Same output shape
    as the brute-force tier so both are drop-in comparable. Expected
    candidate fraction ≈ (1 + planes·radius) / 2^planes of the corpus.
    """
    planes = [hyperplane(j, dim) for j in range(num_planes)]
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("__cvec")
    ).withColumn("__bucket", lsh_bucket(F.col("__cvec"), planes))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__qvec")
    ).withColumn("__bucket", lsh_bucket(F.col("__qvec"), planes))
    if probe_radius >= 1:
        probes = F.array(
            F.col("__bucket"),
            *[F.col("__bucket").bitwiseXOR(F.lit(1 << j)) for j in range(num_planes)],
        )
        q = q.withColumn("__bucket", F.explode(probes))

    scored = (
        c.join(F.broadcast(q), "__bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        # multi-probe can surface the same candidate from several buckets
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn(
            "similarity",
            dot(F.col("__qvec"), F.col("__cvec"))
            / (l2_norm(F.col("__qvec")) * l2_norm(F.col("__cvec"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("similarity", 4).alias("similarity"))
    )


def _centroids_df(spark, centroids: list[list[float]]) -> DataFrame:
    """The IVF model as a k-row relation — joined with a broadcast hint,
    it ships to executors like any dimension table. (Baking k×dim floats
    into literal expressions instead costs seconds of Catalyst
    analysis/codegen per plan and grows with k — measured 3-4× slower.
    Routed through local_relation so it is a LocalTableScan, not a
    32-python-task pickled RDD — see session.local_relation.)"""
    from ..session import local_relation

    return local_relation(
        spark,
        [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
        "cid int, cvec array<double>",
    )


def _nearest(
    df: DataFrame, id_col: str, vec_col: str, centroids_df: DataFrame, nprobe: int
) -> DataFrame:
    """Attach ``cid``/``crank`` (1 = nearest) for the ``nprobe`` nearest
    centroids of each row. Centroids are unit-normalized, so ranking by
    raw dot product is ranking by cosine (the row's own norm is constant
    across centroids). Broadcast cross join of k centroids per row, then
    a ranking window — ties break toward higher cid, deterministically.
    """
    scored = df.crossJoin(F.broadcast(centroids_df)).withColumn(
        "__csim", dot(F.col(vec_col), F.col("cvec"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__csim"), F.desc("cid"))
    return (
        scored.withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= nprobe)
        .drop("cvec", "__csim")
    )


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    iters: int = 5,
) -> list[list[float]]:
    """Deterministic spherical k-means coarse quantizer (IVF training).

    Lloyd's iterations as DataFrame jobs: assignment is a JVM fold
    against centroid literals, the update a posexplode + groupBy
    (cluster, dim) average — one narrow shuffle per iteration, linear in
    corpus size. Init = the ``n_clusters`` lowest-id vectors, so the
    model is reproducible across runs/engines with no RNG. Only k×dim
    centroid floats ever reach the driver; empty clusters keep their
    previous centroid.
    """
    vecs = (
        corpus.select(F.col(id_col).alias("__id"), _as_double(vec_col).alias("__raw"))
        .withColumn("__n", l2_norm(F.col("__raw")))
        .select("__id", F.transform("__raw", lambda x: x / F.col("__n")).alias("__v"))
    )
    init = vecs.orderBy("__id").limit(n_clusters).collect()
    centroids = [list(r["__v"]) for r in init]

    vecs = vecs.localCheckpoint()  # loop-invariant: scan once, not per iteration
    spark = corpus.sparkSession
    for _ in range(iters):
        assigned = _nearest(vecs, "__id", "__v", _centroids_df(spark, centroids), 1)
        rows = (
            assigned.select("cid", F.posexplode("__v").alias("__pos", "__val"))
            .groupBy("cid", "__pos")
            .agg(F.avg("__val").alias("__m"))
            .collect()
        )
        sums: dict[int, list[float]] = {}
        for r in rows:
            sums.setdefault(r["cid"], [0.0] * len(centroids[0]))[r["__pos"]] = r["__m"]
        for cid, mean in sums.items():
            norm = math.sqrt(sum(v * v for v in mean)) or 1.0
            centroids[cid] = [v / norm for v in mean]
    return centroids


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_clusters: int = 16,
    nprobe: int = 4,
    iters: int = 5,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF index: spherical-k-means coarse
    quantizer, then exact cosine only against the ``nprobe`` nearest
    inverted lists per query.

    The candidate join is an equi-join on the cluster id — expected
    nprobe/n_clusters of the corpus per query instead of a full scan. At
    cluster scale the assigned corpus would be written partitioned by
    cluster id so a probe prunes to nprobe partitions at the parquet
    scan. Data-adaptive counterpart of the (data-oblivious) LSH tier:
    same output shape as both other tiers, recall pytest-checked against
    brute force.
    """
    spark = corpus.sparkSession
    if centroids is None:
        # index construction — in a deployed pipeline this runs once
        # offline (pass the persisted model via ``centroids`` to search)
        centroids = kmeans_centroids(corpus, id_col, vec_col, n_clusters, iters)
    centroids_df = _centroids_df(spark, centroids)
    c = _nearest(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("__cvec")
        ),
        "neighbor_id",
        "__cvec",
        centroids_df,
        1,
    ).withColumnRenamed("cid", "__cluster").drop("crank")
    q = _nearest(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__qvec")
        ),
        "query_id",
        "__qvec",
        centroids_df,
        nprobe,
    ).withColumnRenamed("cid", "__cluster").drop("crank")
    scored = (
        c.join(F.broadcast(q), "__cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "similarity",
            dot(F.col("__qvec"), F.col("__cvec"))
            / (l2_norm(F.col("__qvec")) * l2_norm(F.col("__cvec"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("similarity", 4).alias("similarity"))
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    iters: int = 5,
    centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """Train and PERSIST an IVF index: centroids parquet + the assigned
    corpus partitioned by cluster id (sinks.write_partitioned layout).

    This is the offline half of IVF at scale — the corpus is laid out so
    a probe reads only its nprobe cluster directories (partition pruning
    at the parquet scan), instead of re-assigning the corpus per search
    call. Pass an already-trained model via ``centroids`` to skip the
    k-means run. Returns the centroids.
    """
    from ..sources.sinks import write_partitioned

    if centroids is None:
        centroids = kmeans_centroids(corpus, id_col, vec_col, n_clusters, iters)
    spark = corpus.sparkSession
    assigned = _nearest(
        corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("vec")),
        "neighbor_id",
        "vec",
        _centroids_df(spark, centroids),
        1,
    ).select("neighbor_id", "vec", "cid")
    write_partitioned(assigned, f"{path}/corpus", "cid")
    _centroids_df(spark, centroids).write.mode("overwrite").parquet(f"{path}/centroids")
    return centroids


def cosine_topk_ivf_persisted(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Search a persisted IVF index (build_ivf_index layout).

    The queries' nprobe cluster ids are resolved against the k×dim
    centroid relation (driver-side — a search request's query set is
    small by nature), then pushed as a STATIC ``cid IN (...)`` predicate
    so the parquet scan reads only those partition directories
    (PartitionFilters — plan-gated in tests/test_plans.py). Everything
    after the pruned scan is the usual bucket equi-join + exact rerank.
    """
    centroid_rows = spark.read.parquet(f"{path}/centroids").collect()
    centroids = [list(r["cvec"]) for r in sorted(centroid_rows, key=lambda r: r["cid"])]
    centroids_df = _centroids_df(spark, centroids)

    q = _nearest(
        queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("__qvec")),
        "query_id",
        "__qvec",
        centroids_df,
        nprobe,
    ).withColumnRenamed("cid", "__cluster").drop("crank")
    probe_cids = sorted({r["__cluster"] for r in q.select("__cluster").distinct().collect()})

    corpus = (
        spark.read.parquet(f"{path}/corpus")
        .filter(F.col("cid").isin(probe_cids))  # static partition pruning
        .select("neighbor_id", F.col("vec").alias("__cvec"), F.col("cid").alias("__cluster"))
    )
    scored = (
        corpus.join(F.broadcast(q), "__cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "similarity",
            dot(F.col("__qvec"), F.col("__cvec"))
            / (l2_norm(F.col("__qvec")) * l2_norm(F.col("__cvec"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("similarity", 4).alias("similarity"))
    )


def nndescent_knn_graph(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    iters: int = 2,
    init_planes: int = 4,
    rho: float = 1.0,
    dim: int | None = None,
) -> DataFrame:
    """Approximate k-NN GRAPH via distributed NN-Descent (Dong et al.,
    WWW'11 "Efficient K-Nearest Neighbor Graph Construction") — the
    graph-based ANN family (HNSW-class) next to the bucketing families
    (LSH = data-oblivious, IVF = data-adaptive): no bucket boundary
    exists, so recall does not degrade for vectors near partition edges.

    Construction, all DataFrame ops:
      1. init — random-hyperplane LSH buckets (the deterministic planes
         shared with the LSH tier) give first candidates; a hashed-ring
         edge per node guarantees no isolated nodes in sparse buckets;
      2. iterate — NN-Descent's local-join: each node proposes its
         neighbors to its neighbors (candidates = neighbor-of-neighbor
         over the UNDIRECTED current graph), candidates are scored
         exactly and the per-node top-k kept. Each sweep is one
         self-join shuffled by node id + one ranking window — O(n·k²)
         candidate pairs per sweep, never O(n²).

    Scale: the graph is n×k edges; every stage shuffles by node id, so
    the build is linear in corpus size for fixed k. The per-iteration
    result is localCheckpoint'ed — each sweep is one materialized step,
    not a growing lineage. Vectors are unit-normalized once, so scoring
    is a plain dot fold. Deterministic end-to-end (hyperplanes, xxhash64
    ring, id tie-breaks): stable across runs and engines.
    """
    vecs = (
        corpus.select(F.col(id_col).alias("__id"), _as_double(vec_col).alias("__raw"))
        .withColumn("__n", l2_norm(F.col("__raw")))
        .select("__id", F.transform("__raw", lambda x: x / F.col("__n")).alias("__v"))
        # loop-invariant: every sweep joins against it. LAZY — persisted
        # by the first job that touches it; an eager checkpoint here
        # costs one extra driver job per build (~0.3 s flat)
        .localCheckpoint(eager=False)
    )
    if dim is None:  # bounded driver read (1 row); callers that know the
        dim = len(vecs.select("__v").first()["__v"])  # width skip the job
    planes = [hyperplane(j, dim) for j in range(init_planes)]

    # scoring kernel: when the unit-vector matrix fits comfortably in
    # memory (the same condition under which AQE broadcast-joins the
    # vector side anyway — checked by row count, one cheap job that also
    # materializes the lazy checkpoint), collect it ONCE and score pairs
    # with a vectorized numpy einsum inside mapInPandas; only pair ids
    # cross the Arrow boundary. Beyond the cap the build automatically
    # stays on the join+fold path (shuffle by node id) — no hint to
    # delete at scale, the choice is measured per corpus.
    kernel = None
    cap_rows = max(1, _KERNEL_CAP_BYTES // (dim * 8))
    # ONE job: limit(cap+1) short-circuits the scan on an over-cap
    # corpus (collects at most cap+1 rows, then falls back), and on an
    # under-cap corpus returns every row — no separate count needed
    rows = vecs.limit(cap_rows + 1).collect()
    if len(rows) <= cap_rows:
        import numpy as np

        mat = np.array([r["__v"] for r in rows], dtype="float64")
        idx = {r["__id"]: i for i, r in enumerate(rows)}
        sc = corpus.sparkSession.sparkContext
        kernel = (sc.broadcast(idx), sc.broadcast(mat))

    bucketed = vecs.withColumn("__b", lsh_bucket(F.col("__v"), planes))
    a, b = bucketed.alias("a"), bucketed.alias("b")
    # '<' not '!=': one node holds one bucket, so each unordered pair
    # occurs at most once — emitting one direction halves the volume
    # entering the dedupe shuffle (rescore mirrors every scored pair, so
    # both endpoints still receive the edge)
    init_pairs = a.join(
        b, (F.col("a.__b") == F.col("b.__b")) & (F.col("a.__id") < F.col("b.__id"))
    ).select(F.col("a.__id").alias("u"), F.col("b.__id").alias("v"))
    # hashed ring: rank nodes by xxhash64(id) and link each to its
    # successor — a deterministic Hamiltonian PATH that keeps every node
    # edged when an LSH bucket holds a single node (rescore mirrors each
    # pair, so the path's last node still receives its predecessor edge;
    # closing the path into a cycle would cost an extra driver job for
    # the wrap-around id and adds nothing). Global window: one pass over
    # n (id, hash) PAIRS only, never vectors — fine at any n that fits
    # a sort.
    ring_w = Window.orderBy(F.xxhash64(F.col("__id")), F.col("__id"))
    ring_pairs = (
        vecs.select("__id", F.lead("__id", 1).over(ring_w).alias("__next"))
        .filter(F.col("__next").isNotNull() & (F.col("__id") != F.col("__next")))
        .select(F.col("__id").alias("u"), F.col("__next").alias("v"))
    )
    # every per-round edge frame is LAZILY checkpointed: the frames still
    # materialize exactly once each (first consuming job persists them,
    # and the lineage is cut so sweep N+1 plans against a leaf, not the
    # whole history), but no eager driver job runs per sweep — the build
    # executes as ONE action chain instead of 2+iters scheduled jobs
    # (measured ~1.5 s of flat job overhead at sf0.1)
    edges = _rescore_topk(init_pairs.union(ring_pairs), vecs, k, kernel).localCheckpoint(
        eager=False
    )

    # NN-Descent's incremental local join (the paper's new/old flag):
    # a candidate pair rejected once can NEVER re-enter a node's top-k —
    # the k-th similarity only rises, because current edges are always
    # re-proposed — so neighbor-of-neighbor pairs whose BOTH hops are old
    # were already tried in an earlier sweep and re-scoring them is pure
    # waste. Restricting generation to paths with >=1 NEW hop is
    # LOSSLESS (identical output graph) and collapses sweep 2+ candidate
    # volume from O(n·k²) to O(churn·k): measured 1.75M → ~0.1-0.25M
    # pairs on the sf0.1 embeddings.
    # ρ-sampling (the paper's sample rate): each sweep's local join runs
    # over an edge SAMPLE of rate ρ on both hop sides, so candidate
    # volume scales with ρ² while the kept graph (always re-proposed in
    # full) never degrades. A deterministic HASH sample (xxhash64 of the
    # pair, re-seeded by the sweep index so edges missed in one sweep
    # get proposed in a later one) — measured BETTER than rank-top-⌈ρk⌉
    # sampling at equal ρ on the near-uniform fixture (0.36 vs 0.31
    # recall@5 at ρ=0.6): with weak neighbor-of-neighbor correlation,
    # sample DIVERSITY buys more than neighbor quality. Map-side filter
    # on the checkpointed frame; no shuffle, no RNG; ρ=1 disables it.
    def _sample(und: DataFrame, it: int) -> DataFrame:
        if rho >= 1.0:
            return und
        gate = F.pmod(F.xxhash64("u", "v", F.lit(it)), F.lit(1000))
        return und.filter(gate < F.lit(int(rho * 1000)))

    new = None  # sweep 1: every init edge is new → single full local join
    for it in range(iters):
        und_all = edges.select("u", "v").union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        if new is None:
            und_s = _sample(und_all, it)
            na, nb = und_s.alias("na"), und_s.alias("nb")
            non = na.join(nb, F.col("na.v") == F.col("nb.u")).select(
                F.col("na.u").alias("u"), F.col("nb.v").alias("v")
            )
        else:
            und_new = new.union(
                new.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            und_all_s = _sample(und_all, it)
            na, nb = und_new.alias("na"), und_all_s.alias("nb")
            ma, mb = und_all_s.alias("ma"), und_new.alias("mb")
            non = (
                na.join(nb, F.col("na.v") == F.col("nb.u"))
                .select(F.col("na.u").alias("u"), F.col("nb.v").alias("v"))
                .union(
                    ma.join(mb, F.col("ma.v") == F.col("mb.u")).select(
                        F.col("ma.u").alias("u"), F.col("mb.v").alias("v")
                    )
                )
            )
        candidates = non.filter(F.col("u") != F.col("v")).union(
            edges.select("u", "v")
        )
        prev = edges
        edges = _rescore_topk(candidates, vecs, k, kernel).localCheckpoint(eager=False)
        if it < iters - 1:  # the last sweep's churn has no consumer
            # LAZY on purpose: both inputs are checkpointed, so the
            # subtract evaluates inside the NEXT sweep's rescore job —
            # materializing it here would add a driver job + checkpoint
            # per sweep (~0.6 s each at sf0.1) for a frame used once
            new = edges.select("u", "v").subtract(prev.select("u", "v"))
    return edges.select(
        F.col("u").alias("node_id"),
        F.col("v").alias("neighbor_id"),
        "rank",
        F.round("similarity", 4).alias("similarity"),
    )


def _rescore_topk(
    pairs: DataFrame, vecs: DataFrame, k: int, kernel=None
) -> DataFrame:
    """Exact-score deduped (u, v) pairs against unit vectors; keep each
    u's top-k by similarity (id tie-break). One shuffle per side join +
    one ranking window, all keyed by node id.

    Pairs are canonicalized to unordered (least, greatest) form before
    scoring, then mirrored back — cosine is symmetric, so the directed
    candidate stream proposes most pairs twice and scoring each
    unordered pair ONCE halves the dot-product work (the dominant cost:
    |pairs|×dim multiply-adds). The mirror also means every candidate
    counts for BOTH endpoints, which can only raise per-node top-k
    quality (NN-Descent treats candidacy as symmetric anyway).

    ``kernel`` — optional (id→row dict, float64 matrix) pair of Spark
    BROADCAST variables: when set, pair ids alone cross to Python and
    an Arrow-batched mapInPandas scores them against the broadcast
    matrix with one vectorized einsum (~40× the per-element throughput
    of the interpreted HOF fold; the fold's 64-element lambda is the
    measured bottleneck of a build at sf0.1). Memory class is identical
    to the BroadcastHashJoin AQE already picks for the vector side at
    this size — callers size-gate the kernel and fall back to the
    join+fold path for corpora too large to broadcast (see
    nndescent_knn_graph)."""
    half_ids = pairs.select(
        F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
    ).distinct()
    if kernel is not None:
        idx_bc, mat_bc = kernel

        def _score(batches):
            import numpy as np
            import pandas as pd

            idx, mat = idx_bc.value, mat_bc.value
            for pdf in batches:
                ui = pdf["u"].map(idx).to_numpy(dtype="int64")
                vi = pdf["v"].map(idx).to_numpy(dtype="int64")
                yield pd.DataFrame(
                    {
                        "u": pdf["u"],
                        "v": pdf["v"],
                        "similarity": np.einsum("ij,ij->i", mat[ui], mat[vi]),
                    }
                )

        half = half_ids.mapInPandas(_score, "u long, v long, similarity double")
    else:
        vu = vecs.select(F.col("__id").alias("u"), F.col("__v").alias("__vu"))
        vv = vecs.select(F.col("__id").alias("v"), F.col("__v").alias("__vv"))
        half = (
            half_ids.join(vu, "u")
            .join(vv, "v")
            .select("u", "v", dot(F.col("__vu"), F.col("__vv")).alias("similarity"))
        )
    # fan out both directions in ONE pass over the scored rows — a
    # union of two selects over `half` would recompute the dot fold per
    # branch (Catalyst does not dedupe the shared subtree)
    scored = half.select(
        F.explode(
            F.array(
                F.struct(F.col("u"), F.col("v"), F.col("similarity")),
                F.struct(
                    F.col("v").alias("u"), F.col("u").alias("v"), F.col("similarity")
                ),
            )
        ).alias("__e")
    ).select("__e.u", "__e.v", "__e.similarity")
    w = Window.partitionBy("u").orderBy(F.desc("similarity"), F.asc("v"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("u", "v", "rank", "similarity")
    )


def semdedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 0.3,
    n_clusters: int = 16,
    iters: int = 3,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings and pruning within clusters.

    A vector is a duplicate iff SOME lower-id vector in its k-means
    cluster has cosine >= ``eps`` with it (the paper's per-cluster
    pairwise rule with the keep-lowest-index policy, which makes the
    result deterministic and engine-independent). Output:
    (``id_col``, cid, is_dup) for every corpus row.

    Scale shape: clustering reuses the deterministic spherical k-means
    of the IVF tier (one narrow shuffle per Lloyd iteration); the
    pairwise stage is an equi-join on the cluster id, so candidate
    volume is sum(|cluster|^2) instead of N^2 — the entire point of the
    paper at 100 TB. Clusters are balanced by construction on real
    embedding corpora; a pathologically hot cluster should be split by
    raising ``n_clusters`` (re-cluster the hot list) rather than salted,
    since the within-cluster ALL-pairs semantics cannot be salted
    without losing pairs. Exactness: scoring is the same unit-normalize
    + JVM dot fold as every other tier; the dup decision compares
    bit-identical doubles, so the approximate part is ONLY which pairs
    meet (cluster boundaries) — pytest pins dup-set ⊆ exact dup-set and
    recall vs the corpus-wide exact rule (tests/test_operators.py)."""
    spark = corpus.sparkSession
    vecs = (
        corpus.select(F.col(id_col).alias("__id"), _as_double(vec_col).alias("__raw"))
        .withColumn("__n", l2_norm(F.col("__raw")))
        .select("__id", F.transform("__raw", lambda x: x / F.col("__n")).alias("__v"))
    )
    if centroids is None:
        centroids = kmeans_centroids(corpus, id_col, vec_col, n_clusters, iters)
    assigned = _nearest(vecs, "__id", "__v", _centroids_df(spark, centroids), 1).drop(
        "crank"
    )
    # Within-cluster pairwise stage: size-gated physical choice (same
    # discipline and cap as the NN-Descent scoring kernel). Under the
    # cap, the NORMALIZED vectors (JVM-computed, so scoring inputs are
    # bit-identical either way) are collected once and broadcast; the
    # cid self-join then carries only int ids, and an Arrow pass scores
    # each batch with a dim-loop of vectorized adds — acc += A[:,j]*B[:,j]
    # performs the SAME sequential IEEE additions as the JVM fold, so
    # the >= eps decision is bit-identical (pinned by the one-cluster
    # equality pytest vs the exact tier). Over the cap the join+fold
    # path stands unchanged.
    kernel = None
    first = vecs.first()
    if first is not None:
        dim = len(first["__v"])
        cap_rows = max(1, _KERNEL_CAP_BYTES // (dim * 8))
        rows = vecs.limit(cap_rows + 1).collect()
        # id-type guard: the mapInPandas schema below is `__dup_id long`,
        # so the kernel only engages for integer ids (string/other ids
        # fall through to the generic join+fold tier, same as
        # embedding_cosine_pairs' guard)
        if len(rows) <= cap_rows and rows and isinstance(rows[0]["__id"], int):
            import numpy as np

            mat = np.array([r["__v"] for r in rows], dtype="float64")
            idx = {r["__id"]: i for i, r in enumerate(rows)}
            sc = spark.sparkContext
            kernel = (sc.broadcast(idx), sc.broadcast(mat), dim)

    if kernel is not None:
        idx_bc, mat_bc, dim = kernel
        a = assigned.select(F.col("cid"), F.col("__id").alias("__ida"))
        b = assigned.select(F.col("cid"), F.col("__id").alias("__idb"))
        pair_ids = (
            a.join(b, "cid")
            .filter(F.col("__idb") < F.col("__ida"))
            .select("__ida", "__idb")
        )

        def _dup_filter(batches):
            import numpy as np
            import pandas as pd

            idx, mat = idx_bc.value, mat_bc.value
            for pdf in batches:
                ai = pdf["__ida"].map(idx).to_numpy(dtype="int64")
                bi = pdf["__idb"].map(idx).to_numpy(dtype="int64")
                A, B = mat[ai], mat[bi]
                acc = np.zeros(len(pdf), dtype="float64")
                for j in range(dim):  # sequential adds == the JVM fold
                    acc += A[:, j] * B[:, j]
                # NaN >= eps is TRUE in Spark's ordering (zero-norm rows
                # normalize to NaN components) — keep NaNs like the JVM tier
                keep = (acc >= eps) | np.isnan(acc)
                yield pd.DataFrame({"__dup_id": pdf["__ida"][keep]})

        dups = pair_ids.mapInPandas(_dup_filter, "__dup_id long").distinct()
    else:
        a = assigned.select(
            F.col("cid"), F.col("__id").alias("__ida"), F.col("__v").alias("__va")
        )
        b = assigned.select(
            F.col("cid"), F.col("__id").alias("__idb"), F.col("__v").alias("__vb")
        )
        dups = (
            a.join(b, "cid")
            .filter(F.col("__idb") < F.col("__ida"))
            .filter(dot(F.col("__va"), F.col("__vb")) >= eps)
            .select(F.col("__ida").alias("__dup_id"))
            .distinct()
        )
    return (
        assigned.join(dups, assigned.__id == dups.__dup_id, "left")
        .select(
            F.col("__id").alias(id_col),
            "cid",
            F.col("__dup_id").isNotNull().alias("is_dup"),
        )
    )


def pq_train_codebooks(
    vecs: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 4,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split the dim in ``m``
    contiguous subspaces and run L2 k-means with ``ksub`` codes in each.

    ``vecs`` is the normalized (__id, __v) frame (kmeans_centroids
    layout). All ``m`` subspace trainings run in ONE DataFrame job per
    Lloyd iteration — subvectors are keyed by (subspace, code), so the
    update is a single (m × ksub × dsub)-group aggregate; only
    m·ksub·dsub floats (the model) ever reach the driver. Init is the
    ksub lowest-id subvectors per subspace — deterministic, no RNG.
    L2 assignment uses argmax(dot(x, c) - ||c||²/2), equivalent to
    argmin ||x - c||² with the rows' own norms constant-folded away.
    """
    spark = vecs.sparkSession
    dim = len(vecs.select("__v").first()["__v"])  # bounded driver read (1 row)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    slices = F.array(*[F.slice("__v", i * dsub + 1, dsub) for i in range(m)])
    sub = vecs.select(
        "__id", F.posexplode(slices).alias("__m", "__sv")
    ).localCheckpoint()  # loop-invariant: scanned once per Lloyd iteration

    w_init = Window.partitionBy("__m").orderBy("__id")
    init = (
        sub.withColumn("__r", F.row_number().over(w_init))
        .filter(F.col("__r") <= ksub)
        .collect()
    )
    books: list[list[list[float]]] = [[None] * ksub for _ in range(m)]  # type: ignore[list-item]
    for r in init:
        books[r["__m"]][r["__r"] - 1] = list(r["__sv"])

    for _ in range(iters):
        assigned = _pq_assign(sub, _pq_books_df(spark, books))
        rows = (
            assigned.select("__m", "code", F.posexplode("__sv").alias("__pos", "__val"))
            .groupBy("__m", "code", "__pos")
            .agg(F.avg("__val").alias("__mean"))
            .collect()
        )
        means: dict[tuple[int, int], list[float]] = {}
        for r in rows:
            means.setdefault((r["__m"], r["code"]), [0.0] * dsub)[r["__pos"]] = r["__mean"]
        for (mi, ci), mean in means.items():  # empty codes keep previous centroid
            books[mi][ci] = mean
    return books


def _pq_books_df(spark, books: list[list[list[float]]]) -> DataFrame:
    """The PQ model as an (m, code, cvec, csq) relation — broadcast like
    any dimension table (same rationale as _centroids_df)."""
    rows = [
        (mi, ci, [float(v) for v in c], float(sum(v * v for v in c)))
        for mi, book in enumerate(books)
        for ci, c in enumerate(book)
    ]
    from ..session import local_relation

    return local_relation(spark, rows, "m int, code int, cvec array<double>, csq double")


def _pq_assign(sub: DataFrame, books_df: DataFrame) -> DataFrame:
    """Nearest-code assignment for an (__id, __m, __sv) subvector frame:
    broadcast join against the codebook relation, rank by the L2-
    equivalent score, keep 1 (ties toward lower code, deterministic)."""
    scored = sub.join(F.broadcast(books_df), sub.__m == books_df.m).withColumn(
        "__score", dot(F.col("__sv"), F.col("cvec")) - F.col("csq") / 2
    )
    w = Window.partitionBy("__id", "__m").orderBy(F.desc("__score"), F.asc("code"))
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select("__id", "__m", "__sv", "code")
    )


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_clusters: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    rerank: int = 4,
    centroids: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k via IVF-PQ: the IVF coarse quantizer prunes to
    ``nprobe`` inverted lists, PQ codes score the surviving candidates
    by asymmetric distance (ADC), and the ``rerank``·k best per query
    are re-scored exactly.

    Why this tier exists at 100 TB: the probed candidates are scored
    from ``m`` one-byte codes per vector instead of the full
    ``dim × 4``-byte embedding — the scan that feeds candidate scoring
    shrinks ~dim·4/m× (32× at dim=64, m=8), and only the rerank·k
    survivors per query ever touch a full vector again. Unit-normalized
    vectors make cosine = dot decompose exactly over the m subspaces,
    so ADC = Σ_m table[m][code_m] with the per-query table built by one
    broadcast join against the (m·ksub)-row codebook relation.

    All stages deterministic (lowest-id k-means inits, id tie-breaks);
    rows-only in the catalog with recall pytest-checked against the
    brute-force tier."""
    spark = corpus.sparkSession
    if centroids is None:
        centroids = kmeans_centroids(corpus, id_col, vec_col, n_clusters, iters)
    centroids_df = _centroids_df(spark, centroids)

    def _unit(df: DataFrame, out_id: str) -> DataFrame:
        return (
            df.select(F.col(id_col).alias(out_id), _as_double(vec_col).alias("__raw"))
            .withColumn("__n", l2_norm(F.col("__raw")))
            .select(out_id, F.transform("__raw", lambda x: x / F.col("__n")).alias("__v"))
        )

    cvecs = _unit(corpus, "__id").localCheckpoint()  # reused by train/encode/rerank
    if books is None:
        books = pq_train_codebooks(cvecs, m=m, ksub=ksub, iters=iters)
    books_df = _pq_books_df(spark, books)

    dim = len(books[0][0]) * m
    dsub = dim // m
    slices = F.array(*[F.slice("__v", i * dsub + 1, dsub) for i in range(m)])

    coarse = _nearest(cvecs, "__id", "__v", centroids_df, 1).select(
        "__id", F.col("cid").alias("__cluster")
    )
    codes = (
        _pq_assign(cvecs.select("__id", F.posexplode(slices).alias("__m", "__sv")), books_df)
        .join(coarse, "__id")
        .select(F.col("__id").alias("neighbor_id"), "__cluster", "__m", "code")
    )

    qvecs = _unit(queries, "query_id")
    q_probe = _nearest(qvecs, "query_id", "__v", centroids_df, nprobe).select(
        "query_id", F.col("cid").alias("__cluster")
    )
    # per-query ADC table: partial dot against every codebook entry —
    # |Q| × m × ksub rows, broadcast to the candidate join
    adc = (
        qvecs.select("query_id", F.posexplode(slices).alias("__m", "__qsv"))
        .join(F.broadcast(books_df), F.col("__m") == books_df.m)
        .select(
            "query_id", "__m", "code", dot(F.col("__qsv"), F.col("cvec")).alias("__partial")
        )
    )
    cand = (
        codes.join(F.broadcast(q_probe), "__cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(adc), ["query_id", "__m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("__partial").alias("__adc"))
    )
    w_adc = Window.partitionBy("query_id").orderBy(F.desc("__adc"), F.asc("neighbor_id"))
    shortlist = cand.withColumn("__r", F.row_number().over(w_adc)).filter(
        F.col("__r") <= rerank * k
    )
    # exact rerank of the shortlist only (unit vectors: cosine = dot)
    full = (
        shortlist.join(
            cvecs.select(F.col("__id").alias("neighbor_id"), F.col("__v").alias("__cv")),
            "neighbor_id",
        )
        .join(
            F.broadcast(qvecs.select("query_id", F.col("__v").alias("__qv"))), "query_id"
        )
        .withColumn("similarity", dot(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    return (
        full.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("similarity", 4).alias("similarity"))
    )


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid, one row per (label, dimension).

    posexplode + groupBy(label, pos) — a single shuffle keyed on
    (label, dim), which scales linearly in corpus size.
    """
    exploded = embeddings.select(
        F.col(label_col).alias("label"),
        F.posexplode(_as_double(vec_col)).alias("pos", "val"),
    )
    return (
        exploded.groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 6).alias("centroid_val"))
        .withColumn("pos", (F.col("pos") + 1).cast("long"))
    )
