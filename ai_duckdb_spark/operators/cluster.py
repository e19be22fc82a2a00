"""Connected components for dedup-cluster canonicalization.

Near-dup detection yields PAIRS; a pipeline needs GROUPS (one canonical
document per cluster). Components of the similarity graph are computed
with iterative min-label propagation — the standard DataFrame-only
formulation (no GraphX dependency):

    label(v) <- min(label(v), min over neighbors(label(u)))

repeated to fixpoint. Each iteration is one shuffle-join; convergence
takes O(component diameter) rounds (near-dup clusters are shallow —
star-ish — so typically <6). Lineage is truncated with localCheckpoint
every round so the loop doesn't build an unbounded plan.

The driver-side loop is control flow only — all data movement stays
distributed (the per-round `isEmpty` convergence check is a cheap
aggregate, not a collect of labels).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Residual-edge ceiling for finishing components with a driver-side
# union-find after the min-label pre-contraction: 200k edges is ~3 MB
# of collected longs — the documented bounded-driver-collect class.
# Above the cap the distributed star loop runs unchanged.
_RESIDUAL_UNIONFIND_CAP = 200_000


def connected_components(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iterations: int = 20,
) -> DataFrame:
    """(node, component) for every node in the edge set; component id is
    the minimum node id reachable from the node.

    Convergence is O(component diameter) rounds — right for the shallow
    star-ish clusters near-dup detection produces. For graphs that may
    be DEEP (chains of borderline pairs, social graphs), use
    :func:`connected_components_twophase`, which converges in
    O(log n) rounds; this one raises if the iteration cap is hit with
    labels still moving rather than return silently-wrong components.
    """
    # materialize the edge list once — the loop below would otherwise
    # re-evaluate the (potentially expensive) upstream pair-generation
    # plan on BOTH join sides of EVERY iteration
    undirected = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionAll(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .localCheckpoint()
    )
    labels = (
        undirected.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            undirected.join(labels, undirected.b == labels.node)
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == F.col("node2"), "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                    "new_label"
                ),
                "label",
            )
        ).localCheckpoint()
        converged = updated.filter(F.col("new_label") < F.col("label")).isEmpty()
        labels = updated.select("node", F.col("new_label").alias("label"))
        if converged:
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds "
            "(component diameter exceeds the cap); raise max_iterations or use "
            "connected_components_twophase (O(log n) rounds)"
        )

    return labels.select(F.col("node"), F.col("label").alias("component"))


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node's strictly-larger neighbors attach to
    the minimum of its closed neighborhood. Edges come back (larger,
    smaller)-oriented."""
    und = edges.unionAll(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = und.groupBy("a").agg(F.min("b").alias("__mb")).select(
        "a", F.least(F.col("__mb"), F.col("a")).alias("__m")
    )
    return (
        und.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("__m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every node and its smaller neighbors attach to
    the minimum of that set."""
    oriented = (
        edges.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    mins = oriented.groupBy("a").agg(F.min("b").alias("__m"))
    children = (
        oriented.join(mins, "a")
        .filter(F.col("b") != F.col("__m"))
        .select(F.col("b").alias("a"), F.col("__m").alias("b"))
    )
    selfs = mins.select("a", F.col("__m").alias("b"))
    return children.unionAll(selfs).distinct()


def connected_components_twophase(
    edges: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components in O(log n) rounds via alternating
    large-star / small-star contractions (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14).

    Each round is two join+groupBy rounds over the current edge set;
    the edge set contracts toward star graphs rooted at component
    minima, so round count is logarithmic in component size instead of
    linear in diameter — the difference between 6 and 10⁶ rounds on a
    chain-shaped component at web scale. Same output contract as
    :func:`connected_components`.
    """
    e0 = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )

    # Pre-contraction (measured on the portable-MinHash graph: the
    # star loop took 4 driver-coordinated rounds ~13 AQE jobs each, all
    # job floor at fixture scale): one min-label hooking pass —
    # l1(v) = min(v, min(neighbors)) — then re-key the edges to labels.
    # Near-dup similarity graphs are DENSE (clusters are near-cliques),
    # so one hop collapses most components onto their minimum and the
    # star loop runs on the small residual between local minima. Exact
    # for any graph: contraction preserves connectivity, the component
    # minimum m always has l1(m) = m so it survives as its own
    # representative, and the final composition walks v -> l1(v) ->
    # residual label. This is the same hooking step the DuckDB scale
    # oracle for dedup_minhash_portable_components runs (dedup_q.py).
    und0 = e0.unionAll(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
    l1 = (
        und0.groupBy("a")
        .agg(F.least(F.min("b"), F.col("a")).alias("__lbl"))
        .localCheckpoint()
    )
    la = l1.select(F.col("a").alias("__na"), F.col("__lbl").alias("__la"))
    lb = l1.select(F.col("a").alias("__nb"), F.col("__lbl").alias("__lb"))
    e = (
        und0.join(la, und0.a == la.__na)
        .join(lb, und0.b == lb.__nb)
        .select(F.col("__la").alias("a"), F.col("__lb").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )

    n_edges = e.count()
    if n_edges <= _RESIDUAL_UNIONFIND_CAP:
        # The hooked residual is model-sized (dense dedup graphs leave a
        # few hundred edges between local minima — measured 111,591 ->
        # 494 on the sf0.1 portable-MinHash graph, where the star loop
        # then spent 3 driver-coordinated rounds x ~13 AQE jobs of pure
        # scheduling floor on KB-size data). Collect the residual ONCE
        # (capped: 200k edges ≈ 3 MB of longs, the same bounded-driver-
        # collect class as the broadcast kernels) and finish with exact
        # union-find; labels return as a LocalTableScan and compose
        # distributively. Above the cap the O(log n) star loop runs
        # unchanged — the 100 TB path.
        rows = e.collect()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for ra, rb in rows:
            xa, xb = find(ra), find(rb)
            if xa != xb:
                parent[max(xa, xb)] = min(xa, xb)
        mapping = sorted({x for ab in rows for x in ab})
        from ..session import local_relation

        if not mapping:
            return l1.select(
                F.col("a").alias("node"), F.col("__lbl").alias("component")
            )
        node_t = e.schema["a"].dataType.simpleString()
        child_labels = local_relation(
            e.sparkSession,
            [(n, find(n)) for n in mapping],
            f"__rep {node_t}, __root {node_t}",
        )
    else:
        converged = False
        for _ in range(max_iterations):
            stepped = _small_star(_large_star(e)).localCheckpoint()
            # both sides are DISTINCT edge sets, so |A|=|B| ∧ A\B=∅ ⟹
            # A=B; the count is a cheap agg on the checkpointed frame
            # and skips the exceptAll job on non-converged rounds
            n_stepped = stepped.count()
            converged = n_stepped == n_edges and stepped.exceptAll(e).isEmpty()
            e, n_edges = stepped, n_stepped
            if converged:
                break
        if not converged:
            raise RuntimeError(
                f"two-phase components did not converge in {max_iterations} rounds"
            )

        # converged residual edges are (child, root); a representative
        # with no residual edge roots itself
        child_labels = e.select(
            F.col("a").alias("__rep"), F.col("b").alias("__root")
        )
    labels = l1.join(
        child_labels, l1.__lbl == child_labels.__rep, "left"
    ).select(
        F.col("a").alias("node"),
        F.coalesce(F.col("__root"), F.col("__lbl")).alias("component"),
    )
    return labels


def pagerank(
    pairs: DataFrame,
    src: str = "id1",
    dst: str = "id2",
    iters: int = 10,
    damping: float = 0.85,
    tol: float = 0.0,
) -> DataFrame:
    """PageRank over an undirected pair relation (each pair contributes
    both directions), (doc_id, rank) output.

    Power iteration as DataFrame jobs: one out-degree-normalized
    contribution join + one destination-keyed sum per sweep — O(edges)
    shuffled per iteration, never anything quadratic. The
    degree-annotated edge list is loop-invariant and localCheckpoint'ed
    once; ranks are checkpointed per sweep (same discipline as the
    k-means / NN-Descent / components loops). Every node in ``pairs``
    has degree >= 1, so there are no dangling nodes and mass is
    conserved up to float rounding.

    ``tol`` > 0 enables convergence early-exit: the sweep ends when the
    L1 delta sum(|rank-prev|) drops below it (total mass is 1.0, so the
    value is an absolute fraction of total rank moved). Near-dup graphs
    are near-cliques, and uniform rank is an EXACT fixed point of a
    regular component — so dedup-shaped graphs converge in 2-3 sweeps
    where the generic bound needs 10+. tol=0.0 (default) keeps the
    classic fixed-iteration contract the pytest reference pins.
    """
    edges = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")).unionAll(
        pairs.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    outdeg = edges.groupBy("u").agg(F.count("*").alias("__deg"))
    edges = edges.join(outdeg, "u").localCheckpoint()  # loop-invariant
    nodes = edges.select(F.col("u").alias("doc_id")).distinct().localCheckpoint()
    n = nodes.count()

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for sweep in range(iters):
        contribs = (
            edges.join(ranks, edges.u == ranks.doc_id)
            .select(F.col("v"), (F.col("rank") / F.col("__deg")).alias("__c"))
            .groupBy("v")
            .agg(F.sum("__c").alias("__in"))
        )
        # carry the previous rank through the sweep so the delta agg
        # runs over the already-checkpointed frame (no recompute job)
        stepped = (
            ranks.join(contribs, ranks.doc_id == contribs.v, "left")
            .select(
                "doc_id",
                (F.lit(base) + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))).alias(
                    "rank"
                ),
                F.col("rank").alias("__prev"),
            )
            .localCheckpoint()
        )
        ranks = stepped.select("doc_id", "rank")
        # delta check from sweep 2 onward: sweep 1 never
        # converges from the uniform start, so its blocking .first()
        # aggregation is a pure driver-job tax on every graph — skipping
        # it costs nothing on converging runs and one job less on all
        if tol > 0.0 and sweep > 0:
            delta = stepped.agg(
                F.sum(F.abs(F.col("rank") - F.col("__prev")))
            ).first()[0]
            if delta is not None and delta < tol:
                break
    return ranks
