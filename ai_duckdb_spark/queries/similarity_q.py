"""Similarity-search queries over the embeddings fixture (SURVEY.md §2.9
X7 [D]): exact brute-force cosine top-k (oracle-checked in double
precision), the LSH-bucketed approximate path (rows-only), per-label
centroids and norm statistics (array-op parity), plus the multimodal
binary-column pipeline (X9)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import multimodal as mm
from ..operators import similarity as sim
from ..tables import load
from .caches import make_tempdir, session_memo
from .catalog import register


@register(
    "knn_bruteforce_cosine",
    oracle="""
    WITH e AS (
        SELECT vec_id,
               unnest(range(1, len(embedding) + 1))      AS pos,
               CAST(unnest(embedding) AS DOUBLE)         AS val
        FROM embeddings
    ),
    norms AS (SELECT vec_id, sum(val * val) AS sq FROM e GROUP BY vec_id),
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, sum(q.val * c.val) AS dp
        FROM e q JOIN e c ON q.pos = c.pos AND q.vec_id <> c.vec_id
        WHERE q.vec_id < 10
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               dp / sqrt(nq.sq * nc.sq) AS sim_raw,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY dp / sqrt(nq.sq * nc.sq) DESC, neighbor_id
               ) AS rank
        FROM dots
        JOIN norms nq ON dots.query_id = nq.vec_id
        JOIN norms nc ON dots.neighbor_id = nc.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           round(sim_raw, 4) AS similarity
    FROM scored
    WHERE rank <= 5
    """,
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors vec_id < 10.

    Queries broadcast against a single corpus scan; per-pair dot product
    is a JVM zip_with/aggregate fold in double precision (matches the
    oracle's double math — DuckDB's own list_cosine_similarity computes
    in float32 and would NOT hash-match).
    """
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.cosine_topk_bruteforce(emb, queries, k=5).orderBy("query_id", "rank")


@register(
    "knn_filtered_cosine",
    oracle="""
    WITH e AS (
        SELECT vec_id,
               unnest(range(1, len(embedding) + 1))      AS pos,
               CAST(unnest(embedding) AS DOUBLE)         AS val
        FROM embeddings
    ),
    norms AS (SELECT vec_id, sum(val * val) AS sq FROM e GROUP BY vec_id),
    lab AS (SELECT vec_id, label FROM embeddings),
    dots AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, sum(q.val * c.val) AS dp
        FROM e q
        JOIN lab lq ON q.vec_id = lq.vec_id
        JOIN lab lc ON lc.label = lq.label
        JOIN e c ON c.vec_id = lc.vec_id AND q.pos = c.pos AND q.vec_id <> c.vec_id
        WHERE q.vec_id < 20
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               dp / sqrt(nq.sq * nc.sq) AS sim_raw,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY dp / sqrt(nq.sq * nc.sq) DESC, neighbor_id
               ) AS rank
        FROM dots
        JOIN norms nq ON dots.query_id = nq.vec_id
        JOIN norms nc ON dots.neighbor_id = nc.vec_id
    )
    SELECT s.query_id, lq.label AS attr, s.neighbor_id,
           CAST(s.rank AS BIGINT) AS rank,
           round(s.sim_raw, 4) AS similarity
    FROM scored s JOIN lab lq ON s.query_id = lq.vec_id
    WHERE s.rank <= 5
    """,
)
def knn_filtered_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED exact top-5 cosine for queries vec_id < 20:
    neighbors must share the query's label — the filtered vector
    search every production retrieval stack needs (tenant isolation,
    language-matched RAG, license-constrained candidates).

    PRE-filtering semantics (operators/similarity.py
    cosine_topk_filtered): the label is the JOIN key, so recall under
    the filter is exact by construction — unlike post-filtering an
    unfiltered ANN list, which can return < k survivors. At cluster
    scale the corpus is written partitioned by the attribute so each
    query scans only its partition; here the label join prunes the
    scored relation to ~1/|labels| of the cross product the unfiltered
    brute-force tier pays."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return sim.cosine_topk_filtered(emb, queries, attr_col="label", k=5).orderBy(
        "query_id", "rank"
    )


@session_memo("ivf_quantizer")
def shared_kmeans_model(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The (16-cluster, 3-iter) spherical-k-means model, trained once per
    corpus and shared by every consumer with the same quantizer params
    (knn_ivf_cosine, knn_ivf_persisted, knn_ivfpq_cosine,
    dedup_semdedup) — the offline-index discipline: one training job,
    many searches."""
    emb = load(spark, sf_dir, "embeddings")
    return sim.kmeans_centroids(emb, n_clusters=16, iters=3)


@register("knn_ivf_cosine", oracle=None)
def knn_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via an IVF index (operators/similarity.py
    cosine_topk_ivf): deterministic spherical-k-means coarse quantizer,
    candidates restricted to the nprobe nearest inverted lists — the
    data-ADAPTIVE scale path next to the data-oblivious LSH tier. At
    cluster scale the assigned corpus is written partitioned by cluster
    id so each probe prunes to nprobe partitions at the scan. Rows-only:
    recall vs the exact tier is pytest-checked (test_operators.py)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.cosine_topk_ivf(
        emb, queries, k=5, n_clusters=16, nprobe=4,
        centroids=shared_kmeans_model(spark, sf_dir),
    ).orderBy("query_id", "rank")


@register("knn_ivf_persisted", oracle=None)
def knn_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 via the PERSISTED IVF index path (operators/similarity.py
    build_ivf_index → cosine_topk_ivf_persisted): the corpus is written
    partitioned by cluster id once, then each search resolves its nprobe
    cluster ids against the centroid relation and reads ONLY those
    partition directories (static partition pruning at the parquet scan
    — PartitionFilters plan-gated in tests/test_plans.py). This is the
    offline-index half of IVF at 100 TB: probe cost is nprobe/n_clusters
    of the corpus I/O, not a full scan per search. Same quantizer
    parameters as knn_ivf_cosine, so results are identical to the
    in-memory tier (equality pytest-checked); rows-only + recall vs
    knn_bruteforce_cosine."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.cosine_topk_ivf_persisted(
        spark, shared_ivf_index_dir(spark, sf_dir), queries, k=5, nprobe=4
    ).orderBy("query_id", "rank")


@session_memo("ivf_persisted_index")
def shared_ivf_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per corpus) and return the on-disk partitioned IVF
    index directory — the offline-index half of knn_ivf_persisted,
    exposed separately so the bench can time the one-shot build as its
    own index_build line. The quantizer is shared_kmeans_model's."""
    emb = load(spark, sf_dir, "embeddings")
    path = make_tempdir("ivf_index_")
    sim.build_ivf_index(emb, path, centroids=shared_kmeans_model(spark, sf_dir))
    return path


@register("knn_lsh_cosine", oracle=None)
def knn_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane LSH bucketing (scale path).

    Candidates limited to the query's bit-bucket: the per-query corpus
    scan becomes a bucket equi-join (expected 1/2^planes of the corpus).
    Rows-only: approximate recall by construction; accuracy vs the exact
    tier is pytest-checked (tests/test_similarity.py).
    """
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.cosine_topk_lsh(emb, queries, k=5, dim=64, num_planes=4).orderBy(
        "query_id", "rank"
    )


@register("knn_graph_nndescent", oracle=None)
def knn_graph_nndescent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors for the query nodes read off an approximate k-NN
    GRAPH built by distributed NN-Descent (operators/similarity.py
    nndescent_knn_graph — Dong et al. WWW'11): LSH-bucket + hashed-ring
    init, then neighbor-of-neighbor sweeps keep each node's best k by
    exact cosine. The graph family completes the ANN catalog next to
    LSH (data-oblivious buckets) and IVF (data-adaptive lists): no
    bucket boundaries, so recall does not collapse for vectors near a
    partition edge, and the built graph IS the index — n×k edges,
    linear to build per sweep, reusable for any query that is a node
    (the dedup/self-join case a training pipeline actually runs).
    Rows-only: NN-Descent is iterative and not SQL-expressible; recall
    vs knn_bruteforce_cosine is pytest-checked (test_operators.py)."""
    # degree 15 / 4 sweeps at ρ=0.8: the synthetic near-uniform 64-dim
    # corpus is NN-Descent's hard case (weak neighbor-of-neighbor
    # correlation), so exploration comes from graph degree and sweep
    # count; the numpy scoring kernel made sweeps cheap enough to buy
    # a 4th, and ρ-sampling claws its cost back — recall@5 vs brute
    # force (vec_id<20, sf0.1) measured 0.52 here vs 0.43 at the old
    # (15, 3, ρ=1). One-shot build cost: see the index_build map in the
    # committed BENCH_LOCAL artifact (scripts/time_entries.py --fresh
    # reproduces it with caches cleared). Built ONCE per (session,
    # corpus) and checkpointed — the graph IS the index (same
    # materialize-once discipline as the cached IVF quantizer above and
    # the MinHash core in dedup_q): every subsequent query against the
    # same corpus is a filter over n×k checkpointed edges, which is the
    # access pattern a real pipeline has after its nightly index build.
    g = shared_nndescent_graph(spark, sf_dir)
    return (
        g.filter((F.col("node_id") < 10) & (F.col("rank") <= 5))
        .select(
            F.col("node_id").alias("query_id"), "neighbor_id", "rank", "similarity"
        )
        .orderBy("query_id", "rank")
    )


@session_memo("nndescent_graph")
def shared_nndescent_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checkpointed NN-Descent k-NN graph, built once per (session,
    corpus) — exposed separately from the catalog entry so the bench and
    scripts/time_entries.py --fresh can time the one-shot build honestly
    (clearing the memo between passes)."""
    emb = load(spark, sf_dir, "embeddings")
    return sim.nndescent_knn_graph(emb, k=15, iters=4, rho=0.8, dim=64).localCheckpoint(
        eager=False
    )


@register(
    "embedding_centroids",
    oracle="""
    WITH e AS (
        SELECT label,
               CAST(unnest(range(1, len(embedding) + 1)) AS BIGINT) AS pos,
               CAST(unnest(embedding) AS DOUBLE)                    AS val
        FROM embeddings
    )
    SELECT label, pos, round(avg(val), 6) AS centroid_val
    FROM e
    GROUP BY label, pos
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vector, one row per (label, dimension)."""
    emb = load(spark, sf_dir, "embeddings")
    return sim.label_centroids(emb)


@register(
    "vector_norm_stats",
    oracle="""
    SELECT label,
           count(*) AS n_vectors,
           round(avg(sqrt(list_aggregate(
               list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               'sum'))), 6) AS avg_l2_norm
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
)
def vector_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics (array fold parity)."""
    emb = load(spark, sf_dir, "embeddings")
    norm = sim.l2_norm(F.col("embedding").cast("array<double>"))
    return (
        emb.groupBy("label")
        .agg(F.count("*").alias("n_vectors"), F.round(F.avg(norm), 6).alias("avg_l2_norm"))
        .orderBy("label")
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH d AS (
        SELECT doc_id, octet_length(encode(text)) AS n
        FROM documents WHERE doc_id < 1000
    ),
    f AS (
        SELECT doc_id, n,
               unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS frame_idx
        FROM d
    )
    SELECT doc_id, frame_idx,
           least(64, n - frame_idx * 64) AS frame_n_bytes
    FROM f
    WHERE frame_idx % 4 = 0
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling (X9): every 4th 64-byte frame of the
    packed binary payload, fanned out INSIDE mapInPandas so the frame
    explosion happens executor-side. Oracle checks the sampling geometry
    (frame index + tail-frame truncation); frame CONTENT (byte sums) is
    pytest-checked — a blob fold isn't portable SQL."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    frames = mm.sample_frames(mm.attach_binary_payload(docs, "doc_id", "text"))
    return frames.select("doc_id", "frame_idx", "frame_n_bytes")


@register(
    "multimodal_image_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT)              AS n_bytes,
           CAST(ascii(substr(text, 1, 1)) AS INTEGER)              AS first_byte,
           CAST(octet_length(encode(text)) % 64 + 1 AS INTEGER)    AS fake_width,
           CAST(ascii(substr(text, 1, 1)) % 48 + 1 AS INTEGER)     AS fake_height
    FROM documents
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column pipeline (X9): opaque binary payload →
    mapInPandas feature extraction (Arrow batches).

    The distributed plumbing — binary schema, partition-wise pandas
    batches, typed output schema — is real; the codec is the documented
    deterministic stub (operators/multimodal.py decode_image), which is
    what makes the pipeline oracle-checkable.
    """
    docs = load(spark, sf_dir, "documents")
    return mm.extract_features(mm.attach_binary_payload(docs, "doc_id", "text"))


@register(
    "multimodal_image_headers",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                           WHEN 2 THEN 'bmp' ELSE 'jpeg' END AS format,
           CAST(doc_id % 300 + 1 AS INTEGER)       AS width,
           CAST((doc_id * 7) % 200 + 1 AS INTEGER) AS height
    FROM documents
    """,
)
def multimodal_image_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real (non-stub) image decode tier of X9: payloads carrying genuine
    PNG/GIF/BMP/JPEG header byte layouts are parsed back to
    (format, width, height) by the pure-Python header parser inside
    mapInPandas (operators/multimodal.py parse_image_header — dimensions
    need no codec library). Sizes are closed-form in doc_id, so the
    oracle recomputes the expected parse independently."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(
        docs, mm.image_header_payload, mm.image_header_stats, mm.HEADER_SCHEMA
    )


@register(
    "multimodal_audio_headers",
    oracle="""
    SELECT doc_id,
           CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
           CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                WHEN 2 THEN 22050 ELSE 44100 END AS INTEGER)
               AS sample_rate,
           CAST(16 AS INTEGER)              AS bits,
           CAST(doc_id % 1000 + 1 AS BIGINT) AS n_frames
    FROM documents
    """,
)
def multimodal_audio_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio metadata tier of X9 (the WAV twin of the image-header
    entry): payloads carrying genuine RIFF/WAVE chunk layouts — a third
    of them with a LIST metadata chunk the walk must skip — parsed back
    to (channels, sample_rate, bits, n_frames) by the pure-Python chunk
    walker inside mapInPandas (operators/multimodal.py parse_wav_header;
    container METADATA needs no codec — only sample DECODING does, and
    that boundary stays stubbed per brief). Parameters are closed-form
    in doc_id, so the oracle recomputes the expected parse
    independently."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(
        docs, mm.wav_header_payload, mm.parse_wav_header, mm.AUDIO_HEADER_SCHEMA
    )


@register(
    "multimodal_pixel_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 16 + 1 AS INTEGER)       AS width,
               CAST((doc_id * 3) % 12 AS INTEGER) + 1 AS height
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, d.width, d.height, x.x, y.y
        FROM dims d
        JOIN (SELECT unnest(range(0, 16)) AS x) x ON x.x < d.width
        JOIN (SELECT unnest(range(0, 12)) AS y) y ON y.y < d.height
    )
    SELECT doc_id,
           MIN(width)                                    AS width,
           MIN(height)                                   AS height,
           CAST(count(*) AS BIGINT)                      AS n_pixels,
           CAST(sum((doc_id + x) % 256) AS BIGINT)       AS sum_r,
           CAST(sum((doc_id + y) % 256) AS BIGINT)       AS sum_g,
           CAST(sum((doc_id + x * y) % 256) AS BIGINT)   AS sum_b
    FROM px
    GROUP BY doc_id
    """,
)
def multimodal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIXEL-decode tier of X9: each payload is a
    complete uncompressed 24-bit BMP file (genuine on-disk geometry —
    BITMAPFILEHEADER/BITMAPINFOHEADER, BGR rows, 4-byte padding, a fifth
    of them stored top-down via negative biHeight), and the Spark side
    FULLY DECODES the pixel array with the pure-stdlib struct walk
    (operators/multimodal.py decode_bmp_pixels) inside mapInPandas,
    reducing to per-channel integer sums. Pixel values are closed-form
    in doc_id, so the oracle recomputes the expected sums without ever
    seeing the bytes: a hash match proves padding/BGR/row-order handling
    byte-for-byte. Integer-only outputs, so the hash is exact."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(docs, mm.bmp_payload, mm.bmp_pixel_stats, mm.PIXEL_STATS_SCHEMA)


@register(
    "multimodal_png_pixel_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 12 + 1 AS INTEGER)       AS width,
               CAST((doc_id * 5) % 10 AS INTEGER) + 1 AS height
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, d.width, d.height, x.x, y.y
        FROM dims d
        JOIN (SELECT unnest(range(0, 12)) AS x) x ON x.x < d.width
        JOIN (SELECT unnest(range(0, 10)) AS y) y ON y.y < d.height
    )
    SELECT doc_id,
           MIN(width)                                      AS width,
           MIN(height)                                     AS height,
           CAST(count(*) AS BIGINT)                        AS n_pixels,
           CAST(sum((doc_id + 3 * x) % 256) AS BIGINT)     AS sum_r,
           CAST(sum((doc_id + 5 * y) % 256) AS BIGINT)     AS sum_g,
           CAST(sum((doc_id + x + y) % 256) AS BIGINT)     AS sum_b
    FROM px
    GROUP BY doc_id
    """,
)
def multimodal_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-format pixel decode (X9): each payload is a
    complete VALID PNG (real zlib IDAT, real CRC32s, scanline filters
    cycling None/Sub/Up per row) and the Spark side fully decodes it —
    chunk walk, CRC verify, inflate, unfilter — with stdlib zlib inside
    mapInPandas (operators/multimodal.py decode_png_pixels). PNG's
    'codec' is DEFLATE plus five public-spec filters, so this tier
    needs no external library; the palette/alpha/16-bit/interlace long
    tail stays out of scope. Pixel values are closed-form in doc_id —
    the oracle recomputes the channel sums without seeing the bytes, so
    a hash match proves inflate + unfilter byte-for-byte."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(docs, mm.png_payload, mm.png_pixel_stats, mm.PIXEL_STATS_SCHEMA)


@register(
    "multimodal_png_interlaced_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 14 + 2 AS INTEGER)       AS width,
               CAST((doc_id * 7) % 11 AS INTEGER) + 2 AS height
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, d.width, d.height, x.x, y.y
        FROM dims d
        JOIN (SELECT unnest(range(0, 16)) AS x) x ON x.x < d.width
        JOIN (SELECT unnest(range(0, 13)) AS y) y ON y.y < d.height
    )
    SELECT doc_id,
           MIN(width)                                        AS width,
           MIN(height)                                       AS height,
           CAST(count(*) AS BIGINT)                          AS n_pixels,
           CAST(sum((doc_id + 2 * x + y) % 256) AS BIGINT)   AS sum_r,
           CAST(sum((2 * doc_id + 3 * y) % 256) AS BIGINT)   AS sum_g,
           CAST(sum((doc_id + x * y) % 256) AS BIGINT)       AS sum_b
    FROM px
    GROUP BY doc_id
    """,
)
def multimodal_png_interlaced_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adam7-INTERLACED pixel decode (X9): each payload is a valid
    interlace=1 PNG — seven spec-§8.2 sub-images in one zlib stream,
    every pass filtered independently with its prior row reset — and the
    Spark side fully decodes it executor-side (operators/multimodal.py
    decode_png_pixels Adam7 branch: per-pass unfilter + grid scatter).
    Pixel values are closed-form in doc_id so the oracle recomputes the
    channel sums without seeing the bytes: a hash match proves the
    pass-boundary unfilter resets AND the scatter geometry, the two
    things a progressive layout adds over the sequential one."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(
        docs, mm.png_interlaced_payload, mm.png_pixel_stats, mm.PIXEL_STATS_SCHEMA
    )


@register(
    "multimodal_png_palette_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 15 + 1 AS INTEGER)       AS width,
               CAST((doc_id * 3) % 13 AS INTEGER) + 1 AS height
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, d.width, d.height,
               (d.doc_id + 4 * x.x + 9 * y.y) % 256 AS idx
        FROM dims d
        JOIN (SELECT unnest(range(0, 15)) AS x) x ON x.x < d.width
        JOIN (SELECT unnest(range(0, 13)) AS y) y ON y.y < d.height
    )
    SELECT doc_id,
           MIN(width)                                       AS width,
           MIN(height)                                      AS height,
           CAST(count(*) AS BIGINT)                         AS n_pixels,
           CAST(sum((7 * idx + 13) % 256) AS BIGINT)        AS sum_r,
           CAST(sum((11 * idx + 29) % 256) AS BIGINT)       AS sum_g,
           CAST(sum((3 * idx + 41) % 256) AS BIGINT)        AS sum_b
    FROM px
    GROUP BY doc_id
    """,
)
def multimodal_png_palette_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed-color (PLTE) pixel decode (X9): payloads are valid
    color-type-3 PNGs — a 256-entry PLTE chunk plus 1-byte-per-pixel
    index scanlines whose filter arithmetic runs over INDEX bytes
    (bpp=1), not channel bytes — decoded executor-side by the same
    chunk walk with palette lookup. The oracle replays palette(index)
    in closed form, so a hash match proves the bpp-1 unfilter and the
    PLTE mapping exactly."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(
        docs, mm.png_palette_payload, mm.png_pixel_stats, mm.PIXEL_STATS_SCHEMA
    )


@register(
    "multimodal_gif_pixel_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 11 + 1 AS INTEGER)       AS width,
               CAST((doc_id * 3) % 9 AS INTEGER) + 1  AS height
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, d.width, d.height,
               (d.doc_id + 3 * x.x + 5 * y.y) % 256 AS idx
        FROM dims d
        JOIN (SELECT unnest(range(0, 11)) AS x) x ON x.x < d.width
        JOIN (SELECT unnest(range(0, 9)) AS y) y ON y.y < d.height
    )
    SELECT doc_id,
           MIN(width)                                 AS width,
           MIN(height)                                AS height,
           CAST(count(*) AS BIGINT)                   AS n_pixels,
           CAST(sum(idx) AS BIGINT)                   AS sum_r,
           CAST(sum((idx * 7) % 256) AS BIGINT)       AS sum_g,
           CAST(sum(255 - idx) AS BIGINT)             AS sum_b
    FROM px
    GROUP BY doc_id
    """,
)
def multimodal_gif_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTROPY-CODED pixel decode (X9): each payload is a complete
    VALID GIF89a (256-entry global color table, graphic control
    extension, REAL variable-width LZW code stream in <=255-byte
    sub-blocks) and the Spark side fully decodes it — screen-descriptor
    walk, extension skip, de-sub-block, LZW decompress with clear/EOI
    handling and 12-bit width growth, palette lookup — inside
    mapInPandas (operators/multimodal.py decode_gif_pixels). GIF's
    codec IS LZW, which is public-spec bit arithmetic, so this closes
    the 'GIF LZW' entry of the entropy-coded media gap list with
    no external library. Palette indices and the palette itself are
    closed-form in doc_id, so the oracle recomputes the channel sums
    without seeing a byte — a hash match proves the LZW bit stream
    decodes exactly."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(docs, mm.gif_payload, mm.gif_pixel_stats, mm.PIXEL_STATS_SCHEMA)


@register(
    "multimodal_gif_interlaced_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 9 + 1 AS INTEGER)            AS width,
               CAST((doc_id * 5) % 13 AS INTEGER) + 2     AS height
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, d.width, d.height,
               (d.doc_id + 2 * x.x + 7 * y.y) % 256 AS idx
        FROM dims d
        JOIN (SELECT unnest(range(0, 9)) AS x) x ON x.x < d.width
        JOIN (SELECT unnest(range(0, 15)) AS y) y ON y.y < d.height
    )
    SELECT doc_id,
           MIN(width)                                 AS width,
           MIN(height)                                AS height,
           CAST(count(*) AS BIGINT)                   AS n_pixels,
           CAST(sum(idx) AS BIGINT)                   AS sum_r,
           CAST(sum((idx * 7) % 256) AS BIGINT)       AS sum_g,
           CAST(sum(255 - idx) AS BIGINT)             AS sum_b
    FROM px
    GROUP BY doc_id
    """,
)
def multimodal_gif_interlaced_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERLACED-GIF pixel decode (X9): payloads set the
    image-descriptor interlace flag and LZW-encode their rows in the
    GIF89a §20 four-pass order (0,8,…; 4,12,…; 2,6,…; odd rows), and the
    Spark side decodes + DE-INTERLACES executor-side
    (operators/multimodal.py decode_gif_pixels interlace branch).
    Heights span 2–14 rows so fixtures exercise one through all four
    passes. The channel sums are row-position-sensitive (idx depends on
    y), so a hash match proves the de-interlace permutation exactly —
    this retires the 'interlaced GIF' line of the documented out-of-scope
    tail."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(
        docs, mm.gif_interlaced_payload, mm.gif_pixel_stats, mm.PIXEL_STATS_SCHEMA
    )


@register(
    "multimodal_png_gray16_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 13 + 1 AS INTEGER)       AS width,
               CAST((doc_id * 7) % 9 AS INTEGER) + 1  AS height
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, d.width, d.height,
               (d.doc_id * 131 + 257 * x.x + 263 * y.y) % 65536 AS v
        FROM dims d
        JOIN (SELECT unnest(range(0, 13)) AS x) x ON x.x < d.width
        JOIN (SELECT unnest(range(0, 9)) AS y) y ON y.y < d.height
    )
    SELECT doc_id,
           MIN(width)               AS width,
           MIN(height)              AS height,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(v) AS BIGINT)   AS sum_v,
           CAST(min(v) AS BIGINT)   AS min_v,
           CAST(max(v) AS BIGINT)   AS max_v
    FROM px
    GROUP BY doc_id
    """,
)
def multimodal_png_gray16_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-BIT GREYSCALE PNG decode (X9): payloads are valid
    color-type-0 depth-16 PNGs — big-endian two-byte samples, scanline
    filters cycling ALL FIVE spec types with bpp=2 so the byte-level
    filter arithmetic spans sample halves — decoded executor-side by the
    generalized sample decoder (operators/multimodal.py
    decode_png_samples). Sample values span the full 16-bit range, so a
    decoder that truncates to 8 bits or reads little-endian cannot hash-
    match; this retires the '16-bit PNG' line of the documented
    out-of-scope tail. min/max outputs additionally pin per-pixel values,
    not just sums."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(
        docs, mm.png_gray16_payload, mm.png_gray16_stats, mm.GRAY16_STATS_SCHEMA
    )


@register(
    "multimodal_png_alpha_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 10 + 1 AS INTEGER)        AS width,
               CAST((doc_id * 3) % 11 AS INTEGER) + 1  AS height,
               (doc_id * 13 + 7) % 256                 AS bg_r,
               (doc_id * 17 + 11) % 256                AS bg_g,
               (doc_id * 19 + 23) % 256                AS bg_b
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, d.width, d.height,
               (d.doc_id + 5 * x.x) % 256               AS r,
               (d.doc_id + 7 * y.y) % 256               AS g,
               (d.doc_id + 3 * x.x + 2 * y.y) % 256     AS b,
               (d.doc_id * 11 + 17 * x.x + 29 * y.y) % 256 AS a,
               d.bg_r, d.bg_g, d.bg_b
        FROM dims d
        JOIN (SELECT unnest(range(0, 10)) AS x) x ON x.x < d.width
        JOIN (SELECT unnest(range(0, 11)) AS y) y ON y.y < d.height
    )
    SELECT doc_id,
           MIN(width)                AS width,
           MIN(height)               AS height,
           CAST(count(*) AS BIGINT)  AS n_pixels,
           CAST(sum((r * a + bg_r * (255 - a) + 127) // 255) AS BIGINT) AS sum_r,
           CAST(sum((g * a + bg_g * (255 - a) + 127) // 255) AS BIGINT) AS sum_g,
           CAST(sum((b * a + bg_b * (255 - a) + 127) // 255) AS BIGINT) AS sum_b,
           CAST(sum(a) AS BIGINT)    AS sum_a
    FROM px
    GROUP BY doc_id
    """,
)
def multimodal_png_alpha_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RGBA PNG decode + ALPHA COMPOSITE (X9): payloads are
    valid color-type-6 PNGs (four-channel scanlines, all five filters at
    bpp=4) decoded by the generalized sample decoder, then source-over
    composited onto a per-row closed-form background with the exact
    integer blend ``(c*a + bg*(255-a) + 127) // 255`` — the normalize-
    transparency step a training-image pipeline runs before feature
    extraction. The oracle replays the identical blend per pixel in SQL
    (DuckDB ``//`` and Python ``//`` agree on non-negative ints), so a
    hash match proves the four-channel unfilter AND the compositing
    arithmetic; retires the 'alpha PNG' line of the out-of-scope tail."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(
        docs, mm.png_rgba_payload, mm.png_alpha_composite_stats, mm.ALPHA_STATS_SCHEMA
    )


@register(
    "multimodal_resize_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 16 + 1 AS BIGINT)      AS w,
               CAST((doc_id * 3) % 12 + 1 AS BIGINT) AS h
        FROM documents
    ),
    grid AS (
        SELECT x.x, y.y
        FROM (SELECT unnest(range(0, 8)) AS x) x,
             (SELECT unnest(range(0, 4)) AS y) y
    ),
    f AS (
        SELECT d.doc_id, d.w, d.h,
               GREATEST(0, LEAST((d.w - 1) * 256, (2 * g.x + 1) * d.w * 16 - 128)) AS fx,
               GREATEST(0, LEAST((d.h - 1) * 256, (2 * g.y + 1) * d.h * 32 - 128)) AS fy
        FROM dims d CROSS JOIN grid g
    ),
    c AS (
        SELECT doc_id, w, h,
               fx // 256 AS x0, LEAST(fx // 256 + 1, w - 1) AS x1, fx % 256 AS wx,
               fy // 256 AS y0, LEAST(fy // 256 + 1, h - 1) AS y1, fy % 256 AS wy
        FROM f
    ),
    v AS (
        SELECT doc_id,
               ((doc_id + x0) % 256 * (256 - wx) * (256 - wy)
                + (doc_id + x1) % 256 * wx * (256 - wy)
                + (doc_id + x0) % 256 * (256 - wx) * wy
                + (doc_id + x1) % 256 * wx * wy + 32768) // 65536 AS rv,
               ((doc_id + y0) % 256 * (256 - wx) * (256 - wy)
                + (doc_id + y0) % 256 * wx * (256 - wy)
                + (doc_id + y1) % 256 * (256 - wx) * wy
                + (doc_id + y1) % 256 * wx * wy + 32768) // 65536 AS gv,
               ((doc_id + x0 * y0) % 256 * (256 - wx) * (256 - wy)
                + (doc_id + x1 * y0) % 256 * wx * (256 - wy)
                + (doc_id + x0 * y1) % 256 * (256 - wx) * wy
                + (doc_id + x1 * y1) % 256 * wx * wy + 32768) // 65536 AS bv
        FROM c
    )
    SELECT doc_id,
           CAST(8 AS INTEGER)        AS width,
           CAST(4 AS INTEGER)        AS height,
           CAST(count(*) AS BIGINT)  AS n_pixels,
           CAST(sum(rv) AS BIGINT)   AS sum_r,
           CAST(sum(gv) AS BIGINT)   AS sum_g,
           CAST(sum(bv) AS BIGINT)   AS sum_b
    FROM v
    GROUP BY doc_id
    """,
)
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIZE RESAMPLING (X9): decode each synthesized BMP (1x1 up
    to 16x12, mixed bottom-up/top-down storage) and resample it to a
    normalized 8x4 thumbnail with the EXACT fixed-point bilinear kernel
    (operators/multimodal.py resize_pixels — pixel-center coordinates
    in 1/256 units, 8-bit fractional weights, half-up rounding), then
    reduce to channel sums; decode+resize run executor-side in
    mapInPandas. Because the kernel is integer arithmetic end-to-end,
    the oracle REPLAYS the same blend per destination pixel in SQL from
    the closed-form source pixels — a hash match proves the resampler
    bit-for-bit, which no float resizer could offer. This closes the
    'resize resampling' entry of the media gap list without an
    image library."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(
        docs, mm.bmp_payload, lambda p: mm.resized_pixel_stats(p, 8, 4), mm.PIXEL_STATS_SCHEMA
    )


@register(
    "multimodal_jpeg_resize_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 20 + 1 AS BIGINT)       AS w,
               CAST((doc_id * 3) % 18 + 1 AS BIGINT) AS h
        FROM documents
    ),
    blk AS (
        -- block-constant source colors; the payload is a baseline 4:4:4
        -- JPEG whose decode reconstructs each 8x8 block exactly
        SELECT d.doc_id, b.bx, b.by,
               (d.doc_id + 5 * b.bx + 11 * b.by) % 256 AS r,
               (d.doc_id * 3 + 7 * b.bx + b.by) % 256  AS g,
               (d.doc_id * 7 + b.bx + 13 * b.by) % 256 AS b
        FROM dims d
        JOIN (SELECT x.x AS bx, y.y AS by
              FROM (SELECT unnest(range(0, 3)) AS x) x,
                   (SELECT unnest(range(0, 3)) AS y) y) b
          ON b.bx * 8 < d.w AND b.by * 8 < d.h
    ),
    ycc AS (
        -- the codec's exact fixed-point RGB->YCbCr (floor shift via
        -- +16777216/-256 bias, as in multimodal_jpeg_color_stats)
        SELECT doc_id, bx, by,
               GREATEST(0, LEAST(255,
                   (19595 * r + 38470 * g + 7471 * b + 32768) // 65536)) AS yv,
               GREATEST(0, LEAST(255,
                   (-11059 * r - 21709 * g + 32768 * b + 32768 + 16777216)
                       // 65536 - 256 + 128)) AS cb,
               GREATEST(0, LEAST(255,
                   (32768 * r - 27439 * g - 5329 * b + 32768 + 16777216)
                       // 65536 - 256 + 128)) AS cr
        FROM blk
    ),
    rgb2 AS (
        SELECT doc_id, bx, by,
               GREATEST(0, LEAST(255, yv +
                   ((91881 * (cr - 128) + 32768 + 16777216) // 65536 - 256)))
                   AS r2,
               GREATEST(0, LEAST(255, yv -
                   ((22554 * (cb - 128) + 46802 * (cr - 128) + 32768
                     + 16777216) // 65536 - 256))) AS g2,
               GREATEST(0, LEAST(255, yv +
                   ((116130 * (cb - 128) + 32768 + 16777216) // 65536 - 256)))
                   AS b2
        FROM ycc
    ),
    grid AS (
        SELECT x.x, y.y
        FROM (SELECT unnest(range(0, 8)) AS x) x,
             (SELECT unnest(range(0, 4)) AS y) y
    ),
    c AS (
        SELECT d.doc_id, d.w, d.h,
               GREATEST(0, LEAST((d.w - 1) * 256, (2 * g.x + 1) * d.w * 16 - 128)) AS fx,
               GREATEST(0, LEAST((d.h - 1) * 256, (2 * g.y + 1) * d.h * 32 - 128)) AS fy
        FROM dims d CROSS JOIN grid g
    ),
    cc AS (
        SELECT doc_id,
               fx // 256 AS x0, LEAST(fx // 256 + 1, w - 1) AS x1, fx % 256 AS wx,
               fy // 256 AS y0, LEAST(fy // 256 + 1, h - 1) AS y1, fy % 256 AS wy
        FROM c
    ),
    v AS (
        SELECT cc.doc_id,
               (p00.r2 * (256 - wx) * (256 - wy) + p10.r2 * wx * (256 - wy)
                + p01.r2 * (256 - wx) * wy + p11.r2 * wx * wy + 32768) // 65536 AS rv,
               (p00.g2 * (256 - wx) * (256 - wy) + p10.g2 * wx * (256 - wy)
                + p01.g2 * (256 - wx) * wy + p11.g2 * wx * wy + 32768) // 65536 AS gv,
               (p00.b2 * (256 - wx) * (256 - wy) + p10.b2 * wx * (256 - wy)
                + p01.b2 * (256 - wx) * wy + p11.b2 * wx * wy + 32768) // 65536 AS bv
        FROM cc
        JOIN rgb2 p00 ON p00.doc_id = cc.doc_id
                     AND p00.bx = cc.x0 // 8 AND p00.by = cc.y0 // 8
        JOIN rgb2 p10 ON p10.doc_id = cc.doc_id
                     AND p10.bx = cc.x1 // 8 AND p10.by = cc.y0 // 8
        JOIN rgb2 p01 ON p01.doc_id = cc.doc_id
                     AND p01.bx = cc.x0 // 8 AND p01.by = cc.y1 // 8
        JOIN rgb2 p11 ON p11.doc_id = cc.doc_id
                     AND p11.bx = cc.x1 // 8 AND p11.by = cc.y1 // 8
    )
    SELECT doc_id,
           CAST(8 AS INTEGER)       AS width,
           CAST(4 AS INTEGER)       AS height,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(rv) AS BIGINT)  AS sum_r,
           CAST(sum(gv) AS BIGINT)  AS sum_g,
           CAST(sum(bv) AS BIGINT)  AS sum_b
    FROM v
    GROUP BY doc_id
    """,
)
def multimodal_jpeg_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG->RESIZE routing (X9): each payload is
    a complete baseline 4:4:4 COLOR JPEG that the resize tier now
    decodes with the module's own entropy decoder
    (operators/multimodal.py decode_image_pixels) before the exact
    fixed-point bilinear resample to an 8x4 thumbnail — the
    decode-normalize stage of an image training pipeline run on the
    format that actually dominates web corpora. Per-block-constant
    colors reconstruct exactly (DC step 8), so the oracle replays the
    full chain in SQL: fixed-point RGB->YCbCr->RGB roundtrip per 8x8
    block, then the same 1/256 pixel-center bilinear blend per
    destination pixel. A hash match proves Huffman entropy decode, both
    color matrices, AND the resampler bit-for-bit in one plan. Map-only
    mapInPandas, no shuffle — linear in corpus bytes at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(
        docs,
        mm.jpeg_color_payload,
        lambda p: mm.resized_pixel_stats(p, 8, 4),
        mm.PIXEL_STATS_SCHEMA,
    )


@register(
    "multimodal_audio_sample_stats",
    oracle="""
    WITH d AS (
        SELECT doc_id, CAST(doc_id % 200 + 1 AS BIGINT) AS n FROM documents
    ),
    s AS (
        SELECT d.doc_id, (d.doc_id * 7919 + j.j * 31) % 65536 - 32768 AS amp
        FROM d JOIN (SELECT unnest(range(0, 200)) AS j) j ON j.j < d.n
    )
    SELECT doc_id,
           CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                WHEN 2 THEN 22050 ELSE 44100 END AS INTEGER)
               AS sample_rate,
           CAST(count(*) AS BIGINT)        AS n_samples,
           CAST(sum(amp) AS BIGINT)        AS sum_amp,
           CAST(min(amp) AS INTEGER)       AS min_amp,
           CAST(max(amp) AS INTEGER)       AS max_amp,
           CAST(sum(amp * amp) AS BIGINT)  AS sum_sq
    FROM s
    GROUP BY doc_id
    """,
)
def multimodal_audio_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio SAMPLE decode (X9): complete mono 16-bit PCM WAV files
    decoded to amplitude statistics — chunk walk to the data chunk,
    little-endian int16 unpack, then sum/min/max/energy — executor-side
    in mapInPandas (operators/multimodal.py decode_wav_samples). PCM is
    the uncompressed audio case, so 'decode' is pure spec arithmetic
    (the compressed-codec boundary stays stubbed per brief). Sample
    values are closed-form in doc_id; integer-only outputs keep the
    oracle hash exact. sum_sq is the energy integral a loudness/VAD
    pipeline stage consumes."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(
        docs, mm.wav_pcm_payload, mm.audio_sample_stats, mm.AUDIO_SAMPLE_SCHEMA
    )


@register(
    "multimodal_stereo_sample_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                               WHEN 2 THEN 22050 ELSE 44100 END AS sample_rate,
               CAST(doc_id % 120 + 1 AS BIGINT)                 AS n
        FROM documents
    ),
    amp AS (
        SELECT d.doc_id, d.sample_rate, d.n,
               (d.doc_id * 53 + j.j * 17) % 65536 - 32768 AS l,
               (d.doc_id * 29 + j.j * 41) % 65536 - 32768 AS r
        FROM dims d
        JOIN (SELECT unnest(range(0, 120)) AS j) j ON j.j < d.n
    )
    SELECT doc_id,
           CAST(MIN(sample_rate) AS INTEGER) AS sample_rate,
           MIN(n)                            AS n_frames,
           CAST(sum(l) AS BIGINT)            AS sum_left,
           CAST(sum(r) AS BIGINT)            AS sum_right,
           CAST(min(l) AS INTEGER)           AS min_left,
           CAST(max(r) AS INTEGER)           AS max_right,
           CAST(sum(l * r) AS BIGINT)        AS dot_lr
    FROM amp
    GROUP BY doc_id
    """,
)
def multimodal_stereo_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEREO PCM decode (X9 — lifting the mono restriction):
    payloads are complete two-channel 16-bit PCM WAVs (block align 4,
    frames interleaved L,R) and the Spark side DE-INTERLEAVES them into
    per-channel streams executor-side (operators/multimodal.py
    decode_wav_pcm_channels, channel-aware up to 8ch). Outputs include
    the cross-channel dot product, which pins frame ALIGNMENT — a
    channel swap or one-frame slip flips it even when per-channel sums
    survive. Channel formulas are closed-form in doc_id; integer-only
    outputs keep the oracle hash exact."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(
        docs, mm.wav_stereo_payload, mm.stereo_sample_stats, mm.STEREO_STATS_SCHEMA
    )


@register(
    "multimodal_jpeg_luma_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 20 + 1 AS INTEGER)       AS width,
               CAST((doc_id * 3) % 18 AS INTEGER) + 1 AS height
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, d.width, d.height,
               2 * ((d.doc_id + 3 * (x.x // 8) + 7 * (y.y // 8)) % 128) AS v
        FROM dims d
        JOIN (SELECT unnest(range(0, 20)) AS x) x ON x.x < d.width
        JOIN (SELECT unnest(range(0, 18)) AS y) y ON y.y < d.height
    )
    SELECT doc_id,
           MIN(width)                  AS width,
           MIN(height)                 AS height,
           CAST(count(*) AS BIGINT)    AS n_pixels,
           CAST(sum(v) AS BIGINT)      AS sum_luma,
           CAST(min(v) AS INTEGER)     AS min_luma,
           CAST(max(v) AS INTEGER)     AS max_luma
    FROM px
    GROUP BY doc_id
    """,
)
def multimodal_jpeg_luma_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG DCT decode (X9 — the last entry of the entropy-coded
    media gap list): each payload is a complete valid baseline
    grayscale JPEG (real Annex K.3/K.5 Huffman tables, Annex K.1
    quantization, DC DPCM, 0xFF byte stuffing, SOI/DQT/SOF0/DHT/SOS
    segments) and the Spark side FULLY decodes it — Huffman entropy
    decode, magnitude-extend, dequant, de-zig-zag, float IDCT — inside
    mapInPandas (operators/multimodal.py decode_jpeg_pixels, numpy
    IDCT). The synthesized images are per-block-constant with even
    values, which quantize to DC-only coefficients with ZERO rounding
    loss, so the lossy pipeline reconstructs them bit-exactly and the
    oracle recomputes the luma stats closed-form; generality on
    AC-bearing images is pinned by the codec roundtrip pytest (PSNR
    bounds on busy/smooth content). No codec library involved — the
    DCT/Huffman arithmetic is the spec's own."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(docs, mm.jpeg_payload, mm.jpeg_luma_stats, mm.LUMA_STATS_SCHEMA)


@register(
    "multimodal_jpeg_progressive_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 19 + 1 AS INTEGER)       AS width,
               CAST((doc_id * 5) % 17 AS INTEGER) + 1 AS height
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, d.width, d.height,
               2 * ((d.doc_id + 5 * (x.x // 8) + 11 * (y.y // 8)) % 128) AS v
        FROM dims d
        JOIN (SELECT unnest(range(0, 19)) AS x) x ON x.x < d.width
        JOIN (SELECT unnest(range(0, 17)) AS y) y ON y.y < d.height
    )
    SELECT doc_id,
           MIN(width)                  AS width,
           MIN(height)                 AS height,
           CAST(count(*) AS BIGINT)    AS n_pixels,
           CAST(sum(v) AS BIGINT)      AS sum_luma,
           CAST(min(v) AS INTEGER)     AS min_luma,
           CAST(max(v) AS INTEGER)     AS max_luma
    FROM px
    GROUP BY doc_id
    """,
)
def multimodal_jpeg_progressive_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE JPEG decode (X9 — retiring the LAST image
    line of the documented out-of-scope tail): payloads are complete
    valid SOF2 JPEGs whose coefficients arrive across FOUR spectral-
    selection / successive-approximation scans (DC first at Al=1, DC
    refinement bits, AC band 1-63 first with cross-block EOBn runs, AC
    refinement with the correction-bit protocol), decoded executor-side
    by a real multi-scan Annex G decoder (operators/multimodal.py
    decode_jpeg_progressive) inside mapInPandas. The DC-only zero-loss
    fixture construction makes the full four-scan pipeline bit-exact and
    oracle-checkable; generality on AC-bearing content is pinned by the
    progressive-equals-baseline equivalence pytest (identical pixels on
    random images, gradients and checkerboards — which exercises EOBn,
    ZRL and refinement correction bits for real)."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(
        docs, mm.jpeg_progressive_payload, mm.jpeg_progressive_stats, mm.LUMA_STATS_SCHEMA
    )


@session_memo()
def _gif_files_dir(spark: SparkSession, sf_dir: str) -> str:
    """The 400 .gif files multimodal_binary_ingest reads, written once
    per corpus by executor-side mapInPandas batches."""
    import os

    path = make_tempdir("media_gif_")
    docs = load(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 400
    )

    def _write(batches):
        import pandas as pd  # local import: runs on executors

        for pdf in batches:
            n = 0
            for i in pdf["doc_id"].astype("int64").tolist():
                with open(os.path.join(path, f"doc_{i}.gif"), "wb") as f:
                    f.write(mm.gif_payload(i))
                n += 1
            yield pd.DataFrame({"n": [n]})

    docs.mapInPandas(_write, "n long").agg(F.sum("n")).collect()
    return path


@register(
    "multimodal_binary_ingest",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 11 + 1 AS INTEGER)       AS width,
               CAST((doc_id * 3) % 9 AS INTEGER) + 1  AS height
        FROM documents
        WHERE doc_id < 400
    ),
    px AS (
        SELECT d.doc_id, d.width, d.height,
               (d.doc_id + 3 * x.x + 5 * y.y) % 256 AS idx
        FROM dims d
        JOIN (SELECT unnest(range(0, 11)) AS x) x ON x.x < d.width
        JOIN (SELECT unnest(range(0, 9)) AS y) y ON y.y < d.height
    )
    SELECT doc_id,
           MIN(width)                                 AS width,
           MIN(height)                                AS height,
           CAST(count(*) AS BIGINT)                   AS n_pixels,
           CAST(sum(idx) AS BIGINT)                   AS sum_r,
           CAST(sum((idx * 7) % 256) AS BIGINT)       AS sum_g,
           CAST(sum(255 - idx) AS BIGINT)             AS sum_b
    FROM px
    GROUP BY doc_id
    """,
)
def multimodal_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILE-BASED media ingestion (S-tier x X9): real .gif FILES on
    disk read back through Spark's ``binaryFile`` source — the shape a
    100 TB image corpus actually arrives in (a lake of media files +
    object-store listing), unlike the in-query synthesized payloads of
    the other tiers. Fixture setup writes a bounded 400-file slice
    EXECUTOR-SIDE (mapInPandas batches write their own partition's
    files — the distributed media-sink shape), cached per corpus like
    the sink entries. The read is
    ``spark.read.format('binaryFile').option('pathGlobFilter',
    '*.gif')``, the doc id is parsed from the file NAME, and the
    content column goes through the same full LZW decode as
    multimodal_gif_pixel_stats. At scale the listing parallelizes over
    the driver's file index, decode is map-only over executors, and
    ``binaryFile`` carries per-file length/mtime for free — no shuffle
    anywhere before the final per-doc stats (which are per-file, so
    none is needed). The oracle recomputes the channel sums closed-form
    for the same id slice: a hash match proves file write → listing →
    binary read → decode end-to-end. (The fixture writer uses local
    ``open()`` — correct in local mode where executors share the
    driver's filesystem; a multi-node cluster would swap in an
    object-store client for the same per-batch write loop. The READ
    side, which is the part a real pipeline exercises, is
    cluster-correct as-is.)"""
    import os

    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.gif")
        .load(_gif_files_dir(spark, sf_dir))
    )

    def _stats(pth, content):
        name = os.path.basename(str(pth))
        stats = mm.gif_pixel_stats(bytes(content))
        if stats is None:
            return ()
        return [(int(name[len("doc_") : -len(".gif")]), *stats)]

    return mm.map_rows(
        binary.select("path", "content"), mm.PIXEL_STATS_SCHEMA, _stats, ("path", "content")
    )


@register(
    "multimodal_jpeg_color_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 20 + 1 AS INTEGER)       AS width,
               CAST((doc_id * 3) % 18 AS INTEGER) + 1 AS height
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, d.width, d.height,
               (d.doc_id + 5 * (x.x // 8) + 11 * (y.y // 8)) % 256      AS r,
               (d.doc_id * 3 + 7 * (x.x // 8) + (y.y // 8)) % 256      AS g,
               (d.doc_id * 7 + (x.x // 8) + 13 * (y.y // 8)) % 256     AS b
        FROM dims d
        JOIN (SELECT unnest(range(0, 20)) AS x) x ON x.x < d.width
        JOIN (SELECT unnest(range(0, 18)) AS y) y ON y.y < d.height
    ),
    ycc AS (
        -- the codec's exact fixed-point RGB->YCbCr; the +16777216/-256
        -- bias turns DuckDB's truncating // into the floor shift the
        -- codec uses (numerators are bounded well inside the bias)
        SELECT doc_id, width, height,
               GREATEST(0, LEAST(255,
                   (19595 * r + 38470 * g + 7471 * b + 32768) // 65536)) AS yv,
               GREATEST(0, LEAST(255,
                   (-11059 * r - 21709 * g + 32768 * b + 32768 + 16777216)
                       // 65536 - 256 + 128)) AS cb,
               GREATEST(0, LEAST(255,
                   (32768 * r - 27439 * g - 5329 * b + 32768 + 16777216)
                       // 65536 - 256 + 128)) AS cr
        FROM px
    ),
    rgb2 AS (
        SELECT doc_id, width, height,
               GREATEST(0, LEAST(255, yv +
                   ((91881 * (cr - 128) + 32768 + 16777216) // 65536 - 256)))
                   AS r2,
               GREATEST(0, LEAST(255, yv -
                   ((22554 * (cb - 128) + 46802 * (cr - 128) + 32768
                     + 16777216) // 65536 - 256))) AS g2,
               GREATEST(0, LEAST(255, yv +
                   ((116130 * (cb - 128) + 32768 + 16777216) // 65536 - 256)))
                   AS b2
        FROM ycc
    )
    SELECT doc_id,
           MIN(width)                 AS width,
           MIN(height)                AS height,
           CAST(count(*) AS BIGINT)   AS n_pixels,
           CAST(sum(r2) AS BIGINT)    AS sum_r,
           CAST(sum(g2) AS BIGINT)    AS sum_g,
           CAST(sum(b2) AS BIGINT)    AS sum_b
    FROM rgb2
    GROUP BY doc_id
    """,
)
def multimodal_jpeg_color_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLOR JPEG decode (X9 — beyond the gap list's grayscale
    ask): each payload is a complete valid baseline 4:4:4 YCbCr JPEG
    (three components, interleaved MCUs, TWO quantization tables, DC
    DPCM per component) and the Spark side fully decodes it — Huffman
    entropy decode across the interleaved scan, per-component dequant +
    IDCT, then the codec's EXACT fixed-point YCbCr->RGB — inside
    mapInPandas (operators/multimodal.py decode_jpeg_color_pixels).
    Per-block-constant colors with DC step 8 reconstruct their YCbCr
    exactly, so the decoded RGB is the deterministic integer roundtrip
    _fx_ycbcr_to_rgb(_fx_rgb_to_ycbcr(...)) — which the oracle REPLAYS
    per pixel in SQL (floor-shift via bias arithmetic). A hash match
    proves the three-component entropy decode and both color matrices
    bit-for-bit. Chroma subsampling (4:2:0) and progressive scans
    remain the documented long tail."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(
        docs, mm.jpeg_color_payload, mm.jpeg_color_pixel_stats, mm.PIXEL_STATS_SCHEMA
    )


@register(
    "multimodal_jpeg420_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 24 + 1 AS INTEGER)       AS width,
               CAST((doc_id * 3) % 20 AS INTEGER) + 1 AS height
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, d.width, d.height,
               (d.doc_id + 5 * (x.x // 16) + 11 * (y.y // 16)) % 256     AS r,
               (d.doc_id * 3 + 7 * (x.x // 16) + (y.y // 16)) % 256     AS g,
               (d.doc_id * 7 + (x.x // 16) + 13 * (y.y // 16)) % 256    AS b
        FROM dims d
        JOIN (SELECT unnest(range(0, 24)) AS x) x ON x.x < d.width
        JOIN (SELECT unnest(range(0, 20)) AS y) y ON y.y < d.height
    ),
    ycc AS (
        SELECT doc_id, width, height,
               GREATEST(0, LEAST(255,
                   (19595 * r + 38470 * g + 7471 * b + 32768) // 65536)) AS yv,
               GREATEST(0, LEAST(255,
                   (-11059 * r - 21709 * g + 32768 * b + 32768 + 16777216)
                       // 65536 - 256 + 128)) AS cb,
               GREATEST(0, LEAST(255,
                   (32768 * r - 27439 * g - 5329 * b + 32768 + 16777216)
                       // 65536 - 256 + 128)) AS cr
        FROM px
    ),
    rgb2 AS (
        SELECT doc_id, width, height,
               GREATEST(0, LEAST(255, yv +
                   ((91881 * (cr - 128) + 32768 + 16777216) // 65536 - 256)))
                   AS r2,
               GREATEST(0, LEAST(255, yv -
                   ((22554 * (cb - 128) + 46802 * (cr - 128) + 32768
                     + 16777216) // 65536 - 256))) AS g2,
               GREATEST(0, LEAST(255, yv +
                   ((116130 * (cb - 128) + 32768 + 16777216) // 65536 - 256)))
                   AS b2
        FROM ycc
    )
    SELECT doc_id,
           MIN(width)                 AS width,
           MIN(height)                AS height,
           CAST(count(*) AS BIGINT)   AS n_pixels,
           CAST(sum(r2) AS BIGINT)    AS sum_r,
           CAST(sum(g2) AS BIGINT)    AS sum_g,
           CAST(sum(b2) AS BIGINT)    AS sum_b
    FROM rgb2
    GROUP BY doc_id
    """,
)
def multimodal_jpeg420_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSAMPLED color JPEG decode (X9): each payload is a
    baseline 4:2:0 JPEG — the MCU layout real-world files use: 16x16
    MCUs of four luma data units plus one block each of the
    HALF-RESOLUTION chroma planes (exact half-up 2x2 box-average
    downsample on encode, replication upsample on decode). The Spark
    side fully decodes the interleaved multi-data-unit scan
    executor-side (operators/multimodal.py _decode_jpeg_planes handles
    per-component sampling factors). Constant 16x16 tiles survive the
    whole pipeline exactly, so the oracle is the same per-pixel
    fixed-point color replay as the 4:4:4 tier — a hash match proves
    the subsampled MCU walk, both resolutions' block placement, the
    downsample/upsample pair, and the color matrices bit-for-bit.
    Remaining long tail: 4:2:2, progressive scans, restart markers."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(
        docs, mm.jpeg420_payload, mm.jpeg_color_pixel_stats, mm.PIXEL_STATS_SCHEMA
    )


@register(
    "multimodal_adpcm_sample_stats",
    oracle="""
    WITH RECURSIVE
    steps(i, step) AS (VALUES
        (0,7),(1,8),(2,9),(3,10),(4,11),(5,12),(6,13),(7,14),(8,16),(9,17),
        (10,19),(11,21),(12,23),(13,25),(14,28),(15,31),(16,34),(17,37),
        (18,41),(19,45),(20,50),(21,55),(22,60),(23,66),(24,73),(25,80),
        (26,88),(27,97),(28,107),(29,118),(30,130),(31,143),(32,157),
        (33,173),(34,190),(35,209),(36,230),(37,253),(38,279),(39,307),
        (40,337),(41,371),(42,408),(43,449),(44,494),(45,544),(46,598),
        (47,658),(48,724),(49,796),(50,876),(51,963),(52,1060),(53,1166),
        (54,1282),(55,1411),(56,1552),(57,1707),(58,1878),(59,2066),
        (60,2272),(61,2499),(62,2749),(63,3024),(64,3327),(65,3660),
        (66,4026),(67,4428),(68,4871),(69,5358),(70,5894),(71,6484),
        (72,7132),(73,7845),(74,8630),(75,9493),(76,10442),(77,11487),
        (78,12635),(79,13899),(80,15289),(81,16818),(82,18500),(83,20350),
        (84,22385),(85,24623),(86,27086),(87,29794),(88,32767)),
    d AS (
        SELECT doc_id,
               CAST(doc_id % 200 + 1 AS BIGINT) AS n,
               (doc_id * 7919) % 65536 - 32768 AS s0,
               CASE WHEN doc_id % 200 + 1 > 1
                    THEN abs(((doc_id * 7919 + 31) % 65536 - 32768)
                             - ((doc_id * 7919) % 65536 - 32768))
                    ELSE 0 END AS d0
        FROM documents
    ),
    seed AS (
        SELECT d.doc_id, d.n, CAST(0 AS BIGINT) AS j,
               CAST(d.s0 AS BIGINT) AS pred,
               CAST(min_by(st.i, abs(st.step - d.d0) * 1000 + st.i) AS BIGINT)
                   AS idx
        FROM d CROSS JOIN steps st
        GROUP BY d.doc_id, d.n, d.s0
    ),
    rec AS (
        SELECT doc_id, n, j, pred, idx FROM seed
        UNION ALL
        SELECT doc_id, n, j,
               GREATEST(-32768, LEAST(32767,
                   pred + CASE WHEN diff < 0 THEN -dq ELSE dq END)) AS pred,
               GREATEST(0, LEAST(88, idx
                   + CASE m WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6
                            WHEN 7 THEN 8 ELSE -1 END)) AS idx
        FROM (
            SELECT *,
                   step // 8 + step * b4 + (step // 2) * b2 + (step // 4) * b1
                       AS dq,
                   4 * b4 + 2 * b2 + b1 AS m
            FROM (
                SELECT *, CAST(a3 >= step // 4 AS BIGINT) AS b1
                FROM (
                    SELECT *,
                           a2 - (step // 2) * CAST(a2 >= step // 2 AS BIGINT)
                               AS a3,
                           CAST(a2 >= step // 2 AS BIGINT) AS b2
                    FROM (
                        SELECT *, a - step * CAST(a >= step AS BIGINT) AS a2,
                               CAST(a >= step AS BIGINT) AS b4
                        FROM (
                            SELECT r.doc_id, r.n, r.j + 1 AS j, r.pred,
                                   r.idx, st.step,
                                   ((r.doc_id * 7919 + (r.j + 1) * 31) % 65536
                                       - 32768) - r.pred AS diff,
                                   abs(((r.doc_id * 7919 + (r.j + 1) * 31)
                                       % 65536 - 32768) - r.pred) AS a
                            FROM rec r JOIN steps st ON st.i = r.idx
                            WHERE r.j + 1 < r.n
                        )
                    )
                )
            )
        )
    )
    SELECT doc_id,
           CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                WHEN 2 THEN 22050 ELSE 44100 END AS INTEGER)
               AS sample_rate,
           CAST(count(*) AS BIGINT)              AS n_samples,
           CAST(sum(pred) AS BIGINT)             AS sum_amp,
           CAST(min(pred) AS INTEGER)            AS min_amp,
           CAST(max(pred) AS INTEGER)            AS max_amp,
           CAST(sum(pred * pred) AS BIGINT)      AS sum_sq
    FROM rec
    GROUP BY doc_id
    """,
)
def multimodal_adpcm_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSY audio codec decode (X9): each payload is a complete
    IMA ADPCM WAV (wFormatTag 0x11 — 4-bit adaptive differential PCM,
    4:1 compression, block header + nibble stream per the public
    IMA/DVI spec) compressing the same closed-form signal as the PCM
    tier; the Spark side fully decodes it — RIFF walk, extended-fmt and
    'fact' parse, per-block nibble decompression with the 89-entry
    adaptive step table — executor-side in mapInPandas
    (operators/multimodal.py decode_wav_ima_adpcm). The codec is
    integer arithmetic end-to-end, so the oracle REPLAYS the entire
    encode+decode recurrence (quantizer bit-trials, predictor clamps,
    step-index walk) with a DuckDB recursive CTE over the step table —
    a hash match proves the lossy codec bit-for-bit, closing the
    'lossy audio' entry of the media gap list with no codec
    library."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(
        docs, mm.adpcm_payload, mm.adpcm_sample_stats, mm.AUDIO_SAMPLE_SCHEMA
    )


@register(
    "multimodal_g711_sample_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS codec,
               CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                               WHEN 2 THEN 22050 ELSE 44100 END     AS sample_rate,
               CAST(doc_id % 150 + 1 AS BIGINT)                     AS n
        FROM documents
    ),
    raw AS (
        SELECT d.doc_id, d.codec, d.sample_rate, d.n,
               (d.doc_id * 37 + j.j * 11) % 256 AS v
        FROM dims d
        JOIN (SELECT unnest(range(0, 150)) AS j) j ON j.j < d.n
    ),
    amp AS (
        SELECT doc_id, codec, sample_rate, n,
               CASE WHEN codec = 'ulaw' THEN
                 CASE WHEN ((255 - v) // 128) % 2 = 1
                      THEN -(((((255 - v) % 16) * 8 + 132) << (((255 - v) // 16) % 8)) - 132)
                      ELSE  ((((255 - v) % 16) * 8 + 132) << (((255 - v) // 16) % 8)) - 132 END
               ELSE
                 CASE WHEN (xor(v, 85) // 128) % 2 = 1
                      THEN -(CASE WHEN (xor(v, 85) // 16) % 8 = 0
                                  THEN (xor(v, 85) % 16) * 16 + 8
                                  ELSE ((xor(v, 85) % 16) * 16 + 264) << ((xor(v, 85) // 16) % 8 - 1) END)
                      ELSE  CASE WHEN (xor(v, 85) // 16) % 8 = 0
                                 THEN (xor(v, 85) % 16) * 16 + 8
                                 ELSE ((xor(v, 85) % 16) * 16 + 264) << ((xor(v, 85) // 16) % 8 - 1) END
                 END
               END AS a
        FROM raw
    )
    SELECT doc_id,
           MIN(codec)                          AS codec,
           CAST(MIN(sample_rate) AS INTEGER)   AS sample_rate,
           MIN(n)                              AS n_samples,
           CAST(sum(a) AS BIGINT)              AS sum_amp,
           CAST(min(a) AS INTEGER)             AS min_amp,
           CAST(max(a) AS INTEGER)             AS max_amp
    FROM amp
    GROUP BY doc_id
    """,
)
def multimodal_g711_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 COMPANDED audio decode (X9): payloads are complete
    mono WAV files in the two telephony companding formats — wFormatTag
    0x07 µ-law (even ids) and 0x06 A-law (odd ids) — and the Spark side
    walks the RIFF chunks and expands every companded byte to linear PCM
    with the public-spec G.711 bit arithmetic
    (operators/multimodal.py decode_wav_g711), executor-side in
    mapInPandas. The companded bytes are closed-form in doc_id and the
    oracle REPLAYS both expansion curves per byte in SQL (complement /
    XOR-0x55, exponent-shifted mantissa, sign fold — validated against
    all 256 byte values), so a hash match proves both companding laws
    bit-for-bit."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(
        docs, mm.g711_payload, mm.g711_sample_stats, mm.G711_STATS_SCHEMA
    )


@register(
    "multimodal_tiff_pixel_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 13 + 1 AS INTEGER)       AS width,
               CAST((doc_id * 7) % 11 AS INTEGER) + 1 AS height
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, d.width, d.height, x.x, y.y
        FROM dims d
        JOIN (SELECT unnest(range(0, 13)) AS x) x ON x.x < d.width
        JOIN (SELECT unnest(range(0, 11)) AS y) y ON y.y < d.height
    )
    SELECT doc_id,
           MIN(width)                                         AS width,
           MIN(height)                                        AS height,
           CAST(count(*) AS BIGINT)                           AS n_pixels,
           CAST(sum((doc_id + 7 * x) % 256) AS BIGINT)        AS sum_r,
           CAST(sum((doc_id * 3 + 5 * y) % 256) AS BIGINT)    AS sum_g,
           CAST(sum((doc_id + 2 * x + 3 * y) % 256) AS BIGINT) AS sum_b
    FROM px
    GROUP BY doc_id
    """,
)
def multimodal_tiff_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF pixel decode (X9 — a new format FAMILY, not a
    variant): payloads are complete baseline TIFF 6.0 files whose byte
    order alternates per document (II little-endian / MM big-endian —
    the format's defining subtlety) and every third file is PackBits
    (compression 32773) RLE-compressed; all are multi-strip. The Spark
    side walks the IFD with the spec's inline-vs-offset value rule,
    assembles strips, and RLE-decodes where needed, executor-side in
    mapInPandas (operators/multimodal.py decode_tiff_pixels). Pixel
    values are closed-form in doc_id, so one hash gate proves BOTH
    endiannesses and the PackBits codec."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(docs, mm.tiff_payload, mm.tiff_pixel_stats, mm.PIXEL_STATS_SCHEMA)


@register(
    "multimodal_video_mjpeg_stats",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 14 + 1 AS INTEGER)       AS width,
               CAST((doc_id * 3) % 12 AS INTEGER) + 1 AS height,
               CAST(doc_id % 5 + 1 AS INTEGER)        AS n_frames
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, d.width, d.height, f.f AS frame_idx,
               2 * ((d.doc_id + 13 * f.f + 3 * (x.x // 8) + 7 * (y.y // 8)) % 128) AS v
        FROM dims d
        JOIN (SELECT unnest(range(0, 5)) AS f) f ON f.f < d.n_frames
        JOIN (SELECT unnest(range(0, 14)) AS x) x ON x.x < d.width
        JOIN (SELECT unnest(range(0, 12)) AS y) y ON y.y < d.height
    )
    SELECT doc_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           MIN(width)                 AS width,
           MIN(height)                AS height,
           CAST(sum(v) AS BIGINT)     AS sum_luma,
           CAST(min(v) AS INTEGER)    AS min_luma,
           CAST(max(v) AS INTEGER)    AS max_luma
    FROM px
    GROUP BY doc_id, frame_idx
    """,
)
def multimodal_video_mjpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO decode (X9 — upgrading the fixed-stride
    frame-sample shape to a REAL container + codec): payloads are
    complete valid MJPEG AVI files (RIFF 'AVI ' with a 56-byte avih
    main header, 'vids'/'MJPG' strh + MJPG BITMAPINFOHEADER strf, and a
    LIST movi of word-aligned '00dc' chunks, each a complete baseline
    JPEG), and the Spark side walks the container and decodes EVERY
    frame through the JPEG tier's Huffman+IDCT core executor-side,
    fanning one video row out to n_frames per-frame rows inside
    mapInPandas (operators/multimodal.py decode_avi_mjpeg) — the
    keyframe-extraction relation of a video training pipeline. The
    per-frame zero-loss JPEG fixture construction keeps the whole
    container+codec walk bit-exact and oracle-checkable."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(
        docs, mm.avi_payload, mm.video_frame_stats, mm.VIDEO_FRAME_SCHEMA
    )


@register(
    "vector_hof_features",
    oracle="""
    SELECT label,
           count(*) AS n_vectors,
           CAST(sum(len(list_filter(embedding, x -> x > 0))) AS BIGINT) AS total_pos_dims,
           CAST(max(list_max(list_transform(embedding, x -> abs(x)))) AS DOUBLE) AS max_abs_dim
    FROM embeddings
    GROUP BY label
    ORDER BY label
    """,
)
def vector_hof_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions on the embedding column (F5 array
    tier × X7): per-vector features computed entirely with lambda
    built-ins — ``filter`` (positive-dim count) and ``transform`` +
    ``array_max`` (L∞ norm) — inside whole-stage codegen, no Python and
    no explode (the explode form would shuffle corpus × dim rows).
    Chosen features are order-free and exact (integer counts, float
    max/abs passthrough), so the hash matches DuckDB's list lambdas
    bit-for-bit — unlike a float fold, whose result depends on
    accumulation order."""
    emb = load(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    n_pos = F.size(F.filter(e, lambda x: x > 0))
    max_abs = F.array_max(F.transform(e, F.abs))
    return (
        emb.select("label", n_pos.alias("__np"), max_abs.alias("__ma"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum("__np").alias("total_pos_dims"),
            F.max("__ma").cast("double").alias("max_abs_dim"),
        )
        .orderBy("label")
    )


@register(
    "embedding_quantization",
    oracle="""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        FROM embeddings
    ),
    scaled AS (
        SELECT vec_id,
               list_max(list_transform(vd, x -> abs(x))) / 127.0 AS scale,
               vd
        FROM v
    )
    SELECT vec_id,
           scale,
           CASE WHEN scale = 0 THEN 0.0
                ELSE list_max(list_transform(
                         vd, x -> abs(floor(x / scale + 0.5) * scale - x)))
           END AS max_err
    FROM scaled
    ORDER BY vec_id
    """,
)
def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization report (X7 scale path): per-vector
    scale (max|x|/127) and the worst reconstruction error after a
    round-half-up quantize/dequantize cycle — the 4x-compression pass a
    training pipeline runs before building ANN indexes over 100 TB of
    embeddings.

    Exactness: every step is deterministic double arithmetic mirrored
    verbatim in the oracle (floor(x/s + 0.5), order-free array_max) —
    no float SUM anywhere, so the hash matches bit-for-bit. Scale
    shape: map-only higher-order expressions, no shuffle, no UDF; the
    ORDER BY is presentation-only."""
    from ..operators.quantize import quantization_report

    emb = load(spark, sf_dir, "embeddings")
    return quantization_report(emb, "embedding", ("vec_id",)).orderBy("vec_id")


@session_memo("pq_codebooks")
def shared_pq_books(spark: SparkSession, sf_dir: str) -> list:
    """PQ codebooks (m=8 subspaces × 16 codes, 3 Lloyd sweeps) trained
    once per corpus — the same offline-index discipline as
    shared_kmeans_model above: codebook training is query-independent
    (Lloyd sweeps with a driver collect each), so a warm search should
    never re-pay it. The model is m·ksub·dsub floats — driver-sized by
    construction."""
    vecs = (
        load(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").alias("__id"), F.col("embedding").cast("array<double>").alias("__raw"))
        .withColumn("__n", sim.l2_norm(F.col("__raw")))
        .select("__id", F.transform("__raw", lambda x: x / F.col("__n")).alias("__v"))
    )
    return sim.pq_train_codebooks(vecs, m=8, ksub=16, iters=3)


@register("knn_ivfpq_cosine", oracle=None)
def knn_ivfpq_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via IVF-PQ (operators/similarity.py
    cosine_topk_ivfpq — Jégou et al. 2011): the IVF coarse quantizer
    prunes to nprobe inverted lists, product-quantization codes (m=8
    subspaces × 16 codes) score candidates by asymmetric distance from
    one broadcast lookup table, and only the ADC shortlist is re-scored
    against full vectors. The memory-compressed ANN tier: candidate
    scoring reads m one-byte codes per vector instead of dim×4 bytes —
    at 100 TB of embeddings that is the difference between an index
    that fits the cluster's RAM and one that doesn't. Deterministic
    end-to-end (lowest-id k-means inits, id tie-breaks); rows-only with
    recall pytest-checked against knn_bruteforce_cosine
    (tests/test_operators.py)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.cosine_topk_ivfpq(
        emb, queries, k=5, n_clusters=16, nprobe=4, m=8, ksub=16,
        centroids=shared_kmeans_model(spark, sf_dir),
        books=shared_pq_books(spark, sf_dir),
    ).orderBy("query_id", "rank")


@register(
    "embedding_covariance",
    oracle="""
    WITH e AS (
        SELECT vec_id,
               CAST(unnest(range(1, len(embedding) + 1)) AS INTEGER) AS pos,
               CAST(unnest(embedding) AS DOUBLE)                     AS val
        FROM embeddings
    ),
    means AS (SELECT pos, avg(val) AS mu FROM e GROUP BY pos),
    centered AS (
        SELECT vec_id, e.pos, val - mu AS cv
        FROM e JOIN means ON e.pos = means.pos
    )
    SELECT a.pos AS dim_i, b.pos AS dim_j,
           round(sum(a.cv * b.cv) / (count(*) - 1), 6) + 0.0 AS cov
    FROM centered a
    JOIN centered b ON a.vec_id = b.vec_id AND a.pos <= b.pos
    GROUP BY a.pos, b.pos
    ORDER BY dim_i, dim_j
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle sample covariance matrix of the embedding corpus —
    the statistics pass before whitening / PCA / ZCA that an embedding
    pipeline runs on its way to an index (dim² accumulators, one pass).

    Scale shape: one posexplode to (row, dim, val), one broadcast of
    the dim-means (64 rows), then the pair fan-out joins ON THE ROW KEY
    — each row contributes its own dim×(dim+1)/2 products map-side and
    the only big shuffle is the (dim_i, dim_j)-keyed sum: 2080
    accumulator groups however large the corpus. Rounded to 6 decimals
    (same contract as embedding_centroids: float accumulation noise is
    ~1e-13 at this magnitude, far below the rounding grain; the +0.0
    normalizes IEEE negative zero, which the two engines produce on
    different sides of the rounding and which hashes differently)."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    ).withColumn("pos", (F.col("pos") + 1).cast("int"))
    means = e.groupBy("pos").agg(F.avg("val").alias("mu"))
    centered = (
        e.join(F.broadcast(means), "pos")
        .select("vec_id", "pos", (F.col("val") - F.col("mu")).alias("cv"))
    )
    a = centered.select("vec_id", F.col("pos").alias("dim_i"), F.col("cv").alias("cv_i"))
    b = centered.select("vec_id", F.col("pos").alias("dim_j"), F.col("cv").alias("cv_j"))
    n = emb.count()  # one count — the Bessel denominator
    return (
        a.join(b, "vec_id")
        .filter(F.col("dim_i") <= F.col("dim_j"))
        .groupBy("dim_i", "dim_j")
        .agg(
            (F.round(F.sum(F.col("cv_i") * F.col("cv_j")) / (n - 1), 6) + F.lit(0.0))
            .alias("cov")
        )
        .orderBy("dim_i", "dim_j")
    )


@register("embedding_pca_explained", oracle=None)
def embedding_pca_explained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 PCA explained-variance report: eigendecompose the sample
    covariance (the embedding_covariance relation — a dim×dim model
    read, the sanctioned driver materialization class) and report each
    leading component's eigenvalue and explained-variance fraction —
    the dimensionality check before truncating embeddings for a cheaper
    index. Rows-only: the eigensolve is a driver-side LAPACK call on
    the 64×64 model, not SQL; pytest pins trace preservation
    (Σ eigenvalues = Σ per-dim variances) and parity with numpy.cov on
    the raw vectors (tests/test_operators.py TestPca)."""
    import numpy as np

    cov_rows = embedding_covariance(spark, sf_dir).collect()
    dim = max(r.dim_j for r in cov_rows)
    m = np.zeros((dim, dim))
    for r in cov_rows:
        m[r.dim_i - 1, r.dim_j - 1] = r.cov
        m[r.dim_j - 1, r.dim_i - 1] = r.cov
    vals = np.linalg.eigvalsh(m)[::-1]  # descending
    total = float(vals.sum())
    out = [
        (i + 1, round(float(v), 6), round(float(v) / total, 6))
        for i, v in enumerate(vals[:10])
    ]
    from ..session import local_relation

    return local_relation(
        spark, out, "component int, eigenvalue double, explained_frac double"
    )


@register(
    "multimodal_audio_energy_windows",
    oracle="""
    WITH d AS (
        SELECT doc_id, CAST(doc_id % 200 + 1 AS BIGINT) AS n FROM documents
    ),
    s AS (
        SELECT d.doc_id, j.j,
               (d.doc_id * 7919 + j.j * 31) % 65536 - 32768 AS amp
        FROM d JOIN (SELECT unnest(range(0, 200)) AS j) j ON j.j < d.n
    )
    SELECT doc_id,
           CAST(j // 16 AS INTEGER)        AS window_id,
           CAST(count(*) AS BIGINT)        AS n_in_window,
           CAST(sum(amp) AS BIGINT)        AS sum_amp,
           CAST(sum(amp * amp) AS BIGINT)  AS sum_sq
    FROM s
    GROUP BY doc_id, j // 16
    """,
)
def multimodal_audio_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRAME-level audio energy (X9): decode mono PCM and emit
    one row per 16-sample window — the framing step before any spectral
    featurization (VAD, loudness, MFCC), and the one media shape the
    per-doc stats entries don't exercise: mapInPandas FANNING OUT a
    media file into a frame relation, after which windowed analytics
    are ordinary DataFrame ops. Map-only, frames contiguous per doc;
    amplitudes closed-form in doc_id so the oracle recomputes windowed
    energy without the bytes (operators/multimodal.py
    audio_energy_windows)."""
    docs = load(spark, sf_dir, "documents")
    return mm.decode_synthesized(
        docs, mm.wav_pcm_payload, mm.audio_energy_windows, mm.AUDIO_ENERGY_WINDOW_SCHEMA
    )


@register(
    "multimodal_video_scene_cuts",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               CAST(doc_id % 14 + 1 AS INTEGER)       AS width,
               CAST((doc_id * 3) % 12 AS INTEGER) + 1 AS height,
               CAST(doc_id % 5 + 1 AS INTEGER)        AS n_frames
        FROM documents
    ),
    px AS (
        SELECT d.doc_id, d.width, d.height, f.f AS frame_idx,
               2 * ((d.doc_id + 13 * f.f + 3 * (x.x // 8) + 7 * (y.y // 8)) % 128) AS v
        FROM dims d
        JOIN (SELECT unnest(range(0, 5)) AS f) f ON f.f < d.n_frames
        JOIN (SELECT unnest(range(0, 14)) AS x) x ON x.x < d.width
        JOIN (SELECT unnest(range(0, 12)) AS y) y ON y.y < d.height
    ),
    fr AS (
        SELECT doc_id, frame_idx, width, height, sum(v) AS s
        FROM px GROUP BY 1, 2, 3, 4
    ),
    d AS (
        SELECT doc_id, width, height, s,
               lag(s) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
        FROM fr
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(count(*) FILTER (
               WHERE prev IS NOT NULL
                 AND abs(s - prev) > 16 * width * height) AS BIGINT) AS n_cuts,
           CAST(COALESCE(max(abs(s - prev)), 0) AS BIGINT) AS max_jump
    FROM d
    GROUP BY doc_id
    """,
)
def multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over decoded video (X9): the frame
    relation produced by the full AVI/MJPEG container+codec walk
    (operators/multimodal.py decode_avi_mjpeg — the same decode the
    mjpeg_stats entry proves bit-exact) consumed by ORDINARY analytic
    SQL: a lag window per video over frame order, a luma-delta
    threshold scaled by frame area (pure integer arithmetic — exact
    cross-engine), and a per-video rollup of frame count, cut count,
    and the largest inter-frame jump. This is the shot-boundary pass of
    a video curation pipeline, and the point of the decode->frame-
    relation fan-out shape: once frames are rows, temporal analysis is
    window functions, not codec code.

    Scale shape: decode fans out inside mapInPandas (map-only, never
    the driver); the window partitions by video id and orders by frame
    index — state is one frame's sum per partition key, bounded by
    frames-per-video, and the single shuffle is the window's hash
    partition on doc_id; the rollup rides the SAME partitioning
    (groupBy doc_id after a doc_id-partitioned window needs no second
    exchange). The oracle recomputes every pixel closed-form in SQL, so
    one hash gate covers container walk, per-frame JPEG decode, window
    order, and threshold semantics."""
    docs = load(spark, sf_dir, "documents")
    fr = mm.decode_synthesized(docs, mm.avi_payload, mm.video_frame_stats, mm.VIDEO_FRAME_SCHEMA)
    return mm.video_scene_cuts(fr, threshold_per_px=16)
