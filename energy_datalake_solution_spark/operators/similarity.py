"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

Three tiers:
  1. brute-force cosine top-k — exact baseline; SQL-expressible, so it is
     the oracle-checked operator. Query set x candidate set as a broadcast
     nested-loop join: the *query* side is tiny and broadcast, candidates
     stream — at 100 TB the candidate scan is embarrassingly parallel and
     the top-k is per-query TakeOrdered, no global sort.
  2. random-hyperplane LSH ANN — deterministic seeded hyperplanes, bucket
     join on (band, key) with Hamming-1 multi-probe on the query side;
     recall@10 ~0.92 vs exact (floor pinned in tests/test_ann_recall.py).
  3. IVF (inverted-file) ANN — coarse centroids from a spherical
     (unit-vector) k-means fitted on the driver over a deterministic hash
     sample of <= 256 rows per cell (``spherical_centroids``; the same
     sampler trains the PQ codebooks), vectors assigned to cells by one
     argmax-cosine expression (``nearest_cell``), nprobe=6 of nlist=8;
     recall ~0.92, floor pinned. The synthetic embeddings are isotropic
     (no planted cluster structure), so recall tracks the probed fraction
     almost linearly — real clustered embeddings support far lower
     nprobe/nlist at the same recall; the measured sweep is in the
     operator docstring.

Exact paths use higher-order functions or a blocked numpy applyInPandas
kernel (near-dups); arithmetic accumulates in double, in the oracle's
evaluation order, so round(6) matches DuckDB bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.vector import cosine, dot, l2_norm
from ..plans.registry import register
from ..sources.catalog import load_table

N_QUERIES = 10   # vec_id < 10 are the "query" vectors
TOP_K = 5
LSH_SIG_BITS = 16            # random-hyperplane signature width
LSH_BANDS = 4                # bands over the signature
LSH_BAND_BITS = LSH_SIG_BITS // LSH_BANDS    # 4
LSH_BAND_MASK = (1 << LSH_BAND_BITS) - 1     # 15


def cosine_topk_epilogue(scored: DataFrame, top_k: int = TOP_K) -> DataFrame:
    """THE shared re-rank tail of every similarity query: ``scored``
    carries (q_id, c_id, cosine_sim already rounded to 6); rank per query
    by (cosine_sim DESC, c_id), keep ``top_k``, rename to the common
    (query_id, neighbor_id, cosine_sim, rank) contract. One definition —
    previously pasted in five operators, where a tie-break or rounding
    drift in one copy would silently break the row-identity pin between
    the fused and stored-index forms."""
    w = W.partitionBy("q_id").orderBy(F.col("cosine_sim").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            "cosine_sim",
            "rank",
        )
    )


@register(
    "embeddings_cosine_topk",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < {N_QUERIES}
        ),
        c AS (
            SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id >= {N_QUERIES}
        ),
        scored AS (
            SELECT q_id, c_id,
                   list_sum(list_transform(range(1, 65),
                            i -> q_emb[i]::DOUBLE * c_emb[i]::DOUBLE))
                   / (sqrt(list_sum(list_transform(q_emb, x -> x::DOUBLE * x::DOUBLE)))
                      * sqrt(list_sum(list_transform(c_emb, x -> x::DOUBLE * x::DOUBLE)))) AS cos
            FROM q, c
        ),
        ranked AS (
            SELECT q_id, c_id, round(cos, 6) AS cosine_sim,
                   row_number() OVER (
                       PARTITION BY q_id ORDER BY round(cos, 6) DESC, c_id
                   ) AS rank
            FROM scored
        )
        SELECT q_id AS query_id, c_id AS neighbor_id, cosine_sim, rank
        FROM ranked WHERE rank <= {TOP_K}
    """,
    headline=True,
    tags=("similarity",),
)
def embeddings_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k: 10 query vectors vs all candidates.

    The query side is broadcast (tiny); scoring is a single pass over the
    candidates; ranking is a per-query window (bounded state). Rounded to 6
    decimals before ranking so ordering is stable across engines.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = e.where(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "q_id",
        "c_id",
        F.round(cosine(F.col("q_emb"), F.col("c_emb")), 6).alias("cosine_sim"),
    )
    return cosine_topk_epilogue(scored)


TRAIN_SAMPLE_PER_CELL = 256  # FAISS practice: ~256 training vectors per centroid
SPHERICAL_ITERS = 10  # Lloyd rounds of the coarse fit; stops earlier once stable


def train_sample(rows: DataFrame, cap: int) -> "object":
    """The training matrix of every driver-side k-means fit (IVF and
    semantic-dedup coarse centroids, PQ codebooks): ``rows`` carries
    (vec_id, vector); returns the vectors as an (n, d) float64 numpy
    matrix in vec_id order, n <= ~cap. Centroids need a statistical
    sample, not the corpus: FAISS trains on ~256 vectors per cell, and
    beyond that the centroids stop moving while the fit cost keeps
    growing, so build cost is O(cap), independent of corpus size.

    The rows come through a Spark scan (so the bytes count as the
    operator's input). A ``limit(cap + 1)`` pull reads the whole input
    when it fits under the cap — one job, bit-identical to training on
    everything. Above the cap the input is counted and thinned by
    xxhash64(vec_id) % (n // cap): deterministic, the same rows every
    run, no RNG. An empty input gives a (0, 64) matrix, not an error."""
    import numpy as np

    vec = rows.columns[1]
    head = rows.limit(cap + 1).collect()
    if len(head) > cap:
        mod = rows.count() // cap
        head = rows.where(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(mod)) == 0).collect()
    head.sort(key=lambda r: r["vec_id"])
    if not head:
        return np.zeros((0, 64))
    return np.array([r[vec] for r in head], dtype=np.float64)


def lloyd_deterministic(X: "object", k: int, iters: int, unit: bool = False) -> "object":
    """Plain Lloyd k-means with deterministic farthest-point init (no RNG:
    seed = row 0 of the vec_id-sorted sample; each next seed is the point
    farthest from its nearest chosen seed). Empty clusters re-seed to the
    current worst-quantized point, also deterministic. Returns (k, d); when
    the sample has fewer than k distinct points the seeds are padded with
    repeats of the first.

    ``unit`` is spherical k-means over unit rows: centroids are kept on
    the unit sphere (the nearest by distance is then the one of highest
    cosine), and seeding stops once every point lies within 1e-6 of a seed
    — k is capped at the number of distinct directions, float32 jitter
    included, and the result has that many rows, no padding."""
    import numpy as np

    n = len(X)
    if n == 0:
        return np.zeros((k, X.shape[1]))
    tol = 1e-12 if unit else 0.0
    seeds = [0]
    d2 = ((X - X[0]) ** 2).sum(axis=1)
    while len(seeds) < min(k, n) and d2.max() > tol:
        nxt = int(np.argmax(d2))
        seeds.append(nxt)
        d2 = np.minimum(d2, ((X - X[nxt]) ** 2).sum(axis=1))
    C = X[seeds].copy()
    if len(C) < k and not unit:  # degenerate sample: pad (codes still valid)
        C = np.vstack([C, np.repeat(C[:1], k - len(C), axis=0)])
    for _ in range(iters):
        # (n, k) squared distances via ||x||^2 - 2xC^T + ||c||^2
        d = (X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(1)[None, :]
        assign = d.argmin(axis=1)
        newC = C.copy()
        for j in range(len(C)):
            mask = assign == j
            if mask.any():
                newC[j] = X[mask].mean(axis=0)
            else:
                worst = int(d[np.arange(n), assign].argmax())
                newC[j] = X[worst]
        if unit:
            nrm = np.linalg.norm(newC, axis=1, keepdims=True)
            newC = np.where(nrm > 0, newC / np.where(nrm > 0, nrm, 1.0), C)
        if np.allclose(newC, C):
            break
        C = newC
    return C


def spherical_centroids(rows: DataFrame, k: int) -> list[tuple[int, list[float]]]:
    """THE coarse-centroid fit of the IVF operators and semantic dedup:
    spherical k-means on the driver over ``train_sample(rows)``, at most
    ~TRAIN_SAMPLE_PER_CELL * k rows read through Spark (zero-norm rows
    must be filtered out first). Rows are normalized, so cells partition by
    direction (what cosine cares about) — k-means on raw vectors groups by
    magnitude and wrecks recall. Then at most SPHERICAL_ITERS
    deterministic Lloyd rounds with unit-norm centroids; k is capped at
    the number of distinct directions in the sample, so a colinear corpus
    gives one cell. Returns [(cell_id, centroid)] with ids 0..k'-1; an
    empty sample gives the single cell (0, zero vector)."""
    import numpy as np

    X = train_sample(rows, TRAIN_SAMPLE_PER_CELL * k)
    if not len(X):
        return [(0, [0.0] * X.shape[1])]
    U = X / np.linalg.norm(X, axis=1, keepdims=True)
    C = lloyd_deterministic(U, k, SPHERICAL_ITERS, unit=True)
    return [(i, [float(x) for x in c]) for i, c in enumerate(C)]


def nearest_cell(emb, centroids: list[tuple[int, list[float]]]):
    """The cell of ``emb`` as one shuffle-free Column: argmax cosine against
    the centroid literal, ties to the lower id; a zero-norm centroid (the
    empty-sample cell) scores -2, below any cosine. Centroid ids must be
    0..k-1 in list order, as spherical_centroids returns them. Shared by
    the fused IVF query, the stored-index build and its append, so every
    path puts a vector in the same cell."""
    lit = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(repr(float(x)) + "D" for x in c) + ")" for _, c in centroids
        )
        + ")"
    )
    sims = F.transform(lit, lambda c: F.coalesce(cosine(emb, c), F.lit(-2.0)))
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


def lsh_planes() -> list[list[float]]:
    """The 16 deterministic random-hyperplane sign vectors: sign(h) where
    h = md5(plane || dim). Derived, never stored — every consumer (the
    fused LSH ANN below, the stored LSH index in operators/ann_index.py,
    the streaming twin) gets bit-identical planes with no RNG and no
    side-channel state."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"plane{p}dim{d}".encode()).hexdigest()[:8], 16) % 2 else -1.0
            for d in range(64)
        ]
        for p in range(LSH_SIG_BITS)
    ]


def lsh_planes_lit():
    """The hyperplane matrix as ONE Column literal, built via a single
    parsed SQL expression instead of 16 x 64 nested ``F.lit`` calls: the
    element-wise form costs ~0.6 s of py4j round-trips PER QUERY BUILD
    (measured, guide §1.5 label-and-look) while ``F.expr`` parses the
    same 1024 exact double literals JVM-side in ~2 ms. Values are +-1.0
    (md5 sign tests), so the decimal text is bit-exact; the resulting
    plan literal is identical (pinned by collect-equality at adoption).
    Shared by every consumer of the planes (fused ANN, stored-index
    build/append, distributed probe, streaming twin) — single-sourced
    like lsh_sig_expr, for the same no-drift reason."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(repr(v) + "D" for v in row) + ")"
            for row in lsh_planes()
        )
        + ")"
    )


def lsh_sig_expr(emb, planes_arr):
    """The LSH_SIG_BITS-bit sign-test signature as a Column: bit p set iff
    dot(emb, plane_p) > 0, accumulated left-to-right in doubles. ONE
    definition shared by the fused query below and the stored-index build
    (operators/ann_index.py) — the probe is pinned to return exactly the
    fused rows, so a drift between two copies of this arithmetic would
    silently desynchronize the index from the query."""
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(LSH_SIG_BITS - 1)),
            lambda p: F.when(
                dot(emb, F.element_at(planes_arr, p + 1)) > 0,
                F.pow(F.lit(2.0), p).cast("int"),
            ).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def lsh_band_key_expr():
    """band_key = (sig >> band * LSH_BAND_BITS) & LSH_BAND_MASK over the
    ``sig``/``band`` columns — the banding arithmetic, single-sourced for
    the same reason as lsh_sig_expr."""
    return F.expr(f"shiftright(sig, band * {LSH_BAND_BITS})").bitwiseAND(LSH_BAND_MASK)


def lsh_oracle_sql() -> str:
    """DuckDB oracle for the multi-probe LSH ANN — possible because every
    stage is deterministic: the hyperplanes are md5-derived literals, the
    signature is a sign test on a left-to-right double accumulation (the
    same order DuckDB's list_sum uses, so the sign matches bit-for-bit),
    banding/multi-probe are integer bit arithmetic, and the re-rank is the
    exact rounded cosine. Graduates the LSH tier (fused and stored-index
    forms share this oracle) from the rows-only gate to the hash gate."""
    planes = lsh_planes()
    rows = ",\n            ".join(
        f"({p}, [{', '.join(str(v) for v in row)}]::DOUBLE[])"
        for p, row in enumerate(planes)
    )
    probe_bits = ", ".join(str(b) for b in [0, *[1 << b for b in range(LSH_BAND_BITS)]])
    return f"""
        WITH planes(p, pv) AS (VALUES
            {rows}),
        sigs AS (
            SELECT e.vec_id, e.embedding,
                   CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65),
                                i -> e.embedding[i]::DOUBLE * pl.pv[i])) > 0
                            THEN CAST(pow(2, pl.p) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
            FROM embeddings e, planes pl
            GROUP BY e.vec_id, e.embedding
        ),
        bands(band) AS (SELECT UNNEST(range(0, {LSH_BANDS}))),
        cand_side AS (
            SELECT vec_id AS c_id, embedding AS c_emb, band,
                   (sig >> (band * {LSH_BAND_BITS})) & {LSH_BAND_MASK} AS band_key
            FROM sigs, bands WHERE vec_id >= {N_QUERIES}
        ),
        probe_bits(bit) AS (SELECT UNNEST([{probe_bits}])),
        query_side AS (
            SELECT vec_id AS q_id, embedding AS q_emb, band,
                   xor((sig >> (band * {LSH_BAND_BITS})) & {LSH_BAND_MASK}, bit) AS band_key
            FROM sigs, bands, probe_bits WHERE vec_id < {N_QUERIES}
        ),
        cand AS (
            SELECT DISTINCT q.q_id, q.q_emb, c.c_id, c.c_emb
            FROM query_side q
            JOIN cand_side c ON q.band = c.band AND q.band_key = c.band_key
        ),
        scored AS (
            SELECT q_id, c_id,
                   round(
                       list_sum(list_transform(range(1, 65),
                                i -> q_emb[i]::DOUBLE * c_emb[i]::DOUBLE))
                       / (sqrt(list_sum(list_transform(q_emb, x -> x::DOUBLE * x::DOUBLE)))
                          * sqrt(list_sum(list_transform(c_emb, x -> x::DOUBLE * x::DOUBLE)))),
                       6) AS cosine_sim
            FROM cand
        ),
        ranked AS (
            SELECT q_id, c_id, cosine_sim,
                   row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY cosine_sim DESC NULLS LAST, c_id
                   ) AS rank
            FROM scored
        )
        SELECT q_id AS query_id, c_id AS neighbor_id, cosine_sim,
               CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {TOP_K}
    """


@register("embeddings_lsh_ann", oracle=lsh_oracle_sql(), headline=True, tags=("similarity", "approx"))
def embeddings_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane (sign) LSH — the scale path.

    16 deterministic hyperplanes (seeded per-dimension pseudo-random signs
    derived from md5, so the plan is reproducible with no driver-side
    state), giving a 16-bit bucket per vector; 4 x 4-bit bands turn that
    into candidate buckets. MULTI-PROBE (Lv et al., "Multi-probe LSH",
    VLDB'07): each query additionally probes the 4 keys at Hamming
    distance 1 within every band — near-miss buckets are where near
    neighbors land when one hyperplane cuts between them. Probing
    replicates only the tiny query side (4 bands x 5 keys per query);
    measured recall@10 vs the exact top-k rises from ~0.45 to ~0.9
    (tests/test_ann_recall.py) at ~2.5x the candidate verifications.
    Candidates join on (band, band_key); exact cosine re-ranks.
    Approximate -> rows-only check.
    """
    e = load_table(spark, sf_dir, "embeddings")

    vec = e.select("vec_id", "embedding", lsh_planes_lit().alias("planes"))
    # 16-bit signature: bit p set iff dot(embedding, plane_p) > 0
    sig = vec.select(
        "vec_id",
        "embedding",
        lsh_sig_expr(F.col("embedding"), F.col("planes")).alias("sig"),
    )
    band = F.explode(F.sequence(F.lit(0), F.lit(LSH_BANDS - 1))).alias("band")
    banded = sig.select("vec_id", "embedding", "sig", band).withColumn(
        "band_key", lsh_band_key_expr()
    )
    q = banded.where(F.col("vec_id") < N_QUERIES).withColumn(
        "band_key",
        F.explode(
            F.array(
                F.col("band_key"),
                *[
                    F.col("band_key").bitwiseXOR(F.lit(1 << b))
                    for b in range(LSH_BAND_BITS)
                ],
            )
        ),
    )
    c = banded.where(F.col("vec_id") >= N_QUERIES)
    # Score BEFORE the candidate dedup, then distinct on (q_id, c_id,
    # cosine_sim): the cosine is a pure function of the pair, so a pair
    # meeting in several bands/probes carries identical rows and the
    # distinct result is row-identical to dedup-then-score — but the
    # dedup exchange now ships 24-byte rows instead of two 64-float
    # embedding payloads per row (guide §2.3, shuffle metadata not
    # payloads; ~20x fewer shuffle bytes). This is exactly the shape the
    # stored-index probe (ann_index.lsh_probe) already uses, so the
    # fused/stored row-identity pin holds by construction.
    scored = (
        F.broadcast(q.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"), "band", "band_key"))
        .join(
            c.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"), "band", "band_key"),
            ["band", "band_key"],
        )
        .select(
            "q_id", "c_id", F.round(cosine(F.col("q_emb"), F.col("c_emb")), 6).alias("cosine_sim")
        )
        .distinct()
    )
    return cosine_topk_epilogue(scored)


@register("embeddings_ivf_ann", oracle=None, headline=True, tags=("similarity", "approx"))
def embeddings_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize candidates to 8 spherical k-means
    centroids, probe the nearest 6 per query, exact cosine within probes.
    The fit runs on the driver over one Spark read of the candidate
    sample; every candidate gets its cell from the shuffle-free
    ``nearest_cell`` expression, as in the stored index (ann_index.py).

    At 100 TB the candidate table is stored bucketed by centroid_id, so a
    probe reads only nprobe/nlist of the data (partition pruning on the
    cluster column). Approximate -> rows-only check.

    nprobe choice (sweep at sf0.001/sf0.01/sf0.1, recall@5 vs exact):
    nprobe=3 -> 0.71, 4 -> 0.83, 6 -> 0.94 (min 0.92), 8 -> 1.0. The
    synthetic vectors are isotropic, so recall ~= probed fraction; 6/8
    holds the pinned >=0.85 floor with margin. On real (clustered)
    embeddings the same recall comes at nprobe/nlist ~ 0.1 or less —
    the knob trades scan fraction for recall, the plan shape is unchanged.
    """
    # zero-norm vectors have no direction: they can never score above a
    # cosine threshold (cosine is NULL) and have no place on the unit
    # sphere the fit clusters on — exclude up front
    e = load_table(spark, sf_dir, "embeddings").where(
        l2_norm(F.col("embedding")) > 0
    )
    # fit on the candidates only: the query vectors are not part of the
    # indexed corpus (build_ivf_index fits on the same rows, so the stored
    # index and this fused form hold the same cells)
    cand = e.where(F.col("vec_id") >= N_QUERIES)
    centroids = spherical_centroids(cand.select("vec_id", "embedding"), 8)
    cdf = spark.createDataFrame(centroids, ["centroid_id", "centroid"]).select(
        "centroid_id", F.col("centroid").cast("array<double>").alias("centroid")
    )
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    # nearest 6 of 8 centroids per query (centroid table is tiny ->
    # broadcast): probing several Voronoi cells recovers neighbors sitting
    # just across a cell boundary
    qc = F.broadcast(q).crossJoin(F.broadcast(cdf)).select(
        "q_id",
        "q_emb",
        "centroid_id",
        cosine(F.col("q_emb"), F.col("centroid")).alias("c_sim"),
    )
    wq = W.partitionBy("q_id").orderBy(F.col("c_sim").desc(), F.col("centroid_id"))
    probes = qc.withColumn("p", F.row_number().over(wq)).where(F.col("p") <= 6).select(
        "q_id", "q_emb", "centroid_id"
    )
    cands = cand.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_emb"),
        nearest_cell(F.col("embedding"), centroids).alias("centroid_id"),
    )
    scored = F.broadcast(probes).join(cands, "centroid_id").select(
        "q_id", "c_id", F.round(cosine(F.col("q_emb"), F.col("c_emb")), 6).alias("cosine_sim")
    )
    return cosine_topk_epilogue(scored)


@register(
    "embeddings_norm_stats",
    oracle="""
        SELECT label,
               count(*) AS n_vectors,
               round(avg(sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))), 4)
                   AS avg_l2_norm
        FROM embeddings
        GROUP BY label
    """,
    tags=("similarity", "agg"),
)
def embeddings_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector-norm statistics — array higher-order aggregation."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", l2_norm(F.col("embedding")).alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("norm"), 4).alias("avg_l2_norm"),
        )
    )


@register(
    "embeddings_cosine_near_dups",
    oracle="""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(
                   list_sum(list_transform(range(1, 65),
                            i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
                   / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
                      * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))),
                   6) AS cosine_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round(
                  list_sum(list_transform(range(1, 65),
                           i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
                  / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
                     * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))),
                  6) >= 0.4
    """,
    tags=("dedup", "similarity"),
)
def embeddings_cosine_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a, b) with a < b and
    cosine(a, b) >= threshold — the semantic-dedup primitive of an LLM data
    pipeline (exact variant).

    This exact all-pairs form is the oracle baseline; at 100 TB the
    candidate pairs come from the same hyperplane-LSH banding as
    ``embeddings_lsh_ann`` (join on band keys, verify cosine within
    buckets), so the O(n^2) cross join never materializes.

    The O(n^2) it does run is BLOCKED: rows are bucketed into NB blocks by
    key, each row is replicated to every block-pair group it participates
    in, and one Arrow-batched ``applyInPandas`` kernel computes the
    sub-block similarity matrix in numpy — vectorized float64 multiply-add
    over the pair grid instead of a per-pair expression tree (~20x over the
    codegen'd 64-term chain), with no driver-side collect/broadcast of the
    matrix. Accumulation is dimension-sequential (left-to-right, matching
    DuckDB's list_sum evaluation order) rather than BLAS-pairwise, so
    round(6) agrees with the oracle bit-for-bit.
    """
    NEAR_DUP_THRESHOLD = 0.4  # synthetic corpus: max pairwise cos ~0.51
    NB = 8  # block count: replication factor <= NB per side, NB*(NB+1)/2 tasks
    import numpy as np
    import pandas as pd

    # NULL embeddings have no direction (and would shape-break the numpy
    # stack); excluded on both engines — the oracle carries the same WHERE
    e = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    ).select(
        "vec_id", "embedding", F.pmod(F.col("vec_id"), F.lit(NB)).alias("blk")
    )
    # row in block k joins groups (k, j>=k) as side A and (i<=k, k) as side B
    a_rep = e.select(
        "vec_id",
        "embedding",
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(NB - 1))).alias("bj"),
        F.lit("a").alias("side"),
    )
    b_rep = e.select(
        "vec_id",
        "embedding",
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        F.lit("b").alias("side"),
    )
    both = a_rep.unionByName(b_rep)

    def block_sims(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        av = pdf[pdf["side"] == "a"]
        bv = pdf[pdf["side"] == "b"]
        if len(av) == 0 or len(bv) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine_sim": "float64"}
            )
        xa = np.stack(av["embedding"].to_numpy()).astype(np.float64)
        xb = np.stack(bv["embedding"].to_numpy()).astype(np.float64)
        ia = av["vec_id"].to_numpy()
        ib = bv["vec_id"].to_numpy()
        dim = xa.shape[1]
        # dimension-sequential accumulation == the oracle's left-to-right sum
        dots = np.multiply.outer(xa[:, 0], xb[:, 0])
        na = xa[:, 0] * xa[:, 0]
        nb = xb[:, 0] * xb[:, 0]
        for k in range(1, dim):
            dots += np.multiply.outer(xa[:, k], xb[:, k])
            na += xa[:, k] * xa[:, k]
            nb += xb[:, k] * xb[:, k]
        sims = np.round(dots / np.multiply.outer(np.sqrt(na), np.sqrt(nb)), 6)
        if bi == bj:
            # same id set on both sides: upper triangle dedups the mirror
            keep = (ia[:, None] < ib[None, :]) & (sims >= NEAR_DUP_THRESHOLD)
            ra, rb = np.nonzero(keep)
            id_a, id_b = ia[ra], ib[rb]
        else:
            # disjoint blocks meet exactly once (as whichever side ordering
            # this group carries) — orient each pair, never drop it
            ra, rb = np.nonzero(sims >= NEAR_DUP_THRESHOLD)
            id_a = np.minimum(ia[ra], ib[rb])
            id_b = np.maximum(ia[ra], ib[rb])
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cosine_sim": sims[ra, rb]})

    return both.groupBy("bi", "bj").applyInPandas(
        block_sims, "id_a bigint, id_b bigint, cosine_sim double"
    )


@register("embeddings_semantic_dedup", oracle=None, tags=("similarity", "dedup", "approx"))
def embeddings_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster embeddings
    with spherical k-means, then flag near-duplicates ONLY within each
    cluster — the scale path for semantic dedup, turning the O(n^2)
    all-pairs cosine into k independent O((n/k)^2) blocks.

    Recall fix over vanilla single-assignment SemDeDup: each vector is
    MULTI-ASSIGNED to its nearest NPROBE centroid cells (the data-side
    twin of IVF's query-side multi-probe), so a dup pair is caught if the
    two vectors share ANY of their probed cells. Single-assignment k=8
    measured recall 0.56 on this isotropic data; NPROBE=3 measures ~0.9+
    (floor 0.85 pinned in tests/test_semantic_dedup.py). Replication
    factor is NPROBE, not pair-count — the blocks stay executor-sized.

    Keep rule: a vector is a duplicate iff some LOWER-vec_id vector shares
    a probed cell and has cosine >= threshold; `dup_of` is the smallest
    such id across all shared cells (greedy lowest-id representative —
    deterministic, no iteration).

    Plan: one driver-side spherical k-means fit over one Spark read of
    the hash sample (``spherical_centroids``), NPROBE-way explode,
    one shuffle to group by cell, an Arrow-batched `applyInPandas` numpy
    kernel per cell, then a per-vector min/max merge of the probe verdicts.
    At 100 TB the primary cell is the storage bucketing key, k scales with
    corpus size so blocks stay executor-sized, and no cross-cell pair is
    ever materialized. Approximate -> rows-only gate.
    """
    SEMDEDUP_THRESHOLD = 0.4  # same scale as embeddings_cosine_near_dups
    K = 8
    NPROBE = 3
    import numpy as np
    import pandas as pd

    # direction-less (zero-norm) vectors can't be semantic duplicates and
    # have no place on the unit sphere — excluded, same rule as the IVF operator
    e = load_table(spark, sf_dir, "embeddings").where(
        l2_norm(F.col("embedding")) > 0
    )
    centroids = spherical_centroids(e.select("vec_id", "embedding"), K)
    cdf = spark.createDataFrame(centroids, ["cell_id", "centroid"]).select(
        "cell_id", F.col("centroid").cast("array<double>").alias("centroid")
    )
    # nearest NPROBE cells per vector (centroid table is tiny -> broadcast)
    scored_cells = e.select("vec_id", "embedding").crossJoin(F.broadcast(cdf)).select(
        "vec_id",
        "embedding",
        "cell_id",
        cosine(F.col("embedding"), F.col("centroid")).alias("c_sim"),
    )
    wv = W.partitionBy("vec_id").orderBy(F.col("c_sim").desc(), F.col("cell_id"))
    probed = (
        scored_cells.withColumn("p", F.row_number().over(wv))
        .where(F.col("p") <= NPROBE)
        .select("vec_id", "embedding", "cell_id", (F.col("p") == 1).alias("primary"))
    )

    out_schema = "vec_id long, cell_id int, primary boolean, dup_of long"

    def dedup_cell(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        sims = x @ x.T  # intra-cell block only — bounded by cell size
        ids = pdf["vec_id"].to_numpy()
        n = len(ids)
        dup_of = np.full(n, -1, dtype=np.int64)
        for i in range(1, n):  # rows sorted by vec_id: look only backwards
            hits = np.nonzero(sims[i, :i] >= SEMDEDUP_THRESHOLD)[0]
            if len(hits):
                dup_of[i] = ids[hits[0]]  # lowest-id in this cell
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell_id": key[0],
                "primary": pdf["primary"].to_numpy(),
                "dup_of": dup_of,
            }
        )

    verdicts = probed.groupBy("cell_id").applyInPandas(dedup_cell, out_schema)
    # merge the NPROBE verdicts per vector: dup iff any cell found a lower-id
    # neighbor; representative = the smallest such id; report the primary cell
    return verdicts.groupBy("vec_id").agg(
        F.max(F.when(F.col("primary"), F.col("cell_id"))).alias("cluster_id"),
        F.min(F.when(F.col("dup_of") >= 0, F.col("dup_of"))).alias("_rep"),
    ).select(
        "vec_id",
        "cluster_id",
        F.col("_rep").isNotNull().alias("is_dup"),
        F.coalesce("_rep", F.lit(-1)).alias("dup_of"),
    )


K_NN_GRAPH = 5  # neighbors per vector in the exact k-NN graph
NB_KNN = 8  # data-side block count for the blocked all-pairs scan

# THE shared k-NN oracle CTE — single definition composed into every
# DuckDB oracle that consumes the exact k-NN adjacency
# (embeddings_knn_graph here; indegree / pagerank / label-consistency in
# operators/graph.py). Previously pasted verbatim in three files, where a
# drift in one copy could slip past whichever queries sat outside the
# active gate window.
KNN_ORACLE_RANKED_CTE = """
        sims AS (
            SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                   round(
                       list_sum(list_transform(range(1, 65),
                                i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
                       / (sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)))
                          * sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))),
                       6) AS cosine_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
            WHERE a.embedding IS NOT NULL AND b.embedding IS NOT NULL
              AND list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE)) > 0
              AND list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)) > 0
        ),
        ranked AS (
            SELECT vec_id, neighbor_id, cosine_sim,
                   row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY cosine_sim DESC, neighbor_id
                   ) AS rank
            FROM sims
        )"""

KNN_ORACLE_EDGES_CTE = f"""{KNN_ORACLE_RANKED_CTE},
        edges AS (
            SELECT vec_id, neighbor_id FROM ranked WHERE rank <= {K_NN_GRAPH}
        )"""


@register(
    "embeddings_knn_graph",
    oracle=f"""
        WITH {KNN_ORACLE_RANKED_CTE}
        SELECT vec_id, neighbor_id, CAST(rank AS INT) AS rank, cosine_sim
        FROM ranked WHERE rank <= {K_NN_GRAPH}
    """,
    headline=True,
    tags=("similarity", "graph"),
)
def embeddings_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine k-NN graph: every vector's top-K most similar
    neighbors with their rank — the adjacency list that feeds semantic
    clustering, graph-based dedup (SemDeDup-style but exact), and
    retrieval-index evaluation (ANN recall is measured against exactly
    this graph; tests/test_ann_recall.py builds it ad hoc — this is the
    first-class operator form).

    Scale shape: the O(n^2) similarity scan is BLOCKED, not a cross join
    — data side hashes into NB_KNN blocks, query side replicates to each
    block group (same query-side-only replication as the LSH/IVF probes:
    shuffled volume is n*NB rows, never n^2). Each group's numpy kernel
    emits only its LOCAL top-K per query row (K*n*NB candidate rows
    total), and a final per-vector window merges block-local winners into
    the global top-K — a classic distributed top-k merge, so the full
    similarity matrix never hits a shuffle. Per-block ordering and the
    final window use the identical (rounded sim DESC, neighbor_id) key,
    which makes the local-prune provably lossless. Accumulation is
    dimension-sequential to match the oracle's list_sum order (see
    embeddings_cosine_near_dups); at 100 TB the same plan runs with NB
    scaled to keep data blocks executor-sized, or swaps the exact scan
    for the IVF partition-pruned probe when approximate recall suffices.
    """
    import numpy as np
    import pandas as pd

    # NULL and ZERO-NORM embeddings excluded on both engines: NULLs have
    # no direction (and numpy-stack shape hazards); a zero vector's cosine
    # is 0/0 — the kernel's isfinite guard silently DROPPED its rows while
    # the oracle emitted NULL-sim rows, a confirmed row-count divergence.
    # The shared oracle CTE carries the same two predicates.
    e = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull() & (l2_norm(F.col("embedding")) > 0)
    ).select(
        "vec_id", "embedding", F.pmod(F.col("vec_id"), F.lit(NB_KNN)).alias("blk")
    )
    # query side: every vector visits every block; data side: own block only
    q_rep = e.select(
        "vec_id",
        "embedding",
        F.explode(F.sequence(F.lit(0), F.lit(NB_KNN - 1))).alias("bj"),
        F.lit("q").alias("side"),
    )
    d_rep = e.select(
        "vec_id", "embedding", F.col("blk").alias("bj"), F.lit("d").alias("side")
    )
    both = q_rep.unionByName(d_rep)

    def block_topk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        qs = pdf[pdf["side"] == "q"]
        ds = pdf[pdf["side"] == "d"]
        empty = pd.DataFrame(
            {"vec_id": [], "neighbor_id": [], "cosine_sim": []}
        ).astype({"vec_id": "int64", "neighbor_id": "int64", "cosine_sim": "float64"})
        if len(qs) == 0 or len(ds) == 0:
            return empty
        xq = np.stack(qs["embedding"].to_numpy()).astype(np.float64)
        xd = np.stack(ds["embedding"].to_numpy()).astype(np.float64)
        iq = qs["vec_id"].to_numpy()
        idn = ds["vec_id"].to_numpy()
        dim = xq.shape[1]
        # dimension-sequential accumulation == the oracle's list_sum order
        dots = np.multiply.outer(xq[:, 0], xd[:, 0])
        nq = xq[:, 0] * xq[:, 0]
        nd = xd[:, 0] * xd[:, 0]
        for k in range(1, dim):
            dots += np.multiply.outer(xq[:, k], xd[:, k])
            nq += xq[:, k] * xq[:, k]
            nd += xd[:, k] * xd[:, k]
        sims = np.round(dots / np.multiply.outer(np.sqrt(nq), np.sqrt(nd)), 6)
        sims[iq[:, None] == idn[None, :]] = -np.inf  # mask self-pairs
        out_v, out_n, out_s = [], [], []
        kk = min(K_NN_GRAPH, sims.shape[1])
        for r in range(sims.shape[0]):
            # block-local top-K under the SAME key as the final window:
            # (sim DESC, neighbor_id ASC) — lexsort is stable, last key wins
            order = np.lexsort((idn, -sims[r]))[:kk]
            keep = order[np.isfinite(sims[r][order])]
            out_v.extend([iq[r]] * len(keep))
            out_n.extend(idn[keep])
            out_s.extend(sims[r][keep])
        return pd.DataFrame(
            {"vec_id": out_v, "neighbor_id": out_n, "cosine_sim": out_s}
        ).astype({"vec_id": "int64", "neighbor_id": "int64", "cosine_sim": "float64"})

    cand = both.groupBy("bj").applyInPandas(
        block_topk, "vec_id bigint, neighbor_id bigint, cosine_sim double"
    )
    w = W.partitionBy("vec_id").orderBy(F.col("cosine_sim").desc(), "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= K_NN_GRAPH)
        .select("vec_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cosine_sim")
    )
