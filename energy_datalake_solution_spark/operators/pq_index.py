"""Product-quantization ANN: 32x-compressed codes + asymmetric-distance scan.

The third leg of the stored-ANN tier (IVF and LSH are in ann_index.py).
IVF answers "read fewer BYTES per query by pruning cells"; PQ answers the
orthogonal 100 TB question: "make the bytes you DO scan 32x smaller".
Following public FAISS practice (Jegou, Douze, Schmid, "Product
Quantization for Nearest Neighbor Search", TPAMI 2011):

  * ``train_pq_codebooks`` — split the unit-normalized 64-dim embedding
    into M=16 subvectors of 4 dims; per subspace, fit K=16 centroids with
    deterministic Lloyd k-means (farthest-point init, no RNG) on a
    hash-sampled training set. Train cost is O(M * K * sample) —
    corpus-size-independent, the FAISS posture.
  * ``build_pq_index`` — encode every candidate as M uint4 centroid ids
    (16 4-bit codes = 8 B vs 64 float32 = 256 B, a 32x smaller payload)
    with one vectorized numpy pass per Arrow batch, committed through
    the snapshot table format beside an M*K-row codebooks table, so the
    index is versioned/rollback-able like any table.
  * ``pq_probe`` — asymmetric distance computation (ADC): per query,
    precompute the M*K lookup table of <query subvector, codeword> inner
    products; scan the CODES (never the raw vectors) scoring each
    candidate as a sum of M table lookups — a pure built-in
    ``aggregate(sequence(...))`` expression, JVM-side whole-stage
    codegen, no Python in the corpus-sized pass. The ADC top-REFINE
    survivors per query are re-ranked by EXACT cosine against the raw
    embeddings (a broadcast-able REFINE*n_queries-row join), so emitted
    scores are exact and only recall is approximate — the same
    contract as the IVF/LSH probes (floor pinned in
    tests/test_ann_recall.py).

At 100 TB: the ADC scan reads ~3% of the raw-vector bytes, the LUTs are
(n_queries * M * K) doubles broadcast with a counted driver cap
(PROBE_DRIVER_BATCH_CAP, same guard as the IVF/LSH probes — above the
cap, LUT construction moves into a vectorized pandas UDF on the query
side and the join drops the broadcast hint), and the exact re-rank
touches REFINE rows per query. Composing with IVF (IVF-PQ) multiplies
the two savings; kept separate here so each is measured in isolation.

Reference parity: the reference's query registry (scripts/
main_analytics.py:26-43) has no ANN tier; this extends the engine's
LLM-data-pipeline surface from public literature only.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from pathlib import Path
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vector import cosine, l2_norm
from ..plans.registry import register
from ..sources.catalog import load_table, path_tag
from ..sources.snapshots import (
    snapshot_files,
    snapshot_read,
    snapshot_write,
)
from .ann_index import PROBE_DRIVER_BATCH_CAP, _probe_batch_capped
from .similarity import (
    N_QUERIES,
    TOP_K,
    cosine_topk_epilogue,
    lloyd_deterministic,
    train_sample,
)

PQ_M = 16         # subspaces (64 dims -> 4 dims each)
PQ_K = 16         # centroids per subspace (4-bit codes)
PQ_DIM = 64
PQ_SUB = PQ_DIM // PQ_M
PQ_REFINE = 16 * TOP_K  # ADC survivors per query fed to the exact re-rank
# (M, K, REFINE) picked by a measured sweep (SCALING.md §PQ): M=16/K=16
# is 16 4-bit codes = 8 B/vector (32x vs 64 float32) at recall 0.90-0.98
# on the isotropic fixture; 8x8-dim subspaces needed refine=120 for the
# same recall. REFINE is per-query CONSTANT re-rank work — it does not
# scale with the corpus.
PQ_TRAIN_CAP = 4096     # training sample cap (FAISS trains PQ on ~K*256)
PQ_ITERS = 20


def _unit_rows(df: DataFrame) -> DataFrame:
    """(vec_id, unit) with unit = embedding / ||embedding||, zero-norm
    rows dropped — PQ inner products approximate cosine only on the unit
    sphere, matching the exact paths' zero-norm guard."""
    norm = l2_norm(F.col("embedding"))
    return df.where(norm > 0).select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double") / norm).alias(
            "unit"
        ),
    )


def train_pq_codebooks(
    spark: SparkSession, sf_dir: str, n_queries: int = N_QUERIES
) -> "object":
    """(M, K, SUB) float64 codebooks trained on the candidate set (query
    vectors excluded, as in every other stored-index build)."""
    import numpy as np

    e = _unit_rows(load_table(spark, sf_dir, "embeddings")).where(
        F.col("vec_id") >= n_queries
    )
    X = train_sample(e, PQ_TRAIN_CAP)
    books = np.stack(
        [
            lloyd_deterministic(X[:, m * PQ_SUB : (m + 1) * PQ_SUB], PQ_K, PQ_ITERS)
            for m in range(PQ_M)
        ]
    )
    return books


def _encode_batches(books: "object"):
    """mapInPandas encoder: one vectorized argmin per (batch, subspace) —
    numpy over Arrow batches, never per-row Python."""
    import numpy as np
    import pandas as pd

    def enc(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(pdf["unit"].tolist(), dtype=np.float64)
            codes = np.empty((len(X), PQ_M), dtype=np.int32)
            for m in range(PQ_M):
                sub = X[:, m * PQ_SUB : (m + 1) * PQ_SUB]
                C = books[m]
                d = (
                    (sub * sub).sum(1)[:, None]
                    - 2.0 * (sub @ C.T)
                    + (C * C).sum(1)[None, :]
                )
                codes[:, m] = d.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].values, "codes": list(codes)}
            )

    return enc


_CODES_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ]
)


def build_pq_index(
    spark: SparkSession,
    sf_dir: str,
    index_root: str | Path,
    n_queries: int = N_QUERIES,
) -> "object":
    """Train codebooks, encode the candidate corpus, commit both through
    the snapshot format. Returns the codebooks array (cached by callers
    the way ann_index caches centroids)."""
    root = Path(index_root)
    books = train_pq_codebooks(spark, sf_dir, n_queries)
    cand = _unit_rows(load_table(spark, sf_dir, "embeddings")).where(
        F.col("vec_id") >= n_queries
    )
    codes = cand.mapInPandas(_encode_batches(books), schema=_CODES_SCHEMA)
    snapshot_write(codes, root / "codes")
    rows = [
        (m, k, [float(x) for x in books[m, k]])
        for m in range(PQ_M)
        for k in range(PQ_K)
    ]
    cb = spark.createDataFrame(rows, ["m", "k", "codeword"]).select(
        F.col("m").cast("int"),
        F.col("k").cast("int"),
        F.col("codeword").cast("array<double>"),
    )
    snapshot_write(cb, root / "codebooks")
    return books


def _lut_for(q_emb: list, books: "object") -> list:
    """Flat M*K inner-product lookup table for one unit query vector."""
    import numpy as np

    q = np.asarray(q_emb, dtype=np.float64)
    nrm = float(np.sqrt((q * q).sum()))
    if nrm > 0:
        q = q / nrm
    lut = np.empty(PQ_M * PQ_K)
    for m in range(PQ_M):
        lut[m * PQ_K : (m + 1) * PQ_K] = books[m] @ q[m * PQ_SUB : (m + 1) * PQ_SUB]
    return [float(x) for x in lut]


# The corpus-sized ADC pass: sum of M table lookups per (query, code) pair,
# expressed with built-in higher-order functions only — whole-stage
# codegen, no Python. element_at is 1-based, hence the +1s.
_ADC_EXPR = (
    f"aggregate(sequence(0, {PQ_M - 1}), cast(0.0 as double), "
    f"(acc, m) -> acc + element_at(lut, m * {PQ_K} + element_at(codes, m + 1) + 1))"
)


def pq_probe(
    spark: SparkSession,
    queries: DataFrame,
    index_root: str | Path,
    books: "object" = None,
    top_k: int = TOP_K,
    refine: int = PQ_REFINE,
    sf_dir: str | None = None,
    driver_batch_cap: int = PROBE_DRIVER_BATCH_CAP,
) -> DataFrame:
    """ADC scan + exact re-rank. ``queries``: (q_id, q_emb).

    Under ``driver_batch_cap`` the LUTs are built driver-side (numpy) and
    the query frame is broadcast; above it, LUT construction moves into a
    vectorized pandas UDF on the query side and the join is a plain
    shuffle — same counted-cap contract as ivf_probe/lsh_probe (the
    driver never collects an unbounded frame)."""
    import numpy as np

    root = Path(index_root)
    if books is None:
        cb = snapshot_read(spark, root / "codebooks").toPandas()
        books = np.zeros((PQ_M, PQ_K, PQ_SUB))
        for r in cb.itertuples():
            books[r.m, r.k] = r.codeword
    codes = snapshot_read(spark, root / "codes")

    rows, fits = _probe_batch_capped(queries.select("q_id", "q_emb"), driver_batch_cap)
    if fits and not rows:  # empty-lake sweep: no queries -> empty result
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine_sim double, rank int"
            if sf_dir is not None else "q_id long, c_id long"
        )
    if fits:
        lut_rows = [(r["q_id"], _lut_for(r["q_emb"], books)) for r in rows]
        qlut = spark.createDataFrame(lut_rows, ["q_id", "lut"]).select(
            F.col("q_id").cast("long"), F.col("lut").cast("array<double>")
        )
        qlut = F.broadcast(qlut)
    else:
        bbooks = spark.sparkContext.broadcast(books)
        lut_schema = T.StructType(
            [
                T.StructField("q_id", T.LongType()),
                T.StructField("lut", T.ArrayType(T.DoubleType())),
            ]
        )

        def lut_batches(it):
            import pandas as pd

            bk = bbooks.value
            for pdf in it:
                if not len(pdf):
                    continue
                yield pd.DataFrame(
                    {
                        "q_id": pdf["q_id"].values,
                        "lut": [_lut_for(e, bk) for e in pdf["q_emb"]],
                    }
                )

        qlut = queries.select(
            F.col("q_id").cast("long"), "q_emb"
        ).mapInPandas(lut_batches, schema=lut_schema)

    scored = qlut.crossJoin(codes).select(
        "q_id", F.col("vec_id").alias("c_id"), F.expr(_ADC_EXPR).alias("adc")
    )
    w = W.partitionBy("q_id").orderBy(F.col("adc").desc(), F.col("c_id"))
    survivors = (
        scored.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= refine)
        .select("q_id", "c_id")
    )
    if sf_dir is not None:
        cand = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
        )
        # re-rank query side: broadcast only under the cap (above it the
        # frame is unbounded by contract — plain shuffle join on q_id)
        exact = queries.select("q_id", "q_emb")
        if fits:
            exact = F.broadcast(exact)
        rescored = (
            survivors.join(cand, "c_id")
            .join(exact, "q_id")
            .select(
                "q_id",
                "c_id",
                F.round(cosine(F.col("q_emb"), F.col("c_emb")), 6).alias(
                    "cosine_sim"
                ),
            )
        )
        return cosine_topk_epilogue(rescored, top_k)
    return survivors


_PQ_INDEX_CACHE: dict[tuple[int, str], tuple[str, "object"]] = {}


def _pq_index_for(spark: SparkSession, sf_dir: str) -> tuple[str, "object"]:
    key = (os.getpid(), str(sf_dir))
    cached = _PQ_INDEX_CACHE.get(key)
    if cached and (Path(cached[0]) / "codes" / "_latest").exists():
        return cached
    root = str(
        Path(tempfile.gettempdir()) / f"pq_index_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(root, ignore_errors=True)
    books = build_pq_index(spark, sf_dir, root)
    _PQ_INDEX_CACHE[key] = (root, books)
    return root, books


@register("embeddings_pq_probe", oracle=None, headline=True, tags=("similarity", "approx"))
def embeddings_pq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN against the stored 32x-compressed code table.

    First invocation per (process, corpus) trains + encodes + commits the
    index; every later one is probe-only: M*K-double LUT per query, a
    built-in aggregate() ADC scan over the codes (never the raw vectors),
    exact cosine re-rank of the top-PQ_REFINE survivors. Approximate ->
    rows-only driver check; recall floor and exact-score pins live in
    tests/test_ann_recall.py. The 100 TB claim is byte-shaped: the
    corpus-sized pass reads 8-int codes instead of 64-float vectors."""
    index_root, books = _pq_index_for(spark, sf_dir)
    q = _unit_rows(load_table(spark, sf_dir, "embeddings")).where(
        F.col("vec_id") < N_QUERIES
    ).select(F.col("vec_id").alias("q_id"), F.col("unit").alias("q_emb"))
    return pq_probe(spark, q, index_root, books=books, sf_dir=sf_dir)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cells prune FILES, residual PQ codes shrink the BYTES of
# whatever is read — FAISS's IndexIVFPQ, the composition every
# billion-vector deployment actually runs. Cells are the IVF story
# (manifest-stats file pruning on centroid_id); within a cell, each vector
# is stored as 16 4-bit codes of its RESIDUAL against the cell centroid
# (residual encoding concentrates the quantizer's budget on the part of
# the vector the coarse step didn't explain — Jegou et al. §IV.B). ADC
# adds the exact query-centroid inner product back per (query, cell), so
# the score is <q, centroid> + <q, decoded residual>.
# ---------------------------------------------------------------------------

IVFPQ_NLIST = 8
IVFPQ_NPROBE = 7   # isotropic fixture: recall tracks probed fraction
IVFPQ_REFINE = 24 * TOP_K  # 120; recall saturates here (IVF stage caps it)

_IVFPQ_CELLS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("centroid_id", T.IntegerType()),
        T.StructField("codes", T.ArrayType(T.IntegerType())),
    ]
)


def build_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    index_root: str | Path,
    nlist: int = IVFPQ_NLIST,
    n_queries: int = N_QUERIES,
) -> tuple["object", "object"]:
    """Train coarse centroids + residual codebooks on the hash sample,
    then ONE vectorized pass (assign -> residual -> encode) over the
    corpus, committed range-partitioned by centroid_id with per-file
    stats — the same layout-IS-the-index posture as build_ivf_index.
    Returns (centroids (nlist, 64), books (M, K, SUB))."""
    import numpy as np

    root = Path(index_root)
    cand = _unit_rows(load_table(spark, sf_dir, "embeddings")).where(
        F.col("vec_id") >= n_queries
    )
    X = train_sample(cand, PQ_TRAIN_CAP)
    cents = lloyd_deterministic(X, nlist, PQ_ITERS)
    nrm = np.sqrt((cents * cents).sum(1))
    cents = cents / np.maximum(nrm[:, None], 1e-12)
    assign = (X @ cents.T).argmax(1)
    resid = X - cents[assign]
    books = np.stack(
        [
            lloyd_deterministic(resid[:, m * PQ_SUB : (m + 1) * PQ_SUB], PQ_K, PQ_ITERS)
            for m in range(PQ_M)
        ]
    )

    def enc(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            U = np.array(pdf["unit"].tolist(), dtype=np.float64)
            cid = (U @ cents.T).argmax(1)
            R = U - cents[cid]
            codes = np.empty((len(U), PQ_M), dtype=np.int32)
            for m in range(PQ_M):
                sub = R[:, m * PQ_SUB : (m + 1) * PQ_SUB]
                C = books[m]
                d = (
                    (sub * sub).sum(1)[:, None]
                    - 2.0 * (sub @ C.T)
                    + (C * C).sum(1)[None, :]
                )
                codes[:, m] = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "centroid_id": cid.astype(np.int32),
                    "codes": list(codes),
                }
            )

    cells = cand.mapInPandas(enc, schema=_IVFPQ_CELLS_SCHEMA)
    snapshot_write(cells, root / "cells", stats_cols=["centroid_id"], n_files=nlist)
    crows = [(i, [float(x) for x in cents[i]]) for i in range(len(cents))]
    cdf = spark.createDataFrame(crows, ["centroid_id", "centroid"]).select(
        F.col("centroid_id").cast("int"), F.col("centroid").cast("array<double>")
    )
    snapshot_write(cdf, root / "centroids")
    brows = [
        (m, k, [float(x) for x in books[m, k]])
        for m in range(PQ_M)
        for k in range(PQ_K)
    ]
    bdf = spark.createDataFrame(brows, ["m", "k", "codeword"]).select(
        F.col("m").cast("int"), F.col("k").cast("int"),
        F.col("codeword").cast("array<double>"),
    )
    snapshot_write(bdf, root / "codebooks")
    return cents, books


# per-(query, cell) ADC: base = <q, centroid>, lut indexed by residual code
_IVFPQ_ADC_EXPR = (
    f"base + aggregate(sequence(0, {PQ_M - 1}), cast(0.0 as double), "
    f"(acc, m) -> acc + element_at(lut, m * {PQ_K} + element_at(codes, m + 1) + 1))"
)


def ivfpq_probe(
    spark: SparkSession,
    queries: DataFrame,
    index_root: str | Path,
    centroids: "object" = None,
    books: "object" = None,
    nprobe: int = IVFPQ_NPROBE,
    top_k: int = TOP_K,
    refine: int = IVFPQ_REFINE,
    sf_dir: str | None = None,
    driver_batch_cap: int = PROBE_DRIVER_BATCH_CAP,
) -> DataFrame:
    """IVF-PQ probe: per query pick nprobe cells, prune the cells table's
    FILES to them via manifest stats, EQUI-join the (query, cell) probe
    rows against the pruned 8-byte codes, ADC-score, exact re-rank.

    Under the cap the probe rows (n_queries * nprobe, each carrying base
    + a flat M*K residual LUT) are built driver-side and broadcast; the
    over-cap form builds them in mapInPandas and shuffle-joins on
    centroid_id without the file prune's driver IN-list (the counted-cap
    idiom shared by every stored-index probe here)."""
    import numpy as np

    root = Path(index_root)
    if centroids is None or books is None:
        cdf = snapshot_read(spark, root / "centroids").toPandas()
        nlist = int(cdf["centroid_id"].max()) + 1
        centroids = np.zeros((nlist, PQ_DIM))
        for r in cdf.itertuples():
            centroids[r.centroid_id] = r.centroid
        bdf = snapshot_read(spark, root / "codebooks").toPandas()
        books = np.zeros((PQ_M, PQ_K, PQ_SUB))
        for r in bdf.itertuples():
            books[r.m, r.k] = r.codeword

    probe_schema = T.StructType(
        [
            T.StructField("q_id", T.LongType()),
            T.StructField("centroid_id", T.IntegerType()),
            T.StructField("base", T.DoubleType()),
            T.StructField("lut", T.ArrayType(T.DoubleType())),
        ]
    )

    def probe_rows_for(q_id: int, q_emb) -> list:
        q = np.asarray(q_emb, dtype=np.float64)
        n = float(np.sqrt((q * q).sum()))
        if n > 0:
            q = q / n
        sims = centroids @ q
        order = np.argsort(-sims)[: min(nprobe, len(centroids))]
        lut = np.empty(PQ_M * PQ_K)
        for m in range(PQ_M):
            lut[m * PQ_K : (m + 1) * PQ_K] = (
                books[m] @ q[m * PQ_SUB : (m + 1) * PQ_SUB]
            )
        flat = [float(x) for x in lut]
        return [
            (int(q_id), int(c), float(sims[c]), flat) for c in order
        ]

    rows, fits = _probe_batch_capped(queries.select("q_id", "q_emb"), driver_batch_cap)
    if fits and not rows:  # empty-lake sweep: no queries -> empty result
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine_sim double, rank int"
            if sf_dir is not None else "q_id long, c_id long"
        )
    if fits:
        probe_rows, probed = [], set()
        for r in rows:
            pr = probe_rows_for(r["q_id"], r["q_emb"])
            probe_rows.extend(pr)
            probed.update(c for _, c, _, _ in pr)
        probes = F.broadcast(spark.createDataFrame(probe_rows, probe_schema))
        cells = sorted(probed)
        files = snapshot_files(
            root / "cells", [{"centroid_id": (c, c)} for c in cells]
        )
        cand = (
            spark.read.schema(_IVFPQ_CELLS_SCHEMA)
            .parquet(*[str(root / "cells" / f) for f in files])
            .where(F.col("centroid_id").isin(cells))
        )
    else:
        bc = spark.sparkContext.broadcast((centroids, books))

        def probe_batches(it):
            import pandas as pd

            nonlocal_cents, nonlocal_books = bc.value
            out_cols = {"q_id": [], "centroid_id": [], "base": [], "lut": []}
            for pdf in it:
                for q_id, q_emb in zip(pdf["q_id"], pdf["q_emb"]):
                    for qq, cc, bb, ll in probe_rows_for(q_id, q_emb):
                        out_cols["q_id"].append(qq)
                        out_cols["centroid_id"].append(cc)
                        out_cols["base"].append(bb)
                        out_cols["lut"].append(ll)
                yield pd.DataFrame(out_cols)
                out_cols = {"q_id": [], "centroid_id": [], "base": [], "lut": []}

        probes = queries.select(
            F.col("q_id").cast("long"), "q_emb"
        ).mapInPandas(probe_batches, schema=probe_schema)
        cand = snapshot_read(spark, root / "cells")

    scored = probes.join(cand, "centroid_id").select(
        "q_id", F.col("vec_id").alias("c_id"),
        F.expr(_IVFPQ_ADC_EXPR).alias("adc"),
    )
    w = W.partitionBy("q_id").orderBy(F.col("adc").desc(), F.col("c_id"))
    survivors = (
        scored.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= refine)
        .select("q_id", "c_id")
    )
    if sf_dir is None:
        return survivors
    cand_raw = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )
    exact = queries.select("q_id", "q_emb")
    if fits:
        exact = F.broadcast(exact)
    rescored = (
        survivors.join(cand_raw, "c_id")
        .join(exact, "q_id")
        .select(
            "q_id", "c_id",
            F.round(cosine(F.col("q_emb"), F.col("c_emb")), 6).alias("cosine_sim"),
        )
    )
    return cosine_topk_epilogue(rescored, top_k)


_IVFPQ_INDEX_CACHE: dict[tuple[int, str], tuple[str, "object", "object"]] = {}


def _ivfpq_index_for(spark: SparkSession, sf_dir: str):
    key = (os.getpid(), str(sf_dir))
    cached = _IVFPQ_INDEX_CACHE.get(key)
    if cached and (Path(cached[0]) / "cells" / "_latest").exists():
        return cached
    root = str(
        Path(tempfile.gettempdir()) / f"ivfpq_index_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(root, ignore_errors=True)
    cents, books = build_ivfpq_index(spark, sf_dir, root)
    _IVFPQ_INDEX_CACHE[key] = (root, cents, books)
    return root, cents, books


@register(
    "embeddings_ivfpq_probe", oracle=None, headline=True,
    tags=("similarity", "approx"),
)
def embeddings_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN against the stored residual-coded cells — FAISS's
    IndexIVFPQ shape, the probe whose per-query cost multiplies IVF's
    file pruning (read nprobe/nlist of the files) by PQ's 32x byte
    shrink on what IS read. On the isotropic fixture nprobe must stay
    high (7/8 — recall tracks the probed fraction, same caveat as plain
    IVF; clustered corpora run nprobe=1-2); the BYTE win is unaffected:
    the scanned cells are 8 B codes, not 256 B vectors. Approximate ->
    rows-only; recall floor >= 0.85 and exact-score pins in
    tests/test_ann_recall.py."""
    index_root, cents, books = _ivfpq_index_for(spark, sf_dir)
    q = _unit_rows(load_table(spark, sf_dir, "embeddings")).where(
        F.col("vec_id") < N_QUERIES
    ).select(F.col("vec_id").alias("q_id"), F.col("unit").alias("q_emb"))
    return ivfpq_probe(
        spark, q, index_root, centroids=cents, books=books, sf_dir=sf_dir
    )


def pq_index_append(
    spark: SparkSession,
    batch: DataFrame,
    index_root: str | Path,
    txn: int | None = None,
    txn_app: str | None = None,
) -> int:
    """Incrementally add vectors to a stored PQ index: encode the batch
    with the EXISTING codebooks (no retrain — FAISS's add() semantics;
    codebooks are a statistical model of the distribution, not of the
    rows) and snapshot-append the codes. Optional (txn_app, txn) stamps
    give streaming ingestion the same exactly-once replay protection as
    every other snapshot append. Returns the codes table's new version."""
    import numpy as np

    from ..sources.snapshots import snapshot_append

    root = Path(index_root)
    cb = snapshot_read(spark, root / "codebooks").toPandas()
    books = np.zeros((PQ_M, PQ_K, PQ_SUB))
    for r in cb.itertuples():
        books[r.m, r.k] = r.codeword
    codes = _unit_rows(batch).mapInPandas(
        _encode_batches(books), schema=_CODES_SCHEMA
    )
    return snapshot_append(codes, root / "codes", txn=txn, txn_app=txn_app)


def ivfpq_index_append(
    spark: SparkSession,
    batch: DataFrame,
    index_root: str | Path,
    txn: int | None = None,
    txn_app: str | None = None,
) -> int:
    """Incrementally add vectors to a stored IVF-PQ index: assign each to
    its nearest existing centroid and residual-encode with the existing
    codebooks (FAISS add() — neither model retrains), appending the coded
    rows to the cells table with their centroid_id stats so the new file
    stays probe-prunable. Optional (app, txn) stamps for exactly-once
    streaming ingestion."""
    import numpy as np

    from ..sources.snapshots import _collect_stats, snapshot_append

    root = Path(index_root)
    cdf = snapshot_read(spark, root / "centroids").toPandas()
    nlist = int(cdf["centroid_id"].max()) + 1
    cents = np.zeros((nlist, PQ_DIM))
    for r in cdf.itertuples():
        cents[r.centroid_id] = r.centroid
    bdf = snapshot_read(spark, root / "codebooks").toPandas()
    books = np.zeros((PQ_M, PQ_K, PQ_SUB))
    for r in bdf.itertuples():
        books[r.m, r.k] = r.codeword

    def enc(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            U = np.array(pdf["unit"].tolist(), dtype=np.float64)
            cid = (U @ cents.T).argmax(1)
            R = U - cents[cid]
            codes = np.empty((len(U), PQ_M), dtype=np.int32)
            for m in range(PQ_M):
                sub = R[:, m * PQ_SUB : (m + 1) * PQ_SUB]
                C = books[m]
                d = (
                    (sub * sub).sum(1)[:, None]
                    - 2.0 * (sub @ C.T)
                    + (C * C).sum(1)[None, :]
                )
                codes[:, m] = d.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "centroid_id": cid.astype(np.int32),
                    "codes": list(codes),
                }
            )

    coded = _unit_rows(batch).mapInPandas(enc, schema=_IVFPQ_CELLS_SCHEMA)
    return snapshot_append(
        coded, root / "cells", txn=txn, txn_app=txn_app,
        stats_cols=["centroid_id"],
    )
