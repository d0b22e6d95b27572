"""Quality pins for the approximate (rows-only-gated) operators.

These operators can't hash-match an exact oracle at the driver gate
(probabilistic candidate generation), so their trustworthiness is pinned
here along two axes:

  * recall — the approximate candidate stage keeps a healthy fraction of
    the exact answer set (floors below measured with margin on this data);
  * verify-stage exactness — everything the operator DOES emit is exactly
    right: ANN cosine values equal the brute-force cosine, MinHash-LSH
    pairs carry the true (not estimated) Jaccard with zero false
    positives. Only recall is approximate; precision is exact.

Measured steady-state (sf0.001/sf0.01): multi-probe LSH ~0.92, spherical
IVF nprobe=6/8 ~0.92 (the synthetic vectors are isotropic, so IVF recall
tracks the probed fraction; see the operator docstring for the sweep);
MinHash-LSH candidate recall 1.0 (the corpus dups sit at J>0.9 where the
b=8/r=2 banding is ~certain).
"""

from __future__ import annotations

from energy_datalake_solution_spark.plans.registry import QUERIES, get_queries

from .conftest import SF_ORACLE
from .oracle_harness import duck_connection

get_queries()


def _exact_topk(spark):
    return QUERIES["embeddings_cosine_topk"].fn(spark, SF_ORACLE).toPandas()


def _recall(spark, approx_name, exact=None):
    exact = exact if exact is not None else _exact_topk(spark)
    approx = QUERIES[approx_name].fn(spark, SF_ORACLE).toPandas()
    e = exact.groupby("query_id")["neighbor_id"].apply(set)
    a = approx.groupby("query_id")["neighbor_id"].apply(set)
    per_q = [len(e[q] & a.get(q, set())) / len(e[q]) for q in e.index]
    return sum(per_q) / len(per_q), exact, approx


def _assert_values_exact(exact, approx):
    """Every (query, neighbor) the index returns must carry the exact
    brute-force cosine — the scoring stage is not allowed to approximate."""
    truth = {
        (r.query_id, r.neighbor_id): r.cosine_sim for r in exact.itertuples()
    }
    checked = 0
    for r in approx.itertuples():
        key = (r.query_id, r.neighbor_id)
        if key in truth:  # brute-force frame only materializes top-k rows
            assert r.cosine_sim == truth[key], key
            checked += 1
    assert checked > 0


def test_lsh_ann_recall_floor_and_exact_scores(spark):
    recall, exact, approx = _recall(spark, "embeddings_lsh_ann")
    assert recall >= 0.8
    _assert_values_exact(exact, approx)


def test_ivf_ann_recall_floor_and_exact_scores(spark):
    recall, exact, approx = _recall(spark, "embeddings_ivf_ann")
    assert recall >= 0.85
    _assert_values_exact(exact, approx)


def test_lsh_probe_stored_index_matches_fused_form(spark):
    """The stored-index LSH probe must return EXACTLY the fused
    embeddings_lsh_ann's results (same planes, same banding, same
    multi-probe keys — only the amortization differs), and hold the same
    recall floor."""
    recall, exact, approx = _recall(spark, "embeddings_lsh_probe")
    assert recall >= 0.8
    _assert_values_exact(exact, approx)
    fused = QUERIES["embeddings_lsh_ann"].fn(spark, SF_ORACLE).toPandas()
    key = ["query_id", "neighbor_id", "cosine_sim", "rank"]
    a = approx.sort_values(key).reset_index(drop=True)
    b = fused.sort_values(key).reset_index(drop=True)
    assert a[key].equals(b[key])


def test_ivf_probe_stored_index_matches_fused_form(spark):
    """The stored-index IVF probe must return EXACTLY the fused
    embeddings_ivf_ann's rows: both fit the same candidate sample with the
    same spherical k-means, put every candidate in a cell with the same
    expression and probe the same nearest cells per query — only the
    amortization differs."""
    probe = QUERIES["embeddings_ivf_probe"].fn(spark, SF_ORACLE).toPandas()
    fused = QUERIES["embeddings_ivf_ann"].fn(spark, SF_ORACLE).toPandas()
    key = ["query_id", "neighbor_id", "cosine_sim", "rank"]
    a = probe.sort_values(key).reset_index(drop=True)
    b = fused.sort_values(key).reset_index(drop=True)
    assert len(a) > 0
    assert a[key].equals(b[key])


def test_ivf_index_append_makes_new_vectors_findable(spark, tmp_path):
    """Incremental index maintenance: appending a batch to the stored IVF
    index (no rebuild) must make the new vectors immediately findable by
    a probe, leave prior files untouched (snapshot append), and keep the
    appended files prunable (stats merged into the manifest)."""
    import json

    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.functions.vector import l2_norm
    from energy_datalake_solution_spark.operators.ann_index import (
        build_ivf_index,
        clustered_embeddings,
        ivf_index_append,
        ivf_probe,
    )
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
    )

    d = tmp_path / "corpus"
    d.mkdir()
    full = clustered_embeddings(spark, n=1200, n_clusters=16)
    # initial corpus: vectors below 1000; the append batch: 1000-1199
    full.where(F.col("vec_id") < 1000).write.parquet(str(d / "embeddings.parquet"))
    idx = tmp_path / "idx"
    build_ivf_index(spark, str(d), idx, nlist=16)
    v1 = current_version(idx / "cells")
    batch = full.where(F.col("vec_id") >= 1000)
    v2 = ivf_index_append(spark, batch, idx)
    assert v2 == v1 + 1
    # snapshot append: every v1 file survives verbatim in v2's manifest
    m1, m2 = _read_manifest(idx / "cells", v1), _read_manifest(idx / "cells", v2)
    assert set(m1["files"]) < set(m2["files"])
    # stats merged: the new files are present in v2's stats map
    new_files = set(m2["files"]) - set(m1["files"])
    assert new_files & set(m2.get("stats", {}))
    # a probe whose query IS one of the appended vectors must find its
    # cluster siblings, including other appended vectors
    e = full.where(l2_norm(F.col("embedding")) > 0)
    q = e.where(F.col("vec_id") == 1005).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    hits = ivf_probe(spark, q, idx, nprobe=2).collect()
    assert len(hits) > 0
    # its nearest neighbors are same-cluster vectors (cluster = id % 16)
    assert all(r.neighbor_id % 16 == 1005 % 16 for r in hits)
    assert any(r.neighbor_id >= 1000 for r in hits)  # appended vecs findable


def test_ivf_index_append_lands_vectors_in_their_build_cells(spark, tmp_path):
    """The build and the incremental append put a vector in the same cell:
    re-appending every indexed vector under a new id must land each copy
    in the cell build_ivf_index gave the original. Isotropic vectors, so
    many sit near a cell boundary where two different assignment rules
    would disagree."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.operators.ann_index import (
        build_ivf_index,
        ivf_index_append,
    )
    from energy_datalake_solution_spark.sources.catalog import load_table
    from energy_datalake_solution_spark.sources.snapshots import snapshot_read

    offset = 1_000_000
    idx = tmp_path / "idx"
    build_ivf_index(spark, SF_ORACLE, idx)
    built = {
        r.vec_id: r.centroid_id
        for r in snapshot_read(spark, idx / "cells").select("vec_id", "centroid_id").collect()
    }
    assert len(set(built.values())) > 1
    batch = load_table(spark, SF_ORACLE, "embeddings").where(
        F.col("vec_id").isin(list(built))
    ).select((F.col("vec_id") + offset).alias("vec_id"), "embedding")
    ivf_index_append(spark, batch, idx)
    cells = {
        r.vec_id: r.centroid_id
        for r in snapshot_read(spark, idx / "cells").select("vec_id", "centroid_id").collect()
    }
    moved = {v: (c, cells.get(v + offset)) for v, c in built.items() if cells.get(v + offset) != c}
    assert not moved, f"{len(moved)} of {len(built)} re-appended vectors changed cell: {moved}"


def test_ivf_probe_stored_index_recall_floor_and_exact_scores(spark):
    """The amortized probe path (stored index, embeddings_ivf_probe) must
    hold the same floor as the fused-build operator, and its scores must
    be the exact brute-force cosines."""
    recall, exact, approx = _recall(spark, "embeddings_ivf_probe")
    assert recall >= 0.85
    _assert_values_exact(exact, approx)


def test_ivf_pruning_on_clustered_fixture(spark, tmp_path):
    """On CLUSTERED embeddings (the regime real corpora live in) the IVF
    index prunes an order of magnitude at high recall — the measured form
    of the 100 TB claim that isotropic data cannot demonstrate (there,
    recall tracks the probed fraction; SCALING.md §ANN carries the full
    sweep on both fixtures). nprobe=1 of nlist=32 must keep recall >= 0.85
    while verifying <= ~2/32 of the brute-force candidate set."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.functions.vector import l2_norm
    from energy_datalake_solution_spark.operators.ann_index import (
        build_ivf_index,
        clustered_embeddings,
        ivf_probe,
    )

    d = tmp_path / "clustered"
    d.mkdir()
    clustered_embeddings(spark, n=2000, n_clusters=32).write.parquet(
        str(d / "embeddings.parquet")
    )
    idx = tmp_path / "idx"
    build_ivf_index(spark, str(d), idx, nlist=32)
    exact = QUERIES["embeddings_cosine_topk"].fn(spark, str(d)).toPandas()
    e = spark.read.parquet(str(d / "embeddings.parquet")).where(
        l2_norm(F.col("embedding")) > 0
    )
    q = e.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    approx = ivf_probe(spark, q, idx, nprobe=1).toPandas()
    eg = exact.groupby("query_id")["neighbor_id"].apply(set)
    ag = approx.groupby("query_id")["neighbor_id"].apply(set)
    recall = sum(len(eg[qq] & ag.get(qq, set())) / len(eg[qq]) for qq in eg.index) / len(
        eg.index
    )
    assert recall >= 0.85, f"clustered nprobe=1 recall {recall:.3f}"
    # pruning: candidates verified = probed cell sizes; nprobe=1 of 32
    # roughly-balanced cells must verify way under a tenth of brute force
    from energy_datalake_solution_spark.sources.snapshots import snapshot_read

    sizes = {
        r.centroid_id: r.n
        for r in snapshot_read(spark, idx / "cells")
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    brute = len(eg.index) * e.where(F.col("vec_id") >= 10).count()
    # each query probes exactly 1 cell; bound candidates by the largest cell
    worst_cand = len(eg.index) * max(sizes.values())
    assert worst_cand * 10 <= brute, (
        f"pruning lost: worst-case candidates {worst_cand} vs brute {brute}"
    )


def test_clustered_headliner_pair_recall_floor(spark):
    """The benched clustered pair (embeddings_clustered_exact_topk vs
    embeddings_clustered_ivf_probe, 50k vectors / nprobe=2 of nlist=64):
    the probe's wall-clock win is only meaningful if its recall holds, so
    the floor is pinned on exactly the registered queries the bench times.
    Measured 1.0 on this corpus; floor 0.85 with margin."""
    exact = QUERIES["embeddings_clustered_exact_topk"].fn(spark, SF_ORACLE).toPandas()
    approx = QUERIES["embeddings_clustered_ivf_probe"].fn(spark, SF_ORACLE).toPandas()
    eg = exact.groupby("query_id")["neighbor_id"].apply(set)
    ag = approx.groupby("query_id")["neighbor_id"].apply(set)
    recall = sum(len(eg[q] & ag.get(q, set())) / len(eg[q]) for q in eg.index) / len(
        eg.index
    )
    assert recall >= 0.85, f"clustered headliner recall {recall:.3f}"
    _assert_values_exact(exact, approx)


def test_clustered_fixture_is_deterministic(spark):
    """Hash-derived generation: two independent evaluations produce
    bit-identical vectors (no RNG state, partition-split-independent)."""
    import numpy as np

    from energy_datalake_solution_spark.operators.ann_index import clustered_embeddings

    a = clustered_embeddings(spark, n=300, n_clusters=8).toPandas().sort_values("vec_id")
    b = (
        clustered_embeddings(spark, n=300, n_clusters=8)
        .repartition(7)  # different physical split must not change values
        .toPandas()
        .sort_values("vec_id")
    )
    assert (a.label.to_numpy() == b.label.to_numpy()).all()
    assert all(
        (np.asarray(x) == np.asarray(y)).all()
        for x, y in zip(a.embedding, b.embedding)
    )


def test_minhash_verify_stage_exact(spark):
    """docs_minhash_lsh_pairs: LSH only GENERATES candidates; membership
    and the reported jaccard come from exact shingle-set verification.
    Against a brute-force (uncapped) shingle-Jaccard reference: zero false
    positives, bit-equal jaccard values, and candidate recall >= 0.9."""
    out = QUERIES["docs_minhash_lsh_pairs"].fn(spark, SF_ORACLE).toPandas()
    con = duck_connection(SF_ORACLE)
    try:
        ref = con.execute("""
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ),
            shingles AS (
                SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
                FROM toks, UNNEST(range(1, len(w) - 1)) AS t(i)
                WHERE len(w) >= 3
            ),
            sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
            pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
                FROM shingles a JOIN shingles b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT p.doc_a, p.doc_b,
                   round(p.shared * 1.0 / (sa.n + sb.n - p.shared), 6) AS jaccard
            FROM pairs p
            JOIN sizes sa ON p.doc_a = sa.doc_id
            JOIN sizes sb ON p.doc_b = sb.doc_id
            WHERE p.shared * 1.0 / (sa.n + sb.n - p.shared) >= 0.5
        """).fetchdf()
    finally:
        con.close()
    emitted = {(r.doc_a, r.doc_b): r.jaccard for r in out.itertuples()}
    truth = {(r.doc_a, r.doc_b): r.jaccard for r in ref.itertuples()}
    assert truth, "test data lost its near-dup structure"
    false_pos = set(emitted) - set(truth)
    assert not false_pos, false_pos
    for key in emitted:
        assert emitted[key] == truth[key], key
    recall = len(set(emitted) & set(truth)) / len(truth)
    assert recall >= 0.9, f"minhash candidate recall {recall:.3f}"


def test_kmeans_train_sample_caps_and_is_deterministic(spark):
    """On a corpus above the cap, the shared training sampler returns near
    cap rows and the same rows across invocations; at-or-below the cap
    the input passes through untouched."""
    import numpy as np
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.operators.similarity import (
        TRAIN_SAMPLE_PER_CELL,
        train_sample,
    )

    k = 8
    cap = TRAIN_SAMPLE_PER_CELL * k
    big = spark.range(10 * cap).withColumnRenamed("id", "vec_id").withColumn(
        "embedding", F.array(F.col("vec_id").cast("double"))
    )
    s1 = train_sample(big, cap)
    n1 = len(s1)
    assert cap // 2 <= n1 <= 2 * cap  # hash-mod sampling, expected ~cap
    assert np.array_equal(s1, train_sample(big, cap))  # deterministic
    small = big.limit(cap)
    assert len(train_sample(small, cap)) == cap  # passthrough


def _plan_str(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_probe_batch_cap_routes_to_distributed_form(spark):
    """The stored-index probes' "model-sized by contract" is a COUNTED
    guard, not a comment: a query frame above driver_batch_cap routes to
    the distributed equi-join form (no driver collect of the batch) and
    returns exactly the rows the driver path returns. Plan-audited: the
    distributed plans carry no cartesian/nested-loop join."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.functions.vector import l2_norm
    from energy_datalake_solution_spark.operators.ann_index import (
        _ivf_index_for,
        _lsh_index_for,
        ivf_probe,
        lsh_probe,
    )
    from energy_datalake_solution_spark.operators.similarity import N_QUERIES

    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = e.where((F.col("vec_id") < N_QUERIES) & (l2_norm(F.col("embedding")) > 0)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    key = ["query_id", "neighbor_id", "cosine_sim", "rank"]

    ivf_root, cents = _ivf_index_for(spark, SF_ORACLE)
    via_driver = ivf_probe(spark, q, ivf_root, centroids=cents).toPandas()
    dist_df = ivf_probe(spark, q, ivf_root, centroids=cents, driver_batch_cap=3)
    plan = _plan_str(dist_df)
    assert "CartesianProduct" not in plan
    a = via_driver.sort_values(key).reset_index(drop=True)
    b = dist_df.toPandas().sort_values(key).reset_index(drop=True)
    assert a[key].equals(b[key]), "IVF distributed fallback drifted from driver path"

    lsh_root = _lsh_index_for(spark, SF_ORACLE)
    via_driver = lsh_probe(spark, q, lsh_root).toPandas()
    dist_df = lsh_probe(spark, q, lsh_root, driver_batch_cap=3)
    plan = _plan_str(dist_df)
    assert "CartesianProduct" not in plan
    a = via_driver.sort_values(key).reset_index(drop=True)
    b = dist_df.toPandas().sort_values(key).reset_index(drop=True)
    assert a[key].equals(b[key]), "LSH distributed fallback drifted from driver path"


def test_bm25_probe_cap_routes_to_distributed_form(spark):
    """Same counted-guard contract for the stored BM25 index: an over-cap
    (query_id, term) batch scores through shuffle equi-joins (no IN-list,
    no broadcast of the batch) and returns the driver path's exact rows."""
    from energy_datalake_solution_spark.operators.retrieval import (
        _bm25_index_for,
        bm25_probe,
    )

    root, stats = _bm25_index_for(spark, SF_ORACLE)
    terms = [("q0", "energy"), ("q0", "grid"), ("q1", "solar"), ("q1", "the")]
    via_driver = bm25_probe(spark, terms, root, stats=stats).toPandas()
    dist = bm25_probe(spark, terms, root, stats=stats, driver_batch_cap=2).toPandas()
    key = ["query_id", "doc_id", "bm25", "rank"]
    a = via_driver.sort_values(key).reset_index(drop=True)
    b = dist.sort_values(key).reset_index(drop=True)
    assert a[key].equals(b[key]), "BM25 distributed fallback drifted from driver path"


def test_bm25_probe_accepts_dataframe_batches(spark):
    """bm25_probe takes the query batch as a DataFrame too: under the cap
    it collects and follows the driver path; over the cap it routes to
    the distributed form — both must equal the list-input result."""
    from energy_datalake_solution_spark.operators.retrieval import (
        _bm25_index_for,
        bm25_probe,
    )

    root, stats = _bm25_index_for(spark, SF_ORACLE)
    terms = [("q0", "energy"), ("q0", "grid"), ("q1", "solar"), ("q1", "the")]
    expected = bm25_probe(spark, terms, root, stats=stats).toPandas()
    qdf = spark.createDataFrame(terms, "query_id string, term string")
    key = ["query_id", "doc_id", "bm25", "rank"]

    for cap in (100, 2):  # driver path, then forced distributed path
        got = bm25_probe(
            spark, qdf, root, stats=stats, driver_batch_cap=cap
        ).toPandas()
        a = expected.sort_values(key).reset_index(drop=True)
        b = got.sort_values(key).reset_index(drop=True)
        assert a[key].equals(b[key]), f"cap={cap} drifted from list input"


def test_pq_probe_recall_floor_and_exact_scores(spark):
    """Stored PQ index (16 4-bit codes/vector): ADC candidate recall with
    exact re-rank >= 0.85 (measured 0.98 at sf0.001/sf0.01, 0.90 at
    sf0.1), and every emitted (query, neighbor) carries the exact
    brute-force cosine — the ADC score never leaks into the output."""
    rec, exact, approx = _recall(spark, "embeddings_pq_probe")
    assert rec >= 0.85, rec
    _assert_values_exact(exact, approx)


def test_pq_codes_compressed_and_deterministic(spark, tmp_path):
    """The committed code table is PQ_M ints in [0, PQ_K) per vector (the
    32x-vs-float32 payload claim), and two independent builds over the
    same corpus produce byte-identical codes (deterministic farthest-point
    init + Lloyd — no RNG anywhere)."""
    from energy_datalake_solution_spark.operators import pq_index as P
    from energy_datalake_solution_spark.sources.snapshots import snapshot_read

    P.build_pq_index(spark, SF_ORACLE, tmp_path / "a")
    P.build_pq_index(spark, SF_ORACLE, tmp_path / "b")
    a = snapshot_read(spark, tmp_path / "a" / "codes").toPandas().sort_values("vec_id")
    b = snapshot_read(spark, tmp_path / "b" / "codes").toPandas().sort_values("vec_id")
    assert len(a) > 0 and len(a) == len(b)
    for codes in a["codes"]:
        assert len(codes) == P.PQ_M
        assert all(0 <= c < P.PQ_K for c in codes)
    assert a["codes"].apply(list).tolist() == b["codes"].apply(list).tolist()


def test_pq_probe_cap_routes_to_distributed_form(spark):
    """Same counted-guard contract as IVF/LSH: an over-cap query frame
    builds LUTs in a vectorized pandas UDF (no driver collect of the
    batch, no broadcast hint on the query side) and returns exactly the
    driver path's rows."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.operators.pq_index import (
        _pq_index_for,
        _unit_rows,
        pq_probe,
    )
    from energy_datalake_solution_spark.operators.similarity import N_QUERIES

    root, books = _pq_index_for(spark, SF_ORACLE)
    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = _unit_rows(e).where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("unit").alias("q_emb")
    )
    key = ["query_id", "neighbor_id", "cosine_sim", "rank"]
    via_driver = pq_probe(spark, q, root, books=books, sf_dir=SF_ORACLE).toPandas()
    dist = pq_probe(
        spark, q, root, books=books, sf_dir=SF_ORACLE, driver_batch_cap=3
    ).toPandas()
    a = via_driver.sort_values(key).reset_index(drop=True)
    b = dist.sort_values(key).reset_index(drop=True)
    assert a[key].equals(b[key]), "PQ distributed fallback drifted from driver path"


def test_ivfpq_probe_recall_floor_and_exact_scores(spark):
    """Stored IVF-PQ index (residual-coded cells): recall >= 0.85 after
    exact re-rank (measured 0.92 at sf0.01 / 0.90 at sf0.1 with
    nprobe=7, refine=120), emitted scores exact."""
    rec, exact, approx = _recall(spark, "embeddings_ivfpq_probe")
    assert rec >= 0.85, rec
    _assert_values_exact(exact, approx)


def test_ivfpq_cells_are_residual_coded_and_pruned(spark, tmp_path):
    """The committed cells table carries (centroid_id, 16 4-bit residual
    codes) per vector with per-file centroid_id stats, so a probe's
    file prune reads only the probed cells' files."""
    from energy_datalake_solution_spark.operators import pq_index as P
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_files,
        snapshot_read,
    )

    P.build_ivfpq_index(spark, SF_ORACLE, tmp_path / "ix")
    cells = snapshot_read(spark, tmp_path / "ix" / "cells").toPandas()
    assert len(cells) > 0
    assert set(cells.columns) == {"vec_id", "centroid_id", "codes"}
    for codes in cells["codes"]:
        assert len(codes) == P.PQ_M and all(0 <= c < P.PQ_K for c in codes)
    all_files = snapshot_files(
        tmp_path / "ix" / "cells",
        [{"centroid_id": (v, v)} for v in sorted(cells["centroid_id"].unique())],
    )
    c0 = int(cells["centroid_id"].iloc[0])
    one_cell = snapshot_files(
        tmp_path / "ix" / "cells", [{"centroid_id": (c0, c0)}]
    )
    assert len(one_cell) < len(all_files), "stats prune admitted every file"


def test_ivfpq_probe_cap_routes_to_distributed_form(spark):
    """Over-cap IVF-PQ batches build probe rows in mapInPandas and
    shuffle-join on centroid_id; result rows identical to the driver
    path."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.operators.pq_index import (
        _ivfpq_index_for,
        _unit_rows,
        ivfpq_probe,
    )
    from energy_datalake_solution_spark.operators.similarity import N_QUERIES

    root, cents, books = _ivfpq_index_for(spark, SF_ORACLE)
    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = _unit_rows(e).where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("unit").alias("q_emb")
    )
    key = ["query_id", "neighbor_id", "cosine_sim", "rank"]
    a = ivfpq_probe(
        spark, q, root, centroids=cents, books=books, sf_dir=SF_ORACLE
    ).toPandas().sort_values(key).reset_index(drop=True)
    b = ivfpq_probe(
        spark, q, root, centroids=cents, books=books, sf_dir=SF_ORACLE,
        driver_batch_cap=3,
    ).toPandas().sort_values(key).reset_index(drop=True)
    assert a[key].equals(b[key]), "IVF-PQ distributed fallback drifted"


def test_pq_index_append_makes_new_vectors_findable(spark, tmp_path):
    """Vectors appended to a stored PQ index (encoded with the existing
    codebooks, no retrain) are findable by the probe, score-exact; a
    replayed (app, txn) append lands exactly once."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.operators.pq_index import (
        _unit_rows,
        build_pq_index,
        pq_index_append,
        pq_probe,
    )
    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
        snapshot_read,
    )

    root = tmp_path / "ix"
    books = build_pq_index(spark, SF_ORACLE, root)
    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    # a synthetic batch that EXACTLY duplicates query vector 0 under new
    # ids: the probe must rank the duplicate at cosine 1.0, rank 1
    q0 = e.where(F.col("vec_id") == 0).select(
        F.lit(900000).cast("long").alias("vec_id"), "embedding"
    )
    pq_index_append(spark, q0, root, txn=1, txn_app="t")
    v = current_version(root / "codes")
    pq_index_append(spark, q0, root, txn=1, txn_app="t")  # replay: no-op
    assert current_version(root / "codes") == v
    assert (
        snapshot_read(spark, root / "codes")
        .where(F.col("vec_id") == 900000)
        .count()
        == 1
    )
    q = _unit_rows(e).where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("unit").alias("q_emb")
    )
    top = pq_probe(spark, q, root, books=books, sf_dir=SF_ORACLE).toPandas()
    # the exact duplicate is absent from the sf embeddings table, so the
    # re-rank can't score it — assert the ADC stage surfaced it instead
    surv = pq_probe(spark, q, root, books=books).toPandas()
    assert 900000 in set(surv["c_id"]), "appended vector missed by ADC scan"
    assert len(top) > 0


def test_ivfpq_index_append_stays_prunable_and_findable(spark, tmp_path):
    """Vectors appended to a stored IVF-PQ index land with centroid_id
    stats (the new file prunes like the originals) and the ADC scan
    surfaces them."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.operators.pq_index import (
        _unit_rows,
        build_ivfpq_index,
        ivfpq_index_append,
        ivfpq_probe,
    )
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
    )

    root = tmp_path / "ix"
    cents, books = build_ivfpq_index(spark, SF_ORACLE, root)
    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    dup = e.where(F.col("vec_id") == 0).select(
        F.lit(900000).cast("long").alias("vec_id"), "embedding"
    )
    ivfpq_index_append(spark, dup, root)
    m = _read_manifest(root / "cells", current_version(root / "cells"))
    newest = sorted(set(m["files"]) - set(m.get("stats", {})))  # none expected
    assert not newest, "appended file missing centroid_id stats"
    q = _unit_rows(e).where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("unit").alias("q_emb")
    )
    surv = ivfpq_probe(spark, q, root, centroids=cents, books=books).toPandas()
    assert 900000 in set(surv["c_id"]), "appended vector missed by IVF-PQ scan"


def test_pq_adc_scan_is_jvm_side(spark):
    """The corpus-sized ADC pass must stay inside whole-stage codegen: no
    Python evaluation node (BatchEvalPython/ArrowEvalPython/FlatMapsInPandas
    of the CODES side) may appear between the codes scan and the top-k —
    Python is allowed only on the model-sized query side."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.operators.pq_index import (
        _pq_index_for,
        _unit_rows,
        pq_probe,
    )
    from energy_datalake_solution_spark.operators.similarity import N_QUERIES

    root, books = _pq_index_for(spark, SF_ORACLE)
    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = _unit_rows(e).where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("unit").alias("q_emb")
    )
    plan = pq_probe(spark, q, root, books=books)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan
    # the ADC expression itself is in the JVM plan (higher-order aggregate
    # over the codes column), not hidden behind a Python stage
    assert "aggregate(" in plan and "codes" in plan


def test_lsh_index_append_stays_prunable_and_findable(spark, tmp_path):
    """Vectors appended to a stored LSH index land banded with tight bb
    stats (every appended file is prunable) and the probe finds them; a
    replayed (app, txn) append lands exactly once."""
    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.operators.ann_index import (
        build_lsh_index,
        lsh_index_append,
        lsh_probe,
    )
    from energy_datalake_solution_spark.sources.snapshots import (
        _read_manifest,
        current_version,
    )

    root = tmp_path / "ix"
    build_lsh_index(spark, SF_ORACLE, root)
    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    dup = e.where(F.col("vec_id") == 0).select(
        F.lit(900000).cast("long").alias("vec_id"), "embedding"
    )
    lsh_index_append(spark, dup, root, txn=1, txn_app="t")
    v = current_version(root / "buckets")
    lsh_index_append(spark, dup, root, txn=1, txn_app="t")  # replay
    assert current_version(root / "buckets") == v
    m = _read_manifest(root / "buckets", v)
    missing = [f for f in m["files"] if "bb" not in m.get("stats", {}).get(f, {})]
    assert not missing, f"appended files without bb stats: {missing}"
    q = e.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    top = lsh_probe(spark, q, root).toPandas()
    # an exact duplicate hashes into the same buckets in every band and
    # scores cosine 1.0 — it must lead the ranking
    assert 900000 in set(top["neighbor_id"]), "appended vector not found"
    lead = top.sort_values("rank").iloc[0]
    assert lead["neighbor_id"] == 900000 and lead["cosine_sim"] == 1.0
