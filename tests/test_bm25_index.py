"""Stored BM25 index: incremental maintenance must converge to the full
build, and replayed appends must be idempotent per writer namespace."""

from __future__ import annotations

from pyspark.sql import functions as F

from energy_datalake_solution_spark.operators.retrieval import (
    BM25_QUERIES,
    bm25_index_append,
    bm25_probe,
    build_bm25_index,
    docs_bm25_topk,
)
from energy_datalake_solution_spark.sources.snapshots import current_version

from .conftest import SF_ORACLE

QT = [(qid, t) for qid, ts in BM25_QUERIES for t in ts]


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_append_converges_to_full_build(spark, tmp_path):
    """Index built on half the corpus + appended other half == the fused
    full-corpus query, row for row (scores included — the vocab/stats
    delta sums must reconstruct the exact global df/N/avgdl)."""
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    half_dir = tmp_path / "half"
    docs.where(F.col("doc_id") % 2 == 0).write.parquet(
        str(half_dir / "documents.parquet")
    )
    idx = tmp_path / "idx"
    build_bm25_index(spark, str(half_dir), idx)
    bm25_index_append(spark, docs.where(F.col("doc_id") % 2 == 1), idx)

    fused = _rows(docs_bm25_topk(spark, SF_ORACLE))
    stored = _rows(bm25_probe(spark, QT, idx))
    assert fused == stored


def test_append_is_idempotent_per_txn(spark, tmp_path):
    """A replayed (txn, app) batch must change nothing in any of the three
    index tables; a new txn must apply."""
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    base_dir = tmp_path / "base"
    docs.where(F.col("doc_id") < 100).write.parquet(
        str(base_dir / "documents.parquet")
    )
    idx = tmp_path / "idx"
    build_bm25_index(spark, str(base_dir), idx)

    batch = docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    bm25_index_append(spark, batch, idx, txn=1, txn_app="ingest")
    after_first = _rows(bm25_probe(spark, QT, idx))
    v_postings = current_version(idx / "postings")

    # replay: all three tables skip
    bm25_index_append(spark, batch, idx, txn=1, txn_app="ingest")
    assert current_version(idx / "postings") == v_postings
    assert _rows(bm25_probe(spark, QT, idx)) == after_first

    # a genuinely new batch under the next txn applies
    batch2 = docs.where(F.col("doc_id") >= 200)
    bm25_index_append(spark, batch2, idx, txn=2, txn_app="ingest")
    assert current_version(idx / "postings") == v_postings + 1
    assert _rows(bm25_probe(spark, QT, idx)) == _rows(
        docs_bm25_topk(spark, SF_ORACLE)
    )


def test_streaming_sink_maintains_index_exactly_once(spark, tmp_path):
    """Two streamed micro-batches of documents must land as one index
    version each, replays must no-op, and the final probe must equal the
    fused full-corpus query."""
    from energy_datalake_solution_spark.streaming.pipeline import (
        stream_bm25_index_sink,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    base_dir = tmp_path / "base"
    docs.where(F.col("doc_id") < 300).write.parquet(
        str(base_dir / "documents.parquet")
    )
    idx = tmp_path / "idx"
    build_bm25_index(spark, str(base_dir), idx)
    v0 = current_version(idx / "postings")

    src = tmp_path / "src"
    src.mkdir()
    late = docs.where(F.col("doc_id") >= 300).select("doc_id", "text")
    late.where(F.col("doc_id") < 400).coalesce(1).write.json(str(src / "b0"))
    late.where(F.col("doc_id") >= 400).coalesce(1).write.json(str(src / "b1"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src / "*"))
    )
    ckpt = tmp_path / "ckpt_bm25"
    q = stream_bm25_index_sink(stream, idx, ckpt)
    q.awaitTermination(120)
    assert current_version(idx / "postings") == v0 + 2  # one version per batch

    # crash replay through the same code path: all three tables skip
    before = current_version(idx / "postings")
    bm25_index_append(
        spark, late.where(F.col("doc_id") >= 400), idx, txn=1,
        txn_app=str(ckpt.resolve()),
    )
    assert current_version(idx / "postings") == before

    fused = _rows(docs_bm25_topk(spark, SF_ORACLE))
    assert _rows(bm25_probe(spark, QT, idx)) == fused


def test_compaction_restores_probe_pruning(spark, tmp_path):
    """Streamed appends tokenize whole batches, so their files span wide
    bucket ranges and single-bucket probes start listing them all;
    snapshot_compact with stats re-ranges the postings and the probe's
    file list shrinks back — Delta's OPTIMIZE-after-streaming loop on the
    index layout. Results must be identical before and after."""
    from energy_datalake_solution_spark.operators.retrieval import (
        BM25_INDEX_FILES,
    )
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_compact,
        snapshot_files,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    base_dir = tmp_path / "base"
    docs.where(F.col("doc_id") < 200).write.parquet(
        str(base_dir / "documents.parquet")
    )
    idx = tmp_path / "idx"
    build_bm25_index(spark, str(base_dir), idx)
    for lo, hi, txn in ((200, 300, 1), (300, 400, 2), (400, 600, 3)):
        bm25_index_append(
            spark,
            docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            idx, txn=txn, txn_app="ingest",
        )
    before_rows = _rows(bm25_probe(spark, QT, idx))
    # each append's files span the full bucket range: a one-bucket prune
    # still has to keep at least one file per append batch
    one_bucket = snapshot_files(idx / "postings", [{"term_bucket": (4, 4)}])
    assert len(one_bucket) >= 4  # base file + one per append

    snapshot_compact(
        spark, idx / "postings", target_files=BM25_INDEX_FILES,
        stats_cols=["term_bucket"],
    )
    one_bucket_after = snapshot_files(
        idx / "postings", [{"term_bucket": (4, 4)}]
    )
    assert len(one_bucket_after) < len(one_bucket)
    assert len(one_bucket_after) <= 2  # tight ranges again
    assert _rows(bm25_probe(spark, QT, idx)) == before_rows


def test_bm25_index_compact_folds_deltas(spark, tmp_path):
    """bm25_index_compact is the index's OPTIMIZE: postings re-range
    into per-bucket tight files, vocab's per-commit delta rows FOLD to
    one row per term (sum df), stats folds to one row — probe results
    identical, txn replay protection intact. The r15 10x measurement's
    lever: per-file overhead across 44 MOR-delta files was the probe's
    1.41x; folding restores the fresh-built listing."""
    from energy_datalake_solution_spark.operators.retrieval import (
        bm25_index_compact,
    )
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_files,
        snapshot_read,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    base_dir = tmp_path / "base"
    docs.where(F.col("doc_id") < 200).write.parquet(
        str(base_dir / "documents.parquet")
    )
    idx = tmp_path / "idx"
    build_bm25_index(spark, str(base_dir), idx)
    for lo, hi, txn in ((200, 300, 1), (300, 400, 2), (400, 600, 3)):
        bm25_index_append(
            spark,
            docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            idx, txn=txn, txn_app="ingest",
        )
    before_rows = _rows(bm25_probe(spark, QT, idx))
    vocab = snapshot_read(spark, idx / "vocab")
    n_delta_rows = vocab.count()
    n_terms = vocab.select("term_bucket", "term").distinct().count()
    assert n_delta_rows > n_terms  # appends left per-commit delta rows

    bm25_index_compact(spark, idx)

    # probe identical, vocab folded to one row per term, stats to 1 row
    assert _rows(bm25_probe(spark, QT, idx)) == before_rows
    assert snapshot_read(spark, idx / "vocab").count() == n_terms
    assert snapshot_read(spark, idx / "stats").count() == 1
    # postings back to tight per-bucket listings
    one_bucket = snapshot_files(idx / "postings", [{"term_bucket": (4, 4)}])
    assert len(one_bucket) <= 2
    # replay protection survived the full-table rewrites: re-sending an
    # already-applied txn must change nothing
    bm25_index_append(
        spark,
        docs.where((F.col("doc_id") >= 400) & (F.col("doc_id") < 600)),
        idx, txn=3, txn_app="ingest",
    )
    assert _rows(bm25_probe(spark, QT, idx)) == before_rows
    assert snapshot_read(spark, idx / "stats").count() == 1


def test_bm25_index_compact_folds_legacy_stats_rows(spark, tmp_path):
    """A stats table holding delta rows that PREDATE the n_text_docs
    column (the legacy shape _bm25_index_stats' coalesce supports) must
    fold to the same avgdl the merge-on-read path computes — a
    NULL-skipping sum would silently drop the legacy rows' text-doc
    counts and inflate every post-compaction score."""
    from energy_datalake_solution_spark.operators.retrieval import (
        bm25_index_compact,
    )
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_read,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    base_dir = tmp_path / "base"
    docs.where(F.col("doc_id") < 200).write.parquet(
        str(base_dir / "documents.parquet")
    )
    idx = tmp_path / "idx"
    build_bm25_index(spark, str(base_dir), idx)
    # a legacy-era delta row: (n_docs, sum_dl) only, no n_text_docs
    snapshot_append(
        spark.createDataFrame([(40, 4000)], "n_docs long, sum_dl long"),
        idx / "stats",
    )
    before_rows = _rows(bm25_probe(spark, QT, idx))
    bm25_index_compact(spark, idx)
    assert _rows(bm25_probe(spark, QT, idx)) == before_rows
    folded = snapshot_read(spark, idx / "stats").collect()
    assert len(folded) == 1
    # the legacy row's 40 docs count toward n_text_docs via coalesce
    assert folded[0]["n_text_docs"] == folded[0]["n_docs"]


def test_null_text_docs_count_toward_idf_but_not_avgdl(spark, tmp_path):
    """A corpus with NULL-text documents: the stored index's probe must
    reproduce the fused query exactly — N (idf) counts every row while
    avgdl skips NULL-text docs, and folding the two counts together
    deflates avgdl and shifts every score."""
    import duckdb

    from energy_datalake_solution_spark.operators.retrieval import (
        _bm25_query_values_sql,
        BM25_B,
        BM25_K1,
        BM25_TOPK,
    )

    base = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").limit(100)
    nulls = spark.createDataFrame(
        [(100000 + i, None, "en", "srcX", 0) for i in range(40)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    corpus = base.unionByName(nulls)
    lake = tmp_path / "lake"
    corpus.write.parquet(str(lake / "documents.parquet"))

    fused = _rows(docs_bm25_topk(spark, str(lake)))
    idx = tmp_path / "idx"
    build_bm25_index(spark, str(lake), idx)
    stored = _rows(bm25_probe(spark, QT, idx))
    assert fused == stored

    # cross-engine: the oracle on the same corpus agrees too
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{lake}/documents.parquet/*.parquet'"
    )
    from energy_datalake_solution_spark.plans.registry import QUERIES

    oracle_rows = {
        (r[0], int(r[1]), float(r[2]), int(r[3]))
        for r in con.execute(QUERIES["docs_bm25_topk"].oracle).fetchall()
    }
    got = {(a, int(b), float(c), int(d)) for a, b, c, d in stored}
    assert got == oracle_rows


def test_probe_tolerates_legacy_two_column_stats_schema(spark, tmp_path):
    """An index whose stats table predates the n_text_docs column (the
    folded 2-column schema) must still probe: merge-on-read falls back to
    n_docs for legacy delta rows, which is exact on corpora without
    NULL-text docs."""
    from energy_datalake_solution_spark.sources.snapshots import snapshot_write

    idx = tmp_path / "idx"
    build_bm25_index(spark, SF_ORACLE, idx)
    # rewrite the stats table in the LEGACY schema with equivalent totals
    import shutil

    r = spark.read.parquet(
        *[str(p) for p in (idx / "stats" / "data").rglob("*.parquet")]
    ).collect()[0]
    shutil.rmtree(idx / "stats")
    legacy = spark.createDataFrame(
        [(int(r.n_docs), int(r.sum_dl))], "n_docs long, sum_dl long"
    )
    snapshot_write(legacy, idx / "stats")

    fused = _rows(docs_bm25_topk(spark, SF_ORACLE))
    assert _rows(bm25_probe(spark, QT, idx)) == fused


def test_probe_resolves_query_columns_by_name(spark, tmp_path):
    """A query frame whose columns arrive ordered (term, query_id) must
    score identically to the canonical order in BOTH regimes: the
    under-cap driver path normalizes by name before its positional
    unpack, matching the distributed path's by-name keying."""
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    src = tmp_path / "src"
    docs.where(F.col("doc_id") < 300).write.parquet(
        str(src / "documents.parquet")
    )
    idx = tmp_path / "idx"
    build_bm25_index(spark, str(src), idx)
    canonical = spark.createDataFrame(QT, "query_id string, term string")
    swapped = canonical.select("term", "query_id")  # reversed order
    want = _rows(bm25_probe(spark, canonical, idx))
    assert _rows(bm25_probe(spark, swapped, idx)) == want
    # above-cap regime: same swapped frame through the distributed form
    assert _rows(bm25_probe(spark, swapped, idx, driver_batch_cap=2)) == want
