"""Sparse retrieval and data-selection operators over ``documents``.

Two classic large-corpus operators the LLM-data tier still lacked:

  * **BM25 top-k retrieval** (Robertson & Zaragoza 2009, "The
    Probabilistic Relevance Framework: BM25 and Beyond") — the standard
    lexical ranking function, used in training-data pipelines for
    benchmark decontamination sweeps and retrieval-augmented filtering.
  * **DSIR importance weights** (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling") — per-document
    log-likelihood ratios between a target-domain and a raw-corpus
    hashed-n-gram model; sampling proportionally to these weights tilts a
    100 TB crawl toward a target distribution without training a model.

Plus the amortized form of the first: a STORED BM25 inverted index
(``build_bm25_index`` / ``docs_bm25_probe``) committed through the
snapshot table format, term-hash-bucketed with per-file manifest stats so
a probe IN-list-prunes the index files and never re-tokenizes the corpus
— the lexical twin of the IVF/LSH stored-index tier
(operators/ann_index.py), but exact, so the probe shares the fused
query's DuckDB oracle.

The reference has no text tier at all (its documents never leave S3
verbatim — reference: glue_jobs/dynamic-data-processor.py); these are
north-star surface like the rest of operators/text.py.

Scale shape (fused forms): one corpus explode scan, model-sized aggregate
state (query-term postings / 256 hash buckets), broadcast model join back
onto the stream, one final per-key shuffle. No UDFs — everything is
built-in split/md5/higher-order functions inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

import hashlib
import os
import shutil
import tempfile
from pathlib import Path

from ..plans.registry import QUERIES, register
from ..sources.catalog import load_table, path_tag, spread

# --------------------------------------------------------------------------
# BM25 top-k retrieval
# --------------------------------------------------------------------------

# Fixed query workload (terms drawn from the synthetic corpus vocabulary).
# A production pipeline would broadcast a benchmark's query set the same
# way — the shape only requires the query list to be executor-broadcastable.
BM25_QUERIES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("q_hash_join", ("hash", "join")),
    ("q_window_agg", ("window", "agg")),
    ("q_customer_order", ("customer", "order", "value")),
    ("q_slow_scan", ("slow", "scan")),
    ("q_spark_partition", ("spark", "table", "partition")),
)
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10


def _bm25_query_values_sql() -> str:
    rows = ", ".join(
        f"('{qid}', '{term}')" for qid, terms in BM25_QUERIES for term in terms
    )
    return f"(VALUES {rows})"


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, bm25) for every document matching any benchmark
    query — ONE definition of the fused scoring pipeline, shared by the
    top-k query (rank cut) and the decontamination report (threshold
    cut) so the idf/saturation/rounding conventions cannot drift."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.regexp_replace("text", "\n", " "), " ")
    docs = d.select("doc_id", w.alias("w"))

    # Two scalars over one scan — model-sized driver pull (precedent:
    # docs_tfidf_top_terms' n_docs count). avgdl is NULL on an empty
    # corpus (empty-lake sweep); any positive stand-in keeps the plan
    # valid — every downstream frame is already empty.
    n_docs, avgdl = docs.agg(F.count(F.lit(1)), F.avg(F.size("w"))).first()
    avgdl = float(avgdl) if avgdl else 1.0

    qterms = spark.createDataFrame(
        [(qid, t) for qid, terms in BM25_QUERIES for t in terms],
        "query_id string, term string",
    )
    all_terms = sorted({t for _, terms in BM25_QUERIES for t in terms})
    toks = (
        spread(docs)  # explode fans out ~100x per row: parallelize first
        .select("doc_id", F.size("w").alias("dl"), F.explode("w").alias("term"))
        .where(F.col("term").isin(all_terms))  # literal IN-list, scan-stage
    )
    tf = toks.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_part = (
        F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(float(avgdl)))
        )
    )
    return (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(idf * tf_part), 6).alias("bm25"))
    )


@register(
    "docs_bm25_topk",
    oracle=f"""
        WITH queries(query_id, term) AS {_bm25_query_values_sql()},
        t AS (
            SELECT doc_id,
                   string_split(replace(text, chr(10), ' '), ' ') AS w
            FROM documents
        ),
        stats AS (
            SELECT count(*) AS n_docs, avg(len(w)) AS avgdl FROM t
        ),
        toks AS (
            SELECT doc_id, len(w) AS dl, u.term
            FROM t, UNNEST(w) AS u(term)
        ),
        matched AS (SELECT * FROM toks WHERE term IN (SELECT term FROM queries)),
        tf AS (
            SELECT doc_id, dl, term, count(*) AS tf
            FROM matched GROUP BY doc_id, dl, term
        ),
        df AS (
            SELECT term, count(DISTINCT doc_id) AS df
            FROM matched GROUP BY term
        ),
        scored AS (
            SELECT q.query_id, tf.doc_id,
                   round(sum(
                       ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
                       * tf.tf * ({BM25_K1} + 1)
                       / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                          + {BM25_B} * tf.dl / stats.avgdl))
                   ), 6) AS bm25
            FROM tf
            JOIN queries q USING (term)
            JOIN df USING (term)
            CROSS JOIN stats
            GROUP BY q.query_id, tf.doc_id
        )
        SELECT query_id, doc_id, bm25,
               CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY bm25 DESC, doc_id
            ) AS rank
            FROM scored
        )
        WHERE rank <= {BM25_TOPK}
    """,
    tags=("text", "retrieval", "window"),
)
def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents per query under BM25 (k1=1.2, b=0.75), with
    Robertson's ln(1 + (N - df + .5)/(df + .5)) idf.

    Plan: the corpus token stream is FILTERED to query-vocabulary terms
    BEFORE any aggregation (an IN-list of literals, pushed into the scan
    stage), so postings, tf, and df aggregates are all sized by query-term
    matches, not the corpus. N and avgdl are one cheap full-scan aggregate
    (two scalars, computed driver-side — same precedent as the tfidf
    n_docs count). Query terms join as a broadcast literal frame; scoring
    is a matched-postings-sized groupBy((query, doc)); the top-k window
    partitions by query over score-sorted candidates. Scores are rounded
    to 6 BEFORE ranking so ordering is stable across engines.

    At 100 TB: the only corpus-sized work is the scan+explode (scan-bound,
    the best available regime); everything downstream is proportional to
    documents actually containing query terms. A benchmark-decontamination
    sweep with thousands of queries keeps the same plan — the query frame
    stays broadcast-sized and the matched-postings shuffle grows with true
    match volume only."""
    scored = _bm25_scored(spark, sf_dir)
    rank_w = W.partitionBy("query_id").orderBy(F.col("bm25").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .where(F.col("rank") <= BM25_TOPK)
        .select("query_id", "doc_id", "bm25", "rank")
    )


# --------------------------------------------------------------------------
# More-like-this: document-as-query BM25 retrieval
# --------------------------------------------------------------------------

MLT_N_QUERIES = 8   # query documents: doc_id < 8
MLT_TERMS = 5       # representative terms extracted per query document
MLT_TOPK = 10


@register(
    "docs_more_like_this",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   string_split(replace(text, chr(10), ' '), ' ') AS w
            FROM documents
        ),
        stats AS (
            SELECT count(*) AS n_docs, avg(len(w)) AS avgdl FROM t
        ),
        qtf AS (
            SELECT t.doc_id AS query_id, u.term, count(*) AS qtf
            FROM t, UNNEST(w) AS u(term)
            WHERE t.doc_id < {MLT_N_QUERIES} AND u.term <> ''
            GROUP BY t.doc_id, u.term
        ),
        qterms AS (
            SELECT query_id, term FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY qtf DESC, term
                ) AS r FROM qtf
            ) WHERE r <= {MLT_TERMS}
        ),
        toks AS (
            SELECT doc_id, len(w) AS dl, u.term
            FROM t, UNNEST(w) AS u(term)
        ),
        matched AS (SELECT * FROM toks WHERE term IN (SELECT term FROM qterms)),
        tf AS (
            SELECT doc_id, dl, term, count(*) AS tf
            FROM matched GROUP BY doc_id, dl, term
        ),
        df AS (
            SELECT term, count(DISTINCT doc_id) AS df
            FROM matched GROUP BY term
        ),
        scored AS (
            SELECT q.query_id, tf.doc_id,
                   round(sum(
                       ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
                       * tf.tf * ({BM25_K1} + 1)
                       / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                          + {BM25_B} * tf.dl / stats.avgdl))
                   ), 6) AS bm25
            FROM tf
            JOIN qterms q USING (term)
            JOIN df USING (term)
            CROSS JOIN stats
            WHERE tf.doc_id <> q.query_id
            GROUP BY q.query_id, tf.doc_id
        )
        SELECT query_id, doc_id, bm25,
               CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY bm25 DESC, doc_id
            ) AS rank
            FROM scored
        )
        WHERE rank <= {MLT_TOPK}
    """,
    tags=("text", "retrieval", "window"),
)
def docs_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More-like-this retrieval (Lucene's MLT, the doc-as-query form of
    BM25): each query DOCUMENT (doc_id < MLT_N_QUERIES) is reduced to its
    MLT_TERMS most frequent terms (tf desc, term asc — deterministic),
    those terms score the corpus under the standard BM25 pipeline, the
    query doc itself is excluded, and the top MLT_TOPK neighbors emerge
    per query. This is the lexical near-duplicate/expansion sweep a
    curation pipeline runs when it has exemplar documents rather than
    keyword queries.

    Plan: query-term extraction filters to the query docs BEFORE any
    explode (8 rows in, ~40 (query, term) rows out — model-sized, then
    broadcast). The corpus token stream is semi-joined against the
    distinct query vocabulary (a broadcast semi-join rather than the
    literal IN-list of docs_bm25_topk, because here the vocabulary is
    data-derived), so postings/tf/df are all match-sized. Scoring and
    ranking are the docs_bm25_topk shape exactly; self-matches drop
    before the group-by. At 100 TB: one corpus scan for the scalars, one
    for the match-filtered postings — the same scan-bound regime as the
    keyword form, with the exemplar set staying broadcast-sized."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.regexp_replace("text", "\\n", " "), " ")
    docs = d.select("doc_id", w.alias("w"))
    n_docs, avgdl = docs.agg(F.count(F.lit(1)), F.avg(F.size("w"))).first()
    avgdl = float(avgdl) if avgdl else 1.0

    qtf = (
        docs.where((F.col("doc_id") < MLT_N_QUERIES) & F.col("w").isNotNull())
        .select(F.col("doc_id").alias("query_id"), F.explode("w").alias("term"))
        .where(F.col("term") != "")
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
    )
    qrank = W.partitionBy("query_id").orderBy(F.col("qtf").desc(), "term")
    qterms = (
        qtf.withColumn("r", F.row_number().over(qrank))
        .where(F.col("r") <= MLT_TERMS)
        .select("query_id", "term")
    )
    vocab = qterms.select("term").distinct()
    toks = (
        spread(docs)
        .select("doc_id", F.size("w").alias("dl"), F.explode("w").alias("term"))
        .join(F.broadcast(vocab), "term", "left_semi")
    )
    tf = toks.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_part = (
        F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(float(avgdl)))
        )
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_), "term")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(idf * tf_part), 6).alias("bm25"))
    )
    rank_w = W.partitionBy("query_id").orderBy(F.col("bm25").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .where(F.col("rank") <= MLT_TOPK)
        .select("query_id", "doc_id", "bm25", "rank")
    )


# --------------------------------------------------------------------------
# DSIR importance weights
# --------------------------------------------------------------------------

DSIR_BUCKETS = 256  # hashed-bigram feature space (Xie et al. use 10k; the
# bucket count only scales the broadcast model table, not the plan)
DSIR_TARGET_LANG = "en"  # target domain: English documents


@register(
    "docs_dsir_weights",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang,
                   string_split(replace(text, chr(10), ' '), ' ') AS w
            FROM documents
        ),
        b AS (
            SELECT doc_id, lang,
                   ('0x' || substr(md5(w[g.i] || ' ' || w[g.i + 1]), 1, 15))::BIGINT
                       % {DSIR_BUCKETS} AS bucket
            FROM t, UNNEST(range(1, len(w))) AS g(i)
            WHERE len(w) >= 2
        ),
        model AS (
            SELECT bucket,
                   count(*) AS c_r,
                   sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS c_t
            FROM b GROUP BY bucket
        ),
        tot AS (SELECT sum(c_r) AS t_r, sum(c_t) AS t_t FROM model),
        scored AS (
            SELECT b.doc_id,
                   ln((model.c_t + 1.0) / (tot.t_t + {DSIR_BUCKETS}))
                   - ln((model.c_r + 1.0) / (tot.t_r + {DSIR_BUCKETS})) AS llr
            FROM b JOIN model USING (bucket) CROSS JOIN tot
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_features,
               round(avg(llr), 6) AS dsir_weight
        FROM scored GROUP BY doc_id
    """,
    headline=True,
    tags=("text", "selection", "featurize"),
)
def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight: the mean log-likelihood ratio
    of the document's hashed-bigram features under a Laplace-smoothed
    target-domain unigram-over-buckets model vs the raw-corpus model
    (Xie et al. 2023; target domain here = ``lang = 'en'`` documents,
    the stand-in for "looks like my curated set"). Sampling documents with
    probability proportional to exp(weight) performs the paper's
    importance resampling; the weight column alone already ranks documents
    by target-domain affinity.

    Feature hashing reuses the engine's md5 convention
    (docs_feature_hash_vectors): bucket = md5(w1 ' ' w2) mod 256, exact
    in both engines. Plan: one explode scan producing (doc, bucket,
    is-target) rows — the target indicator is a PER-ROW predicate on
    ``lang``, so no join touches the corpus; the model is a 256-row
    groupBy(bucket) aggregate whose totals fold in via an unpartitioned
    window over the model table (safe: model-sized, precedent
    corpus_vocabulary); scoring joins the stream to the BROADCAST model
    and aggregates per doc_id — one corpus shuffle total. avg() of f64
    logs is order-insensitive at round(6).

    At 100 TB: model state is O(DSIR_BUCKETS) regardless of corpus size;
    the per-doc aggregate is the same map-side-combined shape as
    docs_token_stats. Raising the bucket count to the paper's 10k changes
    only the broadcast table's size."""
    b = _dsir_bucketed(load_table(spark, sf_dir, "documents"))
    llr_model = dsir_llr_model(b).select("bucket", "llr")
    return (
        b.join(F.broadcast(llr_model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.round(F.avg("llr"), 6).alias("dsir_weight"),
        )
    )


def _dsir_bucketed(d: DataFrame) -> DataFrame:
    """(doc_id, is_target, bucket) — one row per bigram occurrence,
    bucketed by the engine's md5 convention. ONE definition of the
    tokenization + hashing shared by the registered query and the
    streaming scorer's trainer, so the two cannot drift."""
    w = F.split(F.regexp_replace("text", "\n", " "), " ")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(w) - 1),
        lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1)),
    )
    return (
        spread(d)  # bigram fan-out ~100x per row: parallelize first
        .where(F.size(w) >= 2)
        .select(
            "doc_id",
            (F.col("lang") == DSIR_TARGET_LANG).alias("is_target"),
            F.explode(bigrams).alias("bigram"),
        )
        .select(
            "doc_id",
            "is_target",
            F.pmod(
                F.conv(F.substring(F.md5("bigram"), 1, 15), 16, 10).cast("bigint"),
                F.lit(DSIR_BUCKETS),
            ).alias("bucket"),
        )
    )


def dsir_llr_model(b: DataFrame) -> DataFrame:
    """The DSIR model from a bucketed bigram stream: per-bucket raw/target
    counts plus the Laplace-smoothed log-likelihood ratio. Model-sized
    (<= DSIR_BUCKETS rows); the totals fold in via an unpartitioned window
    over the model table (safe: model-sized, precedent corpus_vocabulary).
    Returns (bucket, c_r, c_t, llr) so a streaming caller can also derive
    the unseen-bucket default ln((t_r + B) / (t_t + B)) from the counts."""
    model = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_r"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("c_t"),
    )
    tot = W.partitionBy()  # totals over the <=256-row model table
    return model.select(
        "bucket",
        "c_r",
        "c_t",
        (
            F.log(
                (F.col("c_t") + 1.0)
                / (F.sum("c_t").over(tot) + F.lit(float(DSIR_BUCKETS)))
            )
            - F.log(
                (F.col("c_r") + 1.0)
                / (F.sum("c_r").over(tot) + F.lit(float(DSIR_BUCKETS)))
            )
        ).alias("llr"),
    )


# --------------------------------------------------------------------------
# Stored BM25 inverted index — the amortized lexical-retrieval path
# --------------------------------------------------------------------------

BM25_INDEX_BUCKETS = 64  # term-hash buckets = the index's partition key
BM25_INDEX_FILES = 8     # files per index table (range-split on bucket)


def _term_bucket_col(term_col):
    """md5(term) mod BM25_INDEX_BUCKETS — the engine's md5 convention
    (docs_feature_hash_vectors), exact in Spark, DuckDB, and Python."""
    return F.pmod(
        F.conv(F.substring(F.md5(term_col), 1, 15), 16, 10).cast("bigint"),
        F.lit(BM25_INDEX_BUCKETS),
    ).cast("int")


def _py_term_bucket(term: str) -> int:
    return int(hashlib.md5(term.encode()).hexdigest()[:15], 16) % BM25_INDEX_BUCKETS


def _bm25_postings(docs: DataFrame) -> DataFrame:
    """(term_bucket, term, doc_id, dl, tf) postings rows for a documents
    frame — one tokenize scan + one (doc, term) map-side-combined
    aggregation. Shared by the full build and the incremental append so
    the two can never tokenize differently."""
    w = F.split(F.regexp_replace("text", "\n", " "), " ")
    base = docs.select("doc_id", w.alias("w"))
    toks = spread(base).select(
        "doc_id", F.size("w").alias("dl"), F.explode("w").alias("term")
    )
    return (
        toks.groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .select(
            _term_bucket_col(F.col("term")).alias("term_bucket"),
            "term",
            "doc_id",
            "dl",
            "tf",
        )
    )


def build_bm25_index(spark: SparkSession, sf_dir: str, index_root) -> tuple[int, float]:
    """Commit the corpus's BM25 inverted index through the snapshot format.

    Three tables under ``index_root``, all MERGE-ON-READ deltas so an
    ingest batch maintains them with pure appends (bm25_index_append):
      * ``postings`` — (term_bucket, term, doc_id, dl, tf), RANGE-split on
        term_bucket with per-file [min, max] bucket stats in the manifest:
        the storage layout IS the index, and a probe's IN-list file prune
        reads only the buckets its query terms hash into.
      * ``vocab`` — (term_bucket, term, df) DELTA rows, same layout; a
        term's document frequency is the SUM of its rows (one per
        build/append commit that saw the term).
      * ``stats`` — (n_docs, n_text_docs, sum_dl) DELTA rows; the probe
        sums them and derives avgdl = sum_dl / n_text_docs. The two doc
        counts differ on NULL-text documents: idf's N counts every row
        (the fused query's count(*)), while avgdl averages over docs that
        HAVE a token stream (the fused query's avg() skipping NULLs) —
        folding them together would silently deflate avgdl on corpora
        with NULL text.

    Build cost: ONE tokenize scan (the postings write); vocab and the
    dl stats derive from reading the just-committed postings files
    (postings-sized IO, no re-tokenize), and the row count is a
    parquet-metadata count. All three are versioned snapshot tables:
    rebuilds are new versions, readers keep consistent snapshots,
    rollback/vacuum work as for any table."""
    root = Path(index_root)
    from ..sources.snapshots import snapshot_read, snapshot_write

    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()  # metadata-only: parquet footer row counts

    postings = _bm25_postings(d)
    snapshot_write(
        postings, root / "postings", stats_cols=["term_bucket"],
        n_files=BM25_INDEX_FILES,
    )
    committed = snapshot_read(spark, root / "postings")
    vocab = committed.groupBy("term_bucket", "term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    snapshot_write(
        vocab, root / "vocab", stats_cols=["term_bucket"],
        n_files=BM25_INDEX_FILES,
    )
    n_text_docs, sum_dl = (
        committed.select("doc_id", "dl")
        .distinct()  # doc_id unique => one (doc, dl) row per tokenized doc
        .agg(F.count(F.lit(1)), F.sum("dl").cast("long"))
        .first()
    )
    n_text_docs = int(n_text_docs)
    sum_dl = int(sum_dl) if sum_dl is not None else 0
    stats = spark.createDataFrame(
        [(int(n_docs), n_text_docs, sum_dl)],
        "n_docs long, n_text_docs long, sum_dl long",
    )
    snapshot_write(stats, root / "stats")
    avgdl = (sum_dl / n_text_docs) if n_text_docs else 1.0
    return int(n_docs), avgdl


def bm25_index_append(
    spark: SparkSession,
    docs_batch: DataFrame,
    index_root,
    txn: int | None = None,
    txn_app: str | None = None,
) -> int:
    """Incrementally add a document batch to a STORED BM25 index without
    rebuilding: the batch's postings rows append to ``postings`` (with
    footer stats so manifest pruning keeps working), its per-term counts
    append as ``vocab`` delta rows, and its (n_docs, sum_dl) appends as a
    ``stats`` delta row — the probe's sum-on-read folds all three.
    Returns the new postings-table version.

    Contract: batch doc_ids must be NEW to the index (same as
    ivf_index_append's vec_ids) — a re-ingested doc_id would split its
    term frequencies across posting rows and BM25's tf saturation is
    nonlinear. With ``txn``/``txn_app`` each table's append is
    independently idempotent under the snapshot format's exactly-once
    protocol, so a replayed or partially-failed batch heals on retry
    (each table skips or applies its own missing piece). Cross-table
    consistency is per-table snapshot isolation, not a multi-table
    transaction: a probe racing an append may briefly see the batch in
    one table and not another — scores stay well-defined and converge on
    the next read, the same read-uncommitted-across-tables caveat as any
    multi-table lakehouse pipeline."""
    root = Path(index_root)
    from ..sources.snapshots import (
        current_version,
        last_txn,
        snapshot_append,
        snapshot_append_once,
    )

    # fully-applied replay: skip before ANY batch work runs; a PARTIAL
    # failure (some tables behind) falls through so each table's guarded
    # append heals its own missing piece
    if txn is not None and all(
        txn <= last_txn(root / t, txn_app) for t in ("postings", "vocab", "stats")
    ):
        return current_version(root / "postings")

    def _append(df, table, stats_cols=None):
        if txn is not None:
            return snapshot_append_once(
                df, table, txn, txn_app=txn_app, stats_cols=stats_cols
            )
        return snapshot_append(df, table, stats_cols=stats_cols)

    # ONE tokenize pass over the batch: the postings frame feeds the
    # append AND the vocab/dl-stats aggregates, so persist it (a replayed
    # batch skips all three appends before anything materializes)
    postings = _bm25_postings(docs_batch).persist()
    try:
        # CLUSTER the appended files by term_bucket (a few ranged files,
        # not default-parallelism arrival-ordered parts): each append
        # then adds ~1 file to any one bucket's pruned listing instead of
        # every part file — measured at sf0.1, 8 unclustered appends grew
        # a one-bucket listing 1 -> 257 files and probe latency 1.4x;
        # ranged appends keep the steady state near the fresh-built
        # index, and compaction still restores the single-file optimum
        ver = _append(
            postings.repartitionByRange(4, "term_bucket"),
            root / "postings",
            stats_cols=["term_bucket"],
        )
        vocab_delta = postings.groupBy("term_bucket", "term").agg(
            F.count(F.lit(1)).cast("long").alias("df")
        )
        _append(
            vocab_delta.repartitionByRange(2, "term_bucket"),
            root / "vocab",
            stats_cols=["term_bucket"],
        )
        b_docs = docs_batch.count()  # total rows, incl. NULL-text docs
        b_text, b_sum = (
            postings.select("doc_id", "dl")
            .distinct()
            .agg(F.count(F.lit(1)), F.sum("dl").cast("long"))
            .first()
        )
        stats_delta = spark.createDataFrame(
            [(int(b_docs), int(b_text), int(b_sum) if b_sum is not None else 0)],
            "n_docs long, n_text_docs long, sum_dl long",
        )
        _append(stats_delta, root / "stats")
    finally:
        postings.unpersist()
    return ver


def bm25_index_compact(
    spark: SparkSession, index_root, n_files: int = BM25_INDEX_FILES
) -> int:
    """OPTIMIZE a stored BM25 index back to its fresh-built shape — the
    round-15 10x-probe measurement's identified lever (44 MOR-delta
    postings files after 9 appends put per-file open/footer overhead at
    1.41x; compaction restores the per-bucket single-file listing):

    * ``postings`` — layout-only rewrite: range re-split on term_bucket
      into ``n_files`` files with fresh manifest stats, so a probe's
      bucket prune admits ~1 file per query-term bucket again
      (snapshot_compact; contents untouched);
    * ``vocab`` — delta FOLD: per-commit (term_bucket, term, df) rows
      collapse to one row per term (sum df — exactly the probe's
      sum-on-read), then range re-split; read-equivalent by the delta
      table's own contract;
    * ``stats`` — delta FOLD to a single (n_docs, n_text_docs, sum_dl)
      row (the probe sums these too).

    All three are ordinary versioned commits: time travel still sees
    every append generation, vacuum reclaims the small files, the
    conflict-safe loops fold (never drop) a racing append, and the
    txn replay map carries through so an ingest retry after compaction
    still no-ops. Returns the new postings-table version.

    At 100 TB: cost is one read+write of the index tables (NOT the
    corpus — no re-tokenize), embarrassingly range-parallel; run it on
    the maintenance cadence of any OPTIMIZE."""
    root = Path(index_root)
    from ..sources.snapshots import snapshot_compact

    ver = snapshot_compact(
        spark, root / "postings", n_files, stats_cols=["term_bucket"]
    )
    snapshot_compact(
        spark, root / "vocab",
        merge=lambda d: d.groupBy("term_bucket", "term").agg(
            F.sum("df").cast("long").alias("df")
        ),
        target_files=max(1, n_files // 2), stats_cols=["term_bucket"],
    )
    def _fold_stats(d: DataFrame) -> DataFrame:
        # mirror _bm25_index_stats' read EXACTLY: delta rows written
        # before the table carried n_text_docs coalesce to n_docs —
        # a NULL-skipping sum here would fold legacy rows' text-doc
        # counts away and permanently inflate every later avgdl
        n_text = (
            F.coalesce(F.col("n_text_docs"), F.col("n_docs"))
            if "n_text_docs" in d.columns
            else F.col("n_docs")
        )
        return d.agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum(n_text).cast("long").alias("n_text_docs"),
            F.sum("sum_dl").cast("long").alias("sum_dl"),
        )

    snapshot_compact(spark, root / "stats", merge=_fold_stats,
                     target_files=1)
    return ver


# Above this many (query_id, term) pairs the probe stops IN-listing terms
# into the scan filter and broadcasting the query frame, and runs the
# distributed form instead: file pruning from the Spark-side distinct
# bucket set (<= BM25_INDEX_BUCKETS ints), then shuffle equi-joins on term.
BM25_PROBE_DRIVER_CAP = 50_000


def bm25_probe(
    spark: SparkSession,
    query_terms,
    index_root,
    top_k: int = BM25_TOPK,
    stats: tuple[int, float] | None = None,
    driver_batch_cap: int = BM25_PROBE_DRIVER_CAP,
) -> DataFrame:
    """Probe a stored BM25 index: hash the query terms driver-side, prune
    the postings/vocab FILES to the buckets they land in via the manifest
    stats, then score the pruned postings against the broadcast query
    frame. No tokenize pass, no corpus scan — the steady-state lexical
    retrieval path. ``query_terms`` is [(query_id, term), ...] or a
    DataFrame with (query_id, term) columns; batches above
    ``driver_batch_cap`` pairs route to the distributed form (COUNTED,
    not assumed: file pruning from the <= BM25_INDEX_BUCKETS distinct
    probed buckets, shuffle joins on term, no IN-list, no broadcast)."""
    from ..sources.snapshots import snapshot_files, snapshot_read

    root = Path(index_root)
    out_schema = "query_id string, doc_id bigint, bm25 double, rank bigint"
    if isinstance(query_terms, DataFrame):
        # resolve columns BY NAME before the positional unpack below —
        # the distributed path keys by name, so a frame whose columns
        # arrive ordered (term, query_id) must not silently swap ids
        # under the cap while working above it
        query_terms = query_terms.select("query_id", "term")
        head = query_terms.limit(driver_batch_cap + 1).collect()
        if len(head) > driver_batch_cap:
            return _bm25_probe_distributed(
                spark, query_terms, root, top_k, stats
            )
        query_terms = [(r[0], r[1]) for r in head]
    elif len(query_terms) > driver_batch_cap:
        qdf_big = spark.createDataFrame(
            list(query_terms), "query_id string, term string"
        )
        return _bm25_probe_distributed(spark, qdf_big, root, top_k, stats)
    if not query_terms:
        return spark.createDataFrame([], out_schema)
    if stats is None:
        stats = _bm25_index_stats(spark, root)
    n_docs, avgdl = stats

    terms = sorted({t for _, t in query_terms})
    buckets = sorted({_py_term_bucket(t) for t in terms})
    region = [{"term_bucket": (b, b)} for b in buckets]
    pfiles = snapshot_files(root / "postings", region)
    vfiles = snapshot_files(root / "vocab", region)
    if not pfiles or not vfiles:  # empty corpus -> empty index tables
        return spark.createDataFrame([], out_schema)
    # explicit schemas: the index layout is fixed by build_bm25_index, so
    # the reads skip the footer-sniff job (probe latency counts)
    postings = (
        spark.read.schema("term_bucket int, term string, doc_id bigint, dl int, tf bigint")
        .parquet(*[str(root / "postings" / f) for f in pfiles])
        .where(F.col("term").isin(terms))
    )
    vocab = (
        # delta rows: a term's df is the sum across build/append commits
        spark.read.schema("term_bucket int, term string, df bigint")
        .parquet(*[str(root / "vocab" / f) for f in vfiles])
        .where(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    qdf = spark.createDataFrame(list(query_terms), "query_id string, term string")
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_part = (
        F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(float(avgdl)))
        )
    )
    scored = (
        postings.join(F.broadcast(qdf), "term")
        .join(F.broadcast(vocab), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(idf * tf_part), 6).alias("bm25"))
    )
    rank_w = W.partitionBy("query_id").orderBy(F.col("bm25").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .where(F.col("rank") <= top_k)
        .select("query_id", "doc_id", "bm25", "rank")
    )


def _bm25_index_stats(spark: SparkSession, root: Path) -> tuple[int, float]:
    """(n_docs, avgdl) by summing the stats table's delta rows (one per
    build/append commit) — merge-on-read. idf's N = total docs; avgdl
    averages only docs with a token stream (mirrors the fused query's
    count(*) vs NULL-skipping avg). merge_schema + coalesce tolerate
    delta rows written before the stats table carried n_text_docs."""
    from ..sources.snapshots import snapshot_read

    sdf = snapshot_read(spark, root / "stats", merge_schema=True)
    n_text_col = (
        F.coalesce(F.col("n_text_docs"), F.col("n_docs"))
        if "n_text_docs" in sdf.columns
        else F.col("n_docs")
    )
    r = sdf.agg(F.sum("n_docs"), F.sum(n_text_col), F.sum("sum_dl")).first()
    n = int(r[0]) if r[0] is not None else 0
    n_text = int(r[1]) if r[1] is not None else 0
    return (n, (int(r[2]) / n_text) if n_text and r[2] is not None else 1.0)


def _bm25_probe_distributed(
    spark: SparkSession,
    qdf: DataFrame,
    root: Path,
    top_k: int,
    stats: tuple[int, float] | None,
) -> DataFrame:
    """The over-cap form of bm25_probe: ``qdf`` is a (query_id, term)
    frame too large to IN-list or broadcast. File pruning survives — the
    probed bucket set is computed Spark-side and is bounded by
    BM25_INDEX_BUCKETS, so its collect is metadata-sized regardless of
    the batch — but term filtering becomes a shuffle equi-join (a
    left-semi against the query terms instead of an IN-list in the scan
    filter) and the scoring joins drop their broadcast hints. Same
    scoring arithmetic; the registered probe queries never take this
    path (their batches are interactive-sized)."""
    from ..sources.snapshots import snapshot_files

    out_schema = "query_id string, doc_id bigint, bm25 double, rank bigint"
    if stats is None:
        stats = _bm25_index_stats(spark, root)
    n_docs, avgdl = stats
    buckets = sorted(
        int(r.b)
        for r in qdf.select(_term_bucket_col(F.col("term")).alias("b"))
        .distinct()
        .collect()  # <= BM25_INDEX_BUCKETS
    )
    if not buckets:
        return spark.createDataFrame([], out_schema)
    region = [{"term_bucket": (b, b)} for b in buckets]
    pfiles = snapshot_files(root / "postings", region)
    vfiles = snapshot_files(root / "vocab", region)
    if not pfiles or not vfiles:
        return spark.createDataFrame([], out_schema)
    qterms = qdf.select("term").distinct()
    postings = (
        spark.read.schema(
            "term_bucket int, term string, doc_id bigint, dl int, tf bigint"
        )
        .parquet(*[str(root / "postings" / f) for f in pfiles])
        .join(qterms, "term", "left_semi")
    )
    vocab = (
        spark.read.schema("term_bucket int, term string, df bigint")
        .parquet(*[str(root / "vocab" / f) for f in vfiles])
        .join(qterms, "term", "left_semi")
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_part = (
        F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(float(avgdl)))
        )
    )
    scored = (
        postings.join(qdf, "term")
        .join(vocab, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(idf * tf_part), 6).alias("bm25"))
    )
    rank_w = W.partitionBy("query_id").orderBy(F.col("bm25").desc(), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(rank_w).cast("long"))
        .where(F.col("rank") <= top_k)
        .select("query_id", "doc_id", "bm25", "rank")
    )


# one stored index per (process, corpus dir) — the _IVF_INDEX_CACHE
# pattern (operators/ann_index.py): first invocation builds, every later
# one probes, so bench best-of-N measures the steady-state probe.
_BM25_INDEX_CACHE: dict[tuple[int, str], tuple[str, tuple[int, float]]] = {}


def _bm25_index_for(spark: SparkSession, sf_dir: str) -> tuple[str, tuple[int, float]]:
    key = (os.getpid(), str(sf_dir))
    cached = _BM25_INDEX_CACHE.get(key)
    if cached and (Path(cached[0]) / "postings" / "_latest").exists():
        return cached
    root = str(
        Path(tempfile.gettempdir())
        / f"bm25_index_{os.getpid()}_{path_tag(sf_dir)}"
    )
    shutil.rmtree(root, ignore_errors=True)
    stats = build_bm25_index(spark, sf_dir, root)
    _BM25_INDEX_CACHE[key] = (root, stats)
    return root, stats


@register(
    "docs_bm25_probe",
    oracle=QUERIES["docs_bm25_topk"].oracle,
    headline=True,
    tags=("text", "retrieval", "window"),
)
def docs_bm25_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 against the STORED inverted index — the amortized lexical
    twin of embeddings_ivf_probe. First invocation per (process, corpus)
    builds the index (one tokenize scan, committed through the snapshot
    format bucketed by term hash); every later invocation probes only:
    driver-side term hashing, manifest-stats file prune to the query
    terms' buckets, broadcast query/vocab joins over the pruned postings.
    BM25 is exact, so this query is gated by the SAME DuckDB oracle as
    the fused docs_bm25_topk — byte-identical results, hash-checked, with
    none of the fused form's corpus scans in steady state."""
    root, stats = _bm25_index_for(spark, sf_dir)
    qt = [(qid, t) for qid, ts in BM25_QUERIES for t in ts]
    return bm25_probe(spark, qt, root, stats=stats)


# --------------------------------------------------------------------------
# N-gram novelty — the per-document memorization-risk diagnostic
# --------------------------------------------------------------------------

NOVELTY_N = 8  # word-8-grams (Lee et al. 2021 use ~50-token windows at
# web scale; the window length only changes the explode width)


@register(
    "docs_ngram_novelty",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   string_split(replace(text, chr(10), ' '), ' ') AS w
            FROM documents
        ),
        g AS (
            SELECT DISTINCT doc_id,
                   w[i.i] || ' ' || w[i.i + 1] || ' ' || w[i.i + 2] || ' '
                   || w[i.i + 3] || ' ' || w[i.i + 4] || ' ' || w[i.i + 5]
                   || ' ' || w[i.i + 6] || ' ' || w[i.i + 7] AS gram
            FROM t, UNNEST(range(1, len(w) - {NOVELTY_N - 2})) AS i(i)
            WHERE len(w) >= {NOVELTY_N}
        ),
        df AS (SELECT gram, count(*) AS df FROM g GROUP BY gram)
        SELECT g.doc_id,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unique,
               round(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) * 1.0
                     / count(*), 6) AS novelty_rate
        FROM g JOIN df USING (gram)
        GROUP BY g.doc_id
    """,
    tags=("text", "dedup", "quality"),
)
def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a document's distinct
    word-8-grams that appear in NO other document — the corpus-level
    memorization/duplication diagnostic (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better": low-novelty documents
    are the ones a model can regurgitate). Complements the pairwise dedup
    tier with a per-doc scalar a quality dashboard can threshold.

    Plan: one explode to distinct (doc, gram-hash) rows (xxhash64 8-byte
    keys — the jaccard tier's convention; the string-keyed oracle doubles
    as the collision canary), a gram-keyed document-frequency aggregate,
    a shuffle join back on the hash, and a per-doc rollup. The df table
    is gram-vocabulary-sized (too big to broadcast at 100 TB — the join
    correctly shuffles on the 8-byte key), and every aggregate is
    map-side combined. Same scale class as the PPJoin candidate
    generator, without its pair output term."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.regexp_replace("text", "\n", " "), " ")
    toks = spread(d).select("doc_id", w.alias("w")).where(
        F.size(F.col("w")) >= NOVELTY_N
    )
    idx = F.explode(F.sequence(F.lit(1), F.size("w") - (NOVELTY_N - 1))).alias("i")
    grams = (
        toks.select("doc_id", "w", idx)
        .select(
            "doc_id",
            F.xxhash64(
                F.concat_ws(
                    " ",
                    *[F.element_at("w", F.col("i") + k) for k in range(NOVELTY_N)],
                )
            ).alias("g"),
        )
        .distinct()
    )
    dfreq = grams.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return (
        grams.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_unique",
            F.round(F.col("n_unique") / F.col("n_grams"), 6).alias("novelty_rate"),
        )
    )


# --------------------------------------------------------------------------
# Curation scorecard — the per-document decision table
# --------------------------------------------------------------------------


from . import lm as _lm  # noqa: E402  (scorecard nests the LM oracle)
from . import text as _text  # noqa: E402  (and the quality oracle —
# explicit so decoration-time QUERIES lookups never depend on another
# module having imported text first)


def _scorecard_oracle() -> str:
    q = QUERIES["docs_quality_score"].oracle
    d = QUERIES["docs_dsir_weights"].oracle
    n = QUERIES["docs_ngram_novelty"].oracle
    l = QUERIES["docs_bigram_lm_score"].oracle
    return f"""
        WITH q AS ({q}), ds AS ({d}), nv AS ({n}), lm AS ({l})
        SELECT q.doc_id,
               q.n_tokens,
               q.quality_flag,
               ds.dsir_weight,
               nv.novelty_rate,
               lm.avg_logp,
               CASE WHEN q.quality_flag = 'keep'
                         AND coalesce(ds.dsir_weight, 0) >= 0
                    THEN 'admit'
                    WHEN q.quality_flag = 'keep' THEN 'hold'
                    ELSE 'drop' END AS verdict
        FROM q
        LEFT JOIN ds ON q.doc_id = ds.doc_id
        LEFT JOIN nv ON q.doc_id = nv.doc_id
        LEFT JOIN lm ON q.doc_id = lm.doc_id
    """


@register(
    "docs_curation_scorecard",
    oracle=_scorecard_oracle(),
    tags=("text", "quality", "selection", "dashboard"),
)
def docs_curation_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per document with every per-doc curation signal the engine
    computes — heuristic quality, DSIR target-domain affinity, 8-gram
    novelty, LM log-likelihood — plus the admission verdict a pipeline
    acts on: 'admit' (quality keep AND at-least-raw target affinity),
    'hold' (quality keep, negative affinity — candidate for resampling),
    'drop'. This is the decision table a 100 TB curation run materializes
    once per corpus version and thresholds downstream.

    Pure composition of REGISTERED operators — same plans, same oracle
    texts nested, so the scorecard can never drift from the signals it
    reports. All joins key on doc_id; quality covers every document, the
    others LEFT-join (short docs have no bigrams/8-grams to score, and
    their NULLs flow through both engines identically). One pass per
    signal — at scale this is the query you run to AVOID re-running the
    signals per consumer."""
    from .lm import docs_bigram_lm_score
    from .text import docs_quality_score

    q = docs_quality_score(spark, sf_dir).select(
        "doc_id", "n_tokens", "quality_flag"
    )
    ds = docs_dsir_weights(spark, sf_dir).select("doc_id", "dsir_weight")
    nv = docs_ngram_novelty(spark, sf_dir).select("doc_id", "novelty_rate")
    lm = docs_bigram_lm_score(spark, sf_dir).select("doc_id", "avg_logp")
    return (
        q.join(ds, "doc_id", "left")
        .join(nv, "doc_id", "left")
        .join(lm, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "quality_flag",
            "dsir_weight",
            "novelty_rate",
            "avg_logp",
            F.when(
                (F.col("quality_flag") == "keep")
                & (F.coalesce(F.col("dsir_weight"), F.lit(0.0)) >= 0),
                "admit",
            )
            .when(F.col("quality_flag") == "keep", "hold")
            .otherwise("drop")
            .alias("verdict"),
        )
    )


# --------------------------------------------------------------------------
# Benchmark decontamination report
# --------------------------------------------------------------------------

BM25_DECONTAM_THRESHOLD = 0.8  # flag docs scoring >= this vs ANY benchmark query


@register(
    "docs_bm25_decontam_report",
    oracle=f"""
        WITH queries(query_id, term) AS {_bm25_query_values_sql()},
        t AS (
            SELECT doc_id,
                   string_split(replace(text, chr(10), ' '), ' ') AS w
            FROM documents
        ),
        stats AS (
            SELECT count(*) AS n_docs, avg(len(w)) AS avgdl FROM t
        ),
        toks AS (
            SELECT doc_id, len(w) AS dl, u.term
            FROM t, UNNEST(w) AS u(term)
        ),
        matched AS (SELECT * FROM toks WHERE term IN (SELECT term FROM queries)),
        tf AS (
            SELECT doc_id, dl, term, count(*) AS tf
            FROM matched GROUP BY doc_id, dl, term
        ),
        df AS (
            SELECT term, count(DISTINCT doc_id) AS df
            FROM matched GROUP BY term
        ),
        scored AS (
            SELECT q.query_id, tf.doc_id,
                   round(sum(
                       ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
                       * tf.tf * ({BM25_K1} + 1)
                       / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                          + {BM25_B} * tf.dl / stats.avgdl))
                   ), 6) AS bm25
            FROM tf
            JOIN queries q USING (term)
            JOIN df USING (term)
            CROSS JOIN stats
            GROUP BY q.query_id, tf.doc_id
        ),
        flagged AS (
            SELECT DISTINCT doc_id FROM scored
            WHERE bm25 >= {BM25_DECONTAM_THRESHOLD}
        )
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_flagged,
               round(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                     * 1.0 / count(*), 6) AS flagged_share
        FROM documents d LEFT JOIN flagged f ON d.doc_id = f.doc_id
        GROUP BY d.source
    """,
    tags=("text", "retrieval", "quality", "dashboard"),
)
def docs_bm25_decontam_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source benchmark-contamination report — the decontamination
    USE of the BM25 tier (GPT-3 appendix C / open-LM practice: before
    training, measure how much of each ingestion source scores high
    against the evaluation queries, then drop or filter the hot
    sources). A document is flagged when it scores >= the threshold
    against ANY benchmark query; the report rolls flagged share up per
    source.

    Reuses the fused query's exact scoring pipeline (same constants,
    same helper-built query VALUES, so the two cannot drift) WITHOUT the
    top-k cut — contamination cares about every doc above threshold, not
    the best ten. Plan adds one distinct over flagged doc_ids (match-
    sized) and a broadcast-joinable left join back to the corpus for the
    per-source rollup. Same match-bound scale shape as docs_bm25_topk."""
    d = load_table(spark, sf_dir, "documents")
    flagged = (
        _bm25_scored(spark, sf_dir)
        .where(F.col("bm25") >= BM25_DECONTAM_THRESHOLD)
        .select("doc_id")
        .distinct()
        .withColumn("flagged", F.lit(1))
    )
    return (
        d.select("doc_id", "source")
        .join(flagged, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("flagged"), F.lit(0))).cast("long").alias("n_flagged"),
            F.round(
                F.sum(F.coalesce(F.col("flagged"), F.lit(0))) * 1.0 / F.count(F.lit(1)),
                6,
            ).alias("flagged_share"),
        )
    )
