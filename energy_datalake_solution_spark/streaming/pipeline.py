"""Structured Streaming pipelines.

The reference is event-*driven* (S3 event -> Lambda -> Glue run per file,
reference: lambda/ingestion_to_raw.py:49-60) but not stream-*processing*.
Spark-first, that trigger chain IS Structured Streaming's file source: new
files under the raw zone are discovered per micro-batch, transformed with
the same contract used in batch (sources/transform.py), and appended to the
processed zone. `trigger(availableNow=True)` gives the reference's
process-everything-then-stop semantics; a continuous deployment just drops
that trigger.

Also provides watermarked windowed aggregation over an event stream — the
streaming twin of operators/events.py (same window exprs) — and a
session-window variant with state timeout, for the north-star streaming
surface.

Scale posture: file-source listing is incremental (checkpointed); state
stores are keyed by (window, type) / (user, session) — bounded by the
watermark, which discards state older than the lateness bound.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..sources.formats import CSV_DIALECT
from ..sources.schemas import PARTITION_COLUMN, TableContract
from ..sources.transform import add_audit_columns, add_derived_columns, apply_contract


def raw_csv_stream(spark: SparkSession, raw_dir: str | Path, schema: T.StructType) -> DataFrame:
    """File-arrival CSV stream over a raw-zone directory. Streaming sources
    need an explicit schema (no inference mid-stream)."""
    return spark.readStream.schema(schema).options(**CSV_DIALECT).csv(str(raw_dir))


def stream_to_processed(
    spark: SparkSession,
    raw_dir: str | Path,
    schema: T.StructType,
    contract: TableContract,
    file_type: str,
    load_date: str,
    processed_root: str | Path,
    checkpoint_dir: str | Path,
) -> StreamingQuery:
    """Streaming EP1: raw csv files -> contract transform -> partitioned
    parquet sink, exactly-once via checkpointing, availableNow trigger."""
    raw = raw_csv_stream(spark, raw_dir, schema)
    typed = add_derived_columns(apply_contract(raw, contract), file_type)
    # per-FILE lineage like the batch stamp: input_file_name() names the
    # raw file each row came from, not just the watched directory
    stamped = add_audit_columns(
        typed, source_file=str(raw_dir), load_date=load_date
    ).withColumn("source_file", F.input_file_name())
    return (
        stamped.writeStream.format("parquet")
        .option("path", str(Path(processed_root) / contract.table_name))
        .option("checkpointLocation", str(checkpoint_dir))
        .partitionBy(PARTITION_COLUMN)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over a streaming events frame.

    Identical aggregation expressions to the batch twin
    (operators/events.py::events_tumbling_hourly); the watermark bounds
    late data and lets Spark drop window state older than the bound.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def user_lifetime_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    lifetime event count / value total, updated every micro-batch.

    This is the escape hatch for stateful semantics that windowed aggs
    can't express (arbitrary per-key accumulators, custom eviction). State
    is one (count, total) pair per user — O(|users|) in the state store,
    checkpointed, recovered on restart. Batches arrive Arrow-encoded
    (pandas), so the per-key update is vectorized, not row-at-a-time.

    Output mode: update — one row per user per micro-batch in which that
    user appeared, carrying the post-batch lifetime totals.
    """
    import pandas as pd  # noqa: F401 (arrow batches arrive as pandas)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        # state keeps the EXACT running sum; rounding only on the emitted
        # row — rounding inside state would compound error across batches
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_event_stream(
    events: DataFrame,
    id_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exactly-once dedup for at-least-once sources (replayed
    files, Kafka redeliveries): ``dropDuplicatesWithinWatermark`` keeps one
    row per id seen within the watermark horizon, then EVICTS the id from
    the state store — so state is bounded by (arrival rate x watermark),
    not by stream lifetime. The batch twin is dedup_on_keys
    (sources/merge.py); this is the reference's pre-upsert dropDuplicates
    (etl-s3-processed-to-redshift.py:59) moved into the stream."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(list(id_cols))


def enrich_with_dimension(stream: DataFrame, dim: DataFrame, on: list[str] | str) -> DataFrame:
    """Stream-static join: each micro-batch hash-joins against the static
    dimension snapshot. The dim is broadcast — the stream side never
    shuffles, so enrichment adds no stateful operator and no watermark
    requirement (left join keeps events with no dim match)."""
    return stream.join(F.broadcast(dim), on, "left")


def stream_merge_to_curated(
    spark: SparkSession,
    raw_dir: str | Path,
    schema: T.StructType,
    contract: TableContract,
    file_type: str,
    load_date: str,
    curated_root: str | Path,
    checkpoint_dir: str | Path,
    retain_versions: int = 10,
) -> StreamingQuery:
    """EP1+EP2 fused as one stream: raw csv files -> contract transform ->
    per-micro-batch keyed upsert into the curated zone via ``foreachBatch``.

    foreachBatch is the streaming escape hatch for sinks Spark has no
    native exactly-once writer for (here: the anti-join merge). Restart
    safety comes from the checkpointed source offsets plus the merge being
    idempotent on the business keys — replaying a batch upserts the same
    rows to the same keys.

    The snapshot-backed merge retains one full row copy per version, so a
    per-micro-batch stream MUST bound history or disk grows a table copy
    per trigger: ``retain_versions`` (default 10 — ten triggers of
    rollback depth) vacuums past that depth after each commit.
    """
    from ..sources.merge import merge_upsert

    raw = raw_csv_stream(spark, raw_dir, schema)
    typed = add_derived_columns(apply_contract(raw, contract), file_type)
    # per-FILE lineage, matching the batch stamp: the directory alone
    # cannot answer "which raw file produced this row"
    stamped = add_audit_columns(
        typed, source_file=str(raw_dir), load_date=load_date
    ).withColumn("source_file", F.input_file_name())

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_upsert(
            batch_df.sparkSession, batch_df, curated_root, contract,
            retain_versions=retain_versions,
        )

    return (
        stamped.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(checkpoint_dir))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def session_event_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming session windows (gap-close semantics) via session_window —
    the streaming counterpart of the batch lag/cumsum sessionization."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def attribute_clicks_to_impressions(
    impressions: DataFrame,
    clicks: DataFrame,
    key: str = "ad_id",
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: attribute each click to the
    impression of the same key that preceded it within the horizon — the
    canonical two-stream correlation (ad attribution, request/response
    pairing, error->resolution matching).

    Both sides carry watermarks and the join condition bounds click time to
    [impression ts, impression ts + horizon], so the state store holds only
    rows inside the watermark window on each side — state is
    O(rate x watermark), not stream lifetime, and Spark evicts
    automatically. An inner join emits exactly the matched pairs once both
    watermarks pass; no output-mode gymnastics needed. The batch twin is
    events_range_join_error_click_pairs (operators/temporal.py).
    """
    i = impressions.select(
        F.col(key).alias("i_key"),
        F.col("ts").alias("imp_ts"),
    ).withWatermark("imp_ts", watermark)
    c = clicks.select(
        F.col(key).alias("c_key"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    return i.join(
        c,
        F.expr(
            f"i_key = c_key AND click_ts >= imp_ts "
            f"AND click_ts <= imp_ts + INTERVAL {horizon}"
        ),
    ).select(
        F.col("i_key").alias(key),
        "imp_ts",
        "click_ts",
        (F.unix_timestamp("click_ts") - F.unix_timestamp("imp_ts")).alias("lag_seconds"),
    )


def score_stream_with_lm(
    stream: DataFrame,
    lm_logp: dict,
    vocab_size: int,
    add_k: float = 0.1,
    ctx_counts: dict | None = None,
    emit_unscorable: bool = False,
) -> DataFrame:
    """Score a document stream against a BATCH-trained bigram LM — the
    online half of the CCNet quality tier (operators/lm.py trains; this
    scores arrivals, e.g. to route low-likelihood docs to quarantine).

    The model is model-sized (see operators/lm.py on Heaps' law), so it
    ships to executors inside the task closure as a plain dict — the
    streaming twin of the batch scoring BROADCAST join; there is no
    per-row shuffle, no state store, and no watermark needed because each
    document row is self-contained (its whole text arrives at once).
    `mapInPandas` keeps scoring Arrow-batched and vectorizable.

    An unseen bigram (w1, w2) gets the true add-k mass
    ln(k / (C(w1) + k*V)) — `ctx_counts` carries the trainer's
    per-context totals C(w1) (C=0 for contexts outside the model), so
    novel stream documents that share contexts with the training corpus
    are scored with the exact formula the trainer used, and a stream
    replay of the training corpus reproduces the batch scores exactly
    (tests/test_streaming.py::test_streaming_lm_scoring_matches_batch,
    test_streaming_lm_unseen_bigram_smoothing). Omitting `ctx_counts`
    falls back to the C(w1)=0 mass for every unseen bigram (an upper
    bound on the true probability whenever w1 is in-model).

    Kernel form — MEASURED, not assumed: a "fully vectorized" variant
    (numpy mask arithmetic for the bigram long-frame + pandas hash merge
    against a model frame + one groupby) was implemented and microbenched
    against this dict-lookup loop on two regimes: the test corpus
    (931-pair model: merge 1.6x slower) and a synthetic 50k-vocab /
    1M-pair model (merge 16x slower — pandas object-string hash merges
    re-hash every token occurrence, while Python dict probes on interned
    strings stay L1-resident). The loop IS the fast path; Arrow batching
    already amortizes the per-batch overhead, and the per-bigram work is
    two dict probes.
    """
    import math

    import pandas as pd

    # model-sized precompute: the unseen mass per known context, plus the
    # floor mass for contexts outside the model — keeps the per-bigram hot
    # path to two dict lookups, no math in the loop
    kv = add_k * vocab_size
    unseen_floor = math.log(add_k / kv)
    unseen_by_ctx = {
        w: math.log(add_k / (c + kv)) for w, c in (ctx_counts or {}).items()
    }

    def score(batches):
        for pdf in batches:
            out_ids, out_n, out_avg = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None or len(text.replace("\n", " ").split(" ")) < 2:
                    # no bigrams: the batch op (and its oracle) omit the
                    # doc; a ROUTER must not lose it, so emit_unscorable
                    # surfaces it with a NULL score instead
                    if emit_unscorable:
                        out_ids.append(doc_id)
                        out_n.append(0)
                        out_avg.append(None)
                    continue
                toks = text.replace("\n", " ").split(" ")
                pairs = zip(toks, toks[1:])
                logps = [
                    lm_logp[p]
                    if p in lm_logp
                    else unseen_by_ctx.get(p[0], unseen_floor)
                    for p in pairs
                ]
                out_ids.append(doc_id)
                out_n.append(len(logps))
                out_avg.append(round(sum(logps) / len(logps), 6))
            yield pd.DataFrame(
                {"doc_id": out_ids, "n_bigrams": out_n, "avg_logp": out_avg}
            )

    return stream.mapInPandas(score, "doc_id long, n_bigrams long, avg_logp double")


def corpus_simhash_index(spark, sf_dir: str):
    """The standing corpus fingerprint index (doc_id, simhash, band,
    band_key) the streaming dedup joins against — at scale this is a
    persisted table maintained by the batch pipeline, 4 rows x 16 bytes
    per corpus doc."""
    from pyspark.sql import functions as F

    from ..operators.dedup import SIMHASH_BANDS, docs_simhash, simhash_band_key_col

    fp = docs_simhash(spark, sf_dir)
    band = F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))).alias("band")
    return (
        fp.select("doc_id", "simhash", band)
        .withColumn("band_key", simhash_band_key_col())
        .select(
            F.col("doc_id").alias("corpus_id"),
            F.col("simhash").alias("corpus_sh"),
            "band",
            "band_key",
        )
    )


def dedup_stream_against_corpus(stream: DataFrame, corpus_index: DataFrame) -> DataFrame:
    """Ingest-time near-dedup as a STREAM: fingerprint each arriving
    document, probe the standing corpus simhash index with a
    stream-static band join, verify by exact Hamming distance, and emit
    one row per (arriving doc, corpus match) within HAMMING_THRESHOLD.

    The streaming twin of operators/dedup.py::docs_incremental_simhash_dedup
    (same fingerprint, same 4x15-bit banding, same verify) — that batch
    operator carries the oracle; the pytest pins stream/batch equality on
    a replay. Fingerprinting is a pure per-row expression (no state, no
    watermark); the static side is the persisted index, so each
    micro-batch costs |batch| x 4 index probes. Candidate dedup across
    bands happens per-doc-pair via the distinct-free groupBy-less
    aggregate trick: band rows for the same (doc, corpus) pair verify
    identically, so downstream consumers dedup on the pair key in
    foreachBatch (or take min(hamming) — equal anyway); here we drop
    exact band duplicates with dropDuplicates on the pair key, which in a
    micro-batch engine is per-batch state, not unbounded."""
    from pyspark.sql import functions as F

    from ..operators.dedup import (  # noqa: F401
        HAMMING_THRESHOLD,
        SIMHASH_BANDS,
        simhash_band_key_col,
        simhash_fold_expr,
        simhash_token_hashes_col,
    )

    # the fingerprint is the SHARED definition from operators/dedup.py —
    # not a textual copy — so a hash-width or vote change can never desync
    # the stream from the batch operator whose oracle gates it; the
    # NULL-text exclusion mirrors the batch side for the same reason
    fp = (
        stream.where(F.col("text").isNotNull())
        .select("doc_id", simhash_token_hashes_col().alias("hs"))
        .select("doc_id", simhash_fold_expr().alias("simhash"))
        .select(
            "doc_id",
            "simhash",
            F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))).alias("band"),
        )
        .withColumn("band_key", simhash_band_key_col())
    )
    matched = (
        fp.join(corpus_index, ["band", "band_key"])  # stream-static join
        .withColumn(
            "hamming", F.bit_count(F.col("simhash").bitwiseXOR(F.col("corpus_sh")))
        )
        .where(F.col("hamming") <= HAMMING_THRESHOLD)
        .select("doc_id", F.col("corpus_id").alias("dup_of"), "hamming")
        # band duplicates of a pair arise WITHIN one micro-batch (a doc's
        # 4 band rows are processed together), so the dedup state only
        # needs a short horizon: a plain streaming dropDuplicates keeps
        # every pair key FOREVER (unbounded state store growth on an
        # always-on ingest); the watermarked form evicts state past the
        # horizon while emitting the identical rows
        .withColumn("_seen", F.current_timestamp())
        .withWatermark("_seen", "10 minutes")
        .dropDuplicatesWithinWatermark(["doc_id", "dup_of"])
        .drop("_seen")
    )
    return matched


def route_stream_by_quality(
    stream: DataFrame,
    lm_logp: dict,
    vocab_size: int,
    ctx_counts: dict,
    accept_floor: float,
    accept_root: str | Path,
    quarantine_root: str | Path,
    checkpoint_dir: str | Path,
) -> StreamingQuery:
    """Quality ROUTER: score arriving documents with the batch-trained
    bigram LM and fan each micro-batch out to two sinks — accepted docs
    (avg_logp >= accept_floor) to the curated training-corpus zone,
    low-likelihood docs to quarantine for audit. The last mile of the
    CCNet-style online pipeline: train offline, score+route online.

    foreachBatch is the multi-sink escape hatch: one scored frame, two
    filtered parquet appends. The scored batch is cached for the double
    write (compute-once), and restart safety = checkpointed source
    offsets + append-only sinks keyed by doc_id (replays re-append the
    same rows; downstream reads dedup on doc_id, the same at-least-once
    contract as the reference's raw zone). The routed rows carry
    (doc_id, n_bigrams, avg_logp) — the payload stays in the lake and
    rejoins by doc_id, so the router never hauls document text through
    the score-and-split path (a stream self-join to re-attach text would
    need watermarks and buys nothing).
    """
    scored = score_stream_with_lm(
        stream, lm_logp, vocab_size, ctx_counts=ctx_counts, emit_unscorable=True
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            batch_df.where(F.col("avg_logp") >= accept_floor).write.mode(
                "append"
            ).parquet(str(accept_root))
            # UNSCORABLE docs (NULL/single-token text -> avg_logp NULL)
            # default-route to quarantine: a router that drops them from
            # BOTH zones silently loses data
            batch_df.where(
                F.col("avg_logp").isNull() | (F.col("avg_logp") < accept_floor)
            ).write.mode("append").parquet(str(quarantine_root))
        finally:
            batch_df.unpersist()

    return (
        scored.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )


def unattributed_impressions(
    impressions: DataFrame,
    clicks: DataFrame,
    key: str = "ad_id",
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join: every
    impression, matched to its within-horizon click or to NULLs if none
    arrived — the complement of attribute_clicks_to_impressions that an
    inner join cannot express. The business question is the NULL side:
    which impressions never converted?

    Outer semantics on two streams REQUIRE the watermark + the time-bound
    join condition: a NULL row can only be emitted once the click-side
    watermark has passed the impression's horizon (before that, a match
    could still arrive). Spark holds the impression in state until that
    point, then emits it with NULL click columns and evicts — so the
    delayed NULL emission is the correctness cost of outer joins on
    streams, and state stays O(rate x watermark) exactly as in the inner
    form. `converted` flags the match so a downstream conversion-rate agg
    is one groupBy away.
    """
    i = impressions.select(
        F.col(key).alias("i_key"),
        F.col("ts").alias("imp_ts"),
    ).withWatermark("imp_ts", watermark)
    c = clicks.select(
        F.col(key).alias("c_key"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    return i.join(
        c,
        F.expr(
            f"i_key = c_key AND click_ts >= imp_ts "
            f"AND click_ts <= imp_ts + INTERVAL {horizon}"
        ),
        "leftOuter",
    ).select(
        F.col("i_key").alias(key),
        "imp_ts",
        "click_ts",
        F.col("click_ts").isNotNull().alias("converted"),
    )


def scrub_stream_pii(stream: DataFrame) -> DataFrame:
    """PII-scrub a document stream: stateless map-only transformation, the
    streaming twin of operators/pii.py::docs_pii_redaction. The scrub
    expressions are IMPORTED from the batch operator (scrub_columns — one
    definition, no drift) and contain no aggregation or state, so the
    streaming plan is a pure projection per micro-batch: no watermark, no
    state store, arbitrarily parallel. This is the shape a 100 TB ingest
    pipeline wants — PII never lands unscrubbed because the scrub rides
    the ingest stream itself rather than a nightly batch."""
    from ..operators.pii import scrub_columns

    return stream.select("doc_id", *scrub_columns())


def pack_stream_docs(docs: DataFrame) -> DataFrame:
    """Incremental sequence packing: the stateful streaming twin of
    operators/packing.py::docs_sequence_packing. State is ONE bigint per
    source shard — the running token offset — so arriving documents are
    assigned globally consistent training-sequence ids across micro-batches
    (batch N+1 continues exactly where batch N stopped, surviving
    checkpoint restarts). Within a micro-batch documents pack in doc_id
    order, matching the batch operator's ordering contract; token counting
    is the same whitespace split.

    This is the op an always-on ingest pipeline needs: training shards
    fill continuously instead of re-running a global window over the whole
    corpus each cycle. State size is O(|sources|) — 8 bytes per shard —
    regardless of corpus size.
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.packing import SEQ_LEN

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd

        (offset,) = state.get if state.exists else (0,)
        out = []
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values("doc_id")
        for doc_id, text in zip(batch["doc_id"], batch["text"]):
            first = offset // SEQ_LEN
            if text is None:
                # exact batch parity: size(split(NULL)) is NULL, so the doc
                # emits NULL token/span fields, keeps its start offset, and
                # advances the running offset by NOTHING
                out.append(
                    {
                        "doc_id": doc_id,
                        "source": key[0],
                        "n_tokens": None,
                        "start_offset": offset,
                        "seq_id": first,
                        "n_sequences_spanned": None,
                        "crosses_boundary": None,
                    }
                )
                continue
            n = len(text.split(" "))
            last = (offset + n - 1) // SEQ_LEN
            out.append(
                {
                    "doc_id": doc_id,
                    "source": key[0],
                    "n_tokens": n,
                    "start_offset": offset,
                    "seq_id": first,
                    "n_sequences_spanned": last - first + 1,
                    "crosses_boundary": last > first,
                }
            )
            offset += n
        state.update((offset,))
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id", "source", "n_tokens", "start_offset",
                "seq_id", "n_sequences_spanned", "crosses_boundary",
            ],
        )

    return docs.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=(
            "doc_id bigint, source string, n_tokens bigint, start_offset bigint, "
            "seq_id bigint, n_sequences_spanned bigint, crosses_boundary boolean"
        ),
        stateStructType="offset bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_ivf_index_sink(
    stream: DataFrame,
    index_root: str | Path,
    checkpoint_dir: str | Path,
    app_id: str | None = None,
) -> StreamingQuery:
    """Exactly-once STREAMING maintenance of the stored IVF ANN index: each
    micro-batch of (vec_id, embedding) rows is assigned to the existing
    coarse centroids and committed to the index's cells table as one
    snapshot version stamped with (app_id, batch_id) — the composition of
    the incremental append (operators.ann_index.ivf_index_append) with the
    snapshot format's idempotent-txn protocol (sources.snapshots). A crash
    between commit and checkpoint replays the batch; the txn stamp detects
    it BEFORE any assignment work and skips: at-least-once delivery +
    idempotent commit = an index with exactly-once contents, new vectors
    probe-visible within one trigger.

    This is the 100 TB ingest loop for similarity search: embeddings land
    continuously, the index never rebuilds inline, probes never block
    (snapshot isolation), and periodic compaction re-clusters the
    accumulated append files (snapshot_compact with stats).
    """
    from ..operators.ann_index import ivf_index_append

    # canonicalize: replay detection must not depend on the SPELLING of
    # the checkpoint path (relative vs absolute, trailing slash) — a
    # restart with an equivalent path must land in the same namespace.
    # Pass an explicit app_id when the checkpoint lives behind symlinked
    # or remounted storage, where even resolve() can differ.
    resolved_app = (
        app_id if app_id is not None else str(Path(checkpoint_dir).resolve())
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ivf_index_append(
            batch_df.sparkSession, batch_df, index_root,
            txn=batch_id, txn_app=resolved_app,
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )


def stream_bm25_index_sink(
    stream: DataFrame,
    index_root,
    checkpoint_dir,
    app_id: str | None = None,
) -> StreamingQuery:
    """Exactly-once STREAMING maintenance of the stored BM25 inverted
    index: each micro-batch of (doc_id, text) rows is tokenized into
    postings/vocab/stats delta commits stamped with (app_id, batch_id) —
    the composition of operators.retrieval.bm25_index_append with the
    snapshot format's idempotent-txn protocol, exactly the
    stream_ivf_index_sink pattern for the lexical tier. A crash between
    commit and checkpoint replays the batch; each of the three index
    tables independently skips or applies its missing piece, so partial
    failures heal on retry and replayed batches never double-count a
    term's df or the corpus's n_docs/avgdl.

    This is the 100 TB ingest loop for lexical retrieval: documents land
    continuously, the index never re-tokenizes the standing corpus,
    probes never block (snapshot isolation), and periodic
    snapshot_compact re-ranges the accumulated append files."""
    from pathlib import Path

    from ..operators.retrieval import bm25_index_append

    resolved_app = (
        app_id if app_id is not None else str(Path(checkpoint_dir).resolve())
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bm25_index_append(
            batch_df.sparkSession, batch_df, index_root,
            txn=batch_id, txn_app=resolved_app,
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )


def score_stream_dsir(
    stream: DataFrame,
    llr_by_bucket: dict,
    default_llr: float,
    emit_unscorable: bool = False,
) -> DataFrame:
    """Score a document stream against a BATCH-trained DSIR model — the
    online half of the data-selection tier (operators/retrieval.py trains
    the hashed-bigram target-vs-raw model; this scores arrivals, e.g. to
    admit target-domain-looking documents from a crawl as they land).

    ``llr_by_bucket`` maps bucket -> log-likelihood ratio for the <=
    DSIR_BUCKETS buckets seen in the raw corpus; ``default_llr`` is the
    EXACT Laplace mass for an unseen bucket, ln((t_r + B) / (t_t + B))
    (both counts zero) — derive both from dsir_llr_model's (c_r, c_t,
    llr) rows. The model is <= 256 floats, so it ships in the task
    closure (the streaming twin of the batch broadcast join); no shuffle,
    no state store, no watermark — each document row is self-contained.

    The kernel mirrors score_stream_with_lm's measured dict-probe form;
    the only added per-bigram work is the md5 bucket hash, computed with
    hashlib to match the engine's Spark/DuckDB convention bit for bit, so
    a stream replay of the training corpus reproduces docs_dsir_weights'
    batch rows exactly (pinned in tests/test_streaming.py)."""
    import hashlib

    import pandas as pd

    from ..operators.retrieval import DSIR_BUCKETS

    def score(batches):
        for pdf in batches:
            out_ids, out_n, out_w = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = None if text is None else text.replace("\n", " ").split(" ")
                if toks is None or len(toks) < 2:
                    if emit_unscorable:
                        out_ids.append(doc_id)
                        out_n.append(0)
                        out_w.append(None)
                    continue
                llrs = [
                    llr_by_bucket.get(
                        int(
                            hashlib.md5(f"{a} {b}".encode()).hexdigest()[:15], 16
                        ) % DSIR_BUCKETS,
                        default_llr,
                    )
                    for a, b in zip(toks, toks[1:])
                ]
                out_ids.append(doc_id)
                out_n.append(len(llrs))
                out_w.append(round(sum(llrs) / len(llrs), 6))
            yield pd.DataFrame(
                {"doc_id": out_ids, "n_features": out_n, "dsir_weight": out_w}
            )

    return stream.mapInPandas(
        score, "doc_id long, n_features long, dsir_weight double"
    )


def stream_heavy_hitters_sink(
    stream: DataFrame,
    table_path,
    checkpoint_dir,
    k: int | None = None,
    app_id: str | None = None,
) -> StreamingQuery:
    """Exactly-once STREAMING maintenance of a bounded Misra-Gries
    heavy-hitters summary (operators/events.py::mg_heavy_hitters is the
    batch form): each micro-batch folds through the per-partition MG
    kernel, merges with the standing summary by key-sum, and applies the
    mergeable-summaries reduction (Agarwal et al., PODS 2012) — if the
    union exceeds k keys, subtract the (k+1)-th largest count from every
    counter and drop the non-positive — so the stored state NEVER exceeds
    k rows while the classic deterministic bound stays additive across
    merges: est <= true, true - est <= n_total/(k+1) over everything the
    stream has seen. The summary commits through the snapshot format as a
    full-replace version stamped (app_id, batch_id): replays are detected
    before any fold work runs and skipped, so at-least-once delivery +
    idempotent commit = exactly-once summary contents.

    This is the streaming answer to "who dominates the firehose" with
    O(k) state per writer and per table — no per-key state store, no
    watermark (each event row is self-contained), readers poll the
    summary table for a consistent snapshot at any time."""
    from pathlib import Path

    from ..operators.events import HH_K, mg_heavy_hitters
    from ..sources.snapshots import (
        _commit,
        _table,
        _write_files,
        current_version,
        last_txn,
        snapshot_read,
    )

    k_eff = k if k is not None else HH_K
    resolved_app = (
        app_id if app_id is not None else str(Path(checkpoint_dir).resolve())
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= last_txn(table_path, resolved_app):
            return  # replay of a committed batch
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_summary = mg_heavy_hitters(
            batch_df.select("user_id").where(F.col("user_id").isNotNull()), k=k_eff
        )
        p = _table(table_path)
        if current_version(p):
            standing = snapshot_read(spark, p)
            union = standing.unionByName(batch_summary)
        else:
            union = batch_summary
        merged = [
            (int(r.user_id), int(r.est_count))
            for r in union.groupBy("user_id")
            .agg(F.sum("est_count").cast("long").alias("est_count"))
            .collect()  # summary-sized by construction: <= 2k rows
        ]
        if len(merged) > k_eff:
            merged.sort(key=lambda t: (-t[1], t[0]))
            cut = merged[k_eff][1]  # (k+1)-th largest count
            merged = [
                (u, c - cut) for u, c in merged if c - cut > 0
            ]
        out = spark.createDataFrame(
            sorted(merged, key=lambda t: (-t[1], t[0])),
            "user_id long, est_count long",
        )
        files = _write_files(out.coalesce(1), p)
        _commit(p, files, current_version(p), txn=batch_id, txn_app=resolved_app, op="write")

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )


def ann_probe_stream(
    spark: SparkSession,
    queries_dir: str | Path,
    index_root: str | Path,
    out_table: str | Path,
    checkpoint_dir: str | Path,
    sf_dir: str,
    books=None,
    app_id: str = "ann-probe-stream",
) -> StreamingQuery:
    """Online ANN serving: a STREAM of (q_id, q_emb) queries probed per
    micro-batch against the STORED product-quantization index
    (operators/pq_index.py), results appended EXACTLY-ONCE to a snapshot
    table stamped (app_id, batch_id) — the serving-side twin of the
    batch `embeddings_pq_probe` (whose recall floor and exact-score pins
    gate the shared probe).

    foreachBatch because the per-query top-k is a rank window over q_id,
    which streaming forbids as a native operator; inside the batch hook
    it is the ordinary bounded-state probe. Restart safety: checkpointed
    source offsets + snapshot_append_once's (app, txn) replay guard —
    a replayed micro-batch lands zero new versions, the same protocol as
    stream_snapshot_sink. Each micro-batch costs one ADC scan (32x-
    compressed codes, built-in aggregate) + a REFINE-row re-rank; the
    standing corpus index is never rescanned between batches beyond that
    — the index amortization story, now at serving time."""
    from ..operators.pq_index import pq_probe
    from ..sources.snapshots import snapshot_append_once

    stream = spark.readStream.schema("q_id long, q_emb array<double>").json(
        str(queries_dir)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = pq_probe(
            batch_df.sparkSession, batch_df, index_root,
            books=books, sf_dir=sf_dir,
        )
        snapshot_append_once(res, out_table, txn=batch_id, txn_app=app_id)

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(checkpoint_dir))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_snapshot_merge_sink(
    stream: DataFrame,
    table_path: str | Path,
    keys: list,
    checkpoint_dir: str | Path,
    app_id: str | None = None,
    **merge_clauses,
) -> StreamingQuery:
    """Exactly-once STREAMING conditional MERGE into a snapshot table:
    each micro-batch runs sources.snapshots.snapshot_merge (WHEN MATCHED
    [AND cond] UPDATE/DELETE, WHEN NOT MATCHED INSERT — pass the same
    keyword clauses) stamped with (app_id, batch_id). A crash between
    commit and checkpoint replays the batch; the txn stamp short-circuits
    it BEFORE any prune or join work. At-least-once delivery + idempotent
    merge = a table with exactly-once contents — the streaming CDC-apply
    loop (upserts + conditional deletes from a change stream) that keeps
    a 100 TB serving table current without rewriting it: small matched
    sets ride the merge's MOR path (deletion vectors + provenance-paired
    update images), so steady-state cost is O(matched) per trigger.

    With an update/delete arm the batch must be key-unique (Delta's
    MERGE cardinality contract): reduce upstream (e.g. latest-per-key
    over an ordering column) before the sink."""
    resolved_app = (
        app_id if app_id is not None else str(Path(checkpoint_dir).resolve())
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from ..sources.snapshots import snapshot_merge

        snapshot_merge(
            batch_df.sparkSession, batch_df, table_path, keys,
            txn=batch_id, txn_app=resolved_app, **merge_clauses,
        )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )


def stream_fanout_txn_sink(
    stream: DataFrame,
    routes: list,
    checkpoint_dir: str | Path,
    app_id: str | None = None,
) -> StreamingQuery:
    """Exactly-once ATOMIC FAN-OUT: each micro-batch routes to N snapshot
    tables inside ONE multi-table transaction — all tables advance
    together or none do. ``routes`` is a list of ``(table_path, fn)``
    where ``fn(batch_df) -> DataFrame`` selects/derives that table's
    rows (a filter, a projection, an aggregate). This is the classic
    two-sink problem foreachBatch alone cannot solve (a crash between
    two independent writes leaves sink A ahead of sink B forever):
    here the appends stage under a SnapshotTransaction, the pointer
    swaps are all-or-nothing, and per-table (app, batch_id) txn stamps
    make crash replays idempotent — a replayed batch whose stamp
    already landed on every table stages nothing and the empty
    transaction is a no-op. At 100 TB the atomic section is N pointer
    swaps; the data work is N independent appends."""
    from ..sources.snapshots import SnapshotTransaction, snapshot_append

    resolved_app = (
        app_id if app_id is not None else str(Path(checkpoint_dir).resolve())
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        with SnapshotTransaction():
            for table_path, fn in routes:
                out = fn(batch_df)
                if not out.isEmpty():
                    snapshot_append(
                        out, table_path, txn=batch_id, txn_app=resolved_app
                    )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )


def snapshot_mirror_cycle(
    spark: SparkSession,
    source_path: str | Path,
    replica_path: str | Path,
    keys: list,
    app_id: str = "cdc-mirror",
    initial_version: int = 0,
) -> int:
    """One EXACTLY-ONCE cycle of the continuous CDC replication loop:
    read the source's change feed from the last MIRRORED version to its
    current tip, reduce the net records to one decision per key (an
    upsert image wins over a delete record — covers unpaired updates,
    which net as delete(old)+insert(new)), and apply both halves to the
    replica inside ONE SnapshotTransaction stamped with the source tip
    version. Progress lives IN the replica's transaction map
    (``last_txn(replica, app_id)`` = last fully-mirrored source
    version), so the loop needs no side files and survives any crash:

      * crash BEFORE the pointer swap — nothing applied, nothing
        stamped; the next cycle re-reads the same window;
      * crash AFTER — both halves landed atomically with the stamp; a
        replayed cycle sees ``to <= frm`` and does nothing.

    Returns the source version now mirrored. Scale shape: the feed
    opens only CHANGED files; the per-key reduction is one window over
    the change set; the apply is two stats-pruned MOR merges sized by
    the change set — O(changes) per cycle on a 100 TB table, never a
    scan. Run it on a timer (or after each producer commit) for the
    continuous twin of the batch loop gated by
    ``snapshot_cdc_mirror_read``."""
    from pyspark.sql import Window

    from ..sources.snapshots import (
        SnapshotTransaction,
        current_version,
        last_txn,
        snapshot_change_feed,
        snapshot_merge,
    )

    src_t, rep_t = Path(source_path), Path(replica_path)
    # progress stamps are 2*version(+1) — the two apply halves need
    # DISTINCT monotone ids (a shared stamp would no-op the second
    # merge as its own replay); floor-div decodes the mirrored version
    stamp = last_txn(rep_t, app_id) if current_version(rep_t) else -1
    frm = stamp // 2 if stamp >= 0 else initial_version
    to = current_version(src_t)
    if to <= frm:
        return frm  # nothing new (or a replayed completed cycle)
    cf = snapshot_change_feed(
        spark, src_t, frm, to, updates_as="updates"
    ).where(F.col("_change_type") != "update_preimage")
    # one decision per key: any surviving image (insert /
    # update_postimage) wins over a delete record for the same key —
    # an unpaired update nets as delete(old)+insert(new), and the row
    # LIVES at the window's end
    is_del = (F.col("_change_type") == "delete").cast("int")
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(is_del.asc())
    latest = (
        cf.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    latest = latest.localCheckpoint(eager=True)  # change-set sized
    ups = latest.where(F.col("_change_type") != "delete").drop("_change_type")
    dels = latest.where(F.col("_change_type") == "delete").select(*keys)
    val_cols = [c for c in ups.columns if c not in keys]
    with SnapshotTransaction():
        if not ups.isEmpty():
            snapshot_merge(
                spark, ups, rep_t, list(keys),
                matched_update={c: f"s.{c}" for c in val_cols},
                not_matched_insert=True,
                txn=2 * to, txn_app=app_id,
            )
        if not dels.isEmpty():
            snapshot_merge(
                spark, dels, rep_t, list(keys),
                matched_delete=True,
                not_matched_insert=False,
                txn=2 * to + 1, txn_app=app_id,
            )
    return to
