"""Structured Streaming tests: file-arrival ingest and watermarked windows,
run with availableNow / memory sinks so they terminate deterministically."""

from __future__ import annotations

import textwrap

from pyspark.sql import functions as F
from pyspark.sql import types as T

from energy_datalake_solution_spark.sources.schemas import PROVEEDORES

from .conftest import SF_ORACLE
from energy_datalake_solution_spark.streaming.pipeline import (
    session_event_windows,
    stream_to_processed,
    windowed_event_counts,
)

PROVEEDORES_SCHEMA = T.StructType(
    [
        T.StructField("ID_Proveedor", T.StringType()),
        T.StructField("NombreProveedor", T.StringType()),
        T.StructField("TipoEnergia", T.StringType()),
        T.StructField("PaisOrigen", T.StringType()),
        T.StructField("FechaInicioContrato", T.StringType()),
    ]
)


def test_streaming_file_ingest_to_processed(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "proveedores_1.csv").write_text(
        textwrap.dedent(
            """\
            ID_Proveedor,NombreProveedor,TipoEnergia,PaisOrigen,FechaInicioContrato
            P001,Solar SA,Solar,Espana,2020-01-15
            P002,Viento,Eolica,Chile,2021-06-01
            """
        )
    )
    q = stream_to_processed(
        spark,
        raw,
        PROVEEDORES_SCHEMA,
        PROVEEDORES,
        "proveedores",
        "2025-03-05",
        tmp_path / "processed",
        tmp_path / "ckpt",
    )
    q.awaitTermination(60)
    out = spark.read.parquet(str(tmp_path / "processed" / "dim_proveedores"))
    rows = {r["supplier_id"]: r for r in out.collect()}
    assert set(rows) == {"P001", "P002"}
    assert rows["P001"]["supplier_name"] == "Solar SA"

    # second micro-batch run picks up only NEW files (checkpointed listing)
    (raw / "proveedores_2.csv").write_text(
        "ID_Proveedor,NombreProveedor,TipoEnergia,PaisOrigen,FechaInicioContrato\n"
        "P003,Hidro,Hidro,Peru,2022-01-01\n"
    )
    q2 = stream_to_processed(
        spark,
        raw,
        PROVEEDORES_SCHEMA,
        PROVEEDORES,
        "proveedores",
        "2025-03-06",
        tmp_path / "processed",
        tmp_path / "ckpt",
    )
    q2.awaitTermination(60)
    out2 = spark.read.parquet(str(tmp_path / "processed" / "dim_proveedores"))
    assert out2.count() == 3  # exactly-once: P001/P002 not re-ingested


def _event_stream_fixture(spark, tmp_path):
    rows = [
        ("2024-01-01 00:05:00", "click", 1, 10.0),
        ("2024-01-01 00:20:00", "click", 1, 5.0),
        ("2024-01-01 00:40:00", "view", 2, 2.0),
        ("2024-01-01 01:10:00", "click", 1, 7.0),
    ]
    src = tmp_path / "events_json"
    src.mkdir()
    import json

    (src / "batch1.json").write_text(
        "\n".join(
            json.dumps({"ts": ts, "event_type": et, "user_id": u, "value": v})
            for ts, et, u, v in rows
        )
    )
    schema = T.StructType(
        [
            T.StructField("ts", T.StringType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )


def test_streaming_windowed_counts(spark, tmp_path):
    stream = _event_stream_fixture(spark, tmp_path)
    agg = windowed_event_counts(stream, "1 hour", "2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got[("2024-01-01 00:00:00", "click")] == (2, 15.0)
    assert got[("2024-01-01 00:00:00", "view")] == (1, 2.0)
    assert got[("2024-01-01 01:00:00", "click")] == (1, 7.0)


def test_streaming_session_windows(spark, tmp_path):
    stream = _event_stream_fixture(spark, tmp_path)
    agg = session_event_windows(stream, gap="30 minutes", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_win")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM sess_win ORDER BY user_id, session_start").collect()
    # user 1: events at 00:05 and 00:20 chain into one session (gap<30m);
    # 01:10 starts a new session. user 2: single event session.
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 2
    assert by_user[1][0]["n_events"] == 2 and by_user[1][0]["session_value"] == 15.0
    assert by_user[1][1]["n_events"] == 1
    assert len(by_user[2]) == 1 and by_user[2][0]["n_events"] == 1


def test_streaming_stateful_user_lifetime(spark, tmp_path):
    """applyInPandasWithState keeps per-user state across micro-batch RUNS
    (checkpoint restore), accumulating lifetime totals."""
    import json

    from energy_datalake_solution_spark.streaming.pipeline import user_lifetime_stats

    src = tmp_path / "events_json"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("ts", T.StringType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    out_dir = tmp_path / "state_out"

    def run_batch(fname, rows):
        (src / fname).write_text(
            "\n".join(
                json.dumps({"ts": ts, "event_type": et, "user_id": u, "value": v})
                for ts, et, u, v in rows
            )
        )
        stream = (
            spark.readStream.schema(schema).json(str(src)).withColumn("ts", F.to_timestamp("ts"))
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(str(out_dir))

        q = (
            user_lifetime_stats(stream)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt_state"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch(
        "b1.json",
        [
            ("2024-01-01 00:05:00", "click", 1, 10.0),
            ("2024-01-01 00:20:00", "click", 1, 5.0),
            ("2024-01-01 00:40:00", "view", 2, 2.0),
        ],
    )
    run_batch("b2.json", [("2024-01-01 01:10:00", "click", 1, 7.0)])

    got = sorted(
        (r["user_id"], r["n_events"], r["total_value"])
        for r in spark.read.parquet(str(out_dir)).collect()
    )
    # run 1 emits user1=(2,15.0) user2=(1,2.0); run 2 (a NEW query restored
    # from the checkpointed state store) emits user1=(3,22.0) -- proving
    # per-key state survived the restart.
    assert got == [(1, 2, 15.0), (1, 3, 22.0), (2, 1, 2.0)]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Replayed event ids are dropped; state evicts beyond the watermark."""
    import json

    from energy_datalake_solution_spark.streaming.pipeline import dedup_event_stream

    src = tmp_path / "dup_events"
    src.mkdir()
    rows = [
        (100, "2024-01-01 00:05:00", "click", 1, 10.0),
        (100, "2024-01-01 00:05:00", "click", 1, 10.0),  # exact replay
        (101, "2024-01-01 00:06:00", "view", 2, 2.0),
        (101, "2024-01-01 00:07:00", "view", 2, 2.0),  # same id, later ts
        (102, "2024-01-01 00:08:00", "click", 1, 5.0),
    ]
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps({"event_id": e, "ts": ts, "event_type": et, "user_id": u, "value": v})
            for e, ts, et, u, v in rows
        )
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.StringType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema).json(str(src)).withColumn("ts", F.to_timestamp("ts"))
    )
    q = (
        dedup_event_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = sorted(r["event_id"] for r in spark.sql("SELECT * FROM dedup_stream").collect())
    assert got == [100, 101, 102]


def test_streaming_static_dim_enrichment(spark, tmp_path):
    from energy_datalake_solution_spark.streaming.pipeline import enrich_with_dimension

    stream = _event_stream_fixture(spark, tmp_path)
    dim = spark.createDataFrame(
        [("click", 2.0), ("view", 1.0)], "event_type string, weight double"
    )
    q = (
        enrich_with_dimension(stream, dim, "event_type")
        .select("user_id", "event_type", (F.col("value") * F.col("weight")).alias("weighted"))
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = spark.sql("SELECT round(sum(weighted), 2) AS s FROM enriched").collect()[0]["s"]
    # clicks (10+5+7)*2 + views 2*1 = 46.0
    assert got == 46.0


def test_streaming_merge_to_curated(spark, tmp_path):
    """Fused EP1+EP2: each micro-batch run upserts into the curated zone —
    re-sent keys replace rows, new keys append."""
    from energy_datalake_solution_spark.streaming.pipeline import stream_merge_to_curated

    raw = tmp_path / "raw"
    raw.mkdir()
    curated = tmp_path / "curated"

    (raw / "proveedores_1.csv").write_text(
        "ID_Proveedor,NombreProveedor,TipoEnergia,PaisOrigen,FechaInicioContrato\n"
        "P001,Solar SA,Solar,Espana,2020-01-15\n"
        "P002,Viento,Eolica,Chile,2021-06-01\n"
    )
    q = stream_merge_to_curated(
        spark, raw, PROVEEDORES_SCHEMA, PROVEEDORES, "proveedores",
        "2025-03-05", curated, tmp_path / "ckpt_m",
    )
    q.awaitTermination(120)
    from energy_datalake_solution_spark.sources.merge import curated_read
    out = curated_read(spark, curated, "dim_proveedores")
    assert out.count() == 2

    # second run: P001 renamed (upsert) + P003 added (insert)
    (raw / "proveedores_2.csv").write_text(
        "ID_Proveedor,NombreProveedor,TipoEnergia,PaisOrigen,FechaInicioContrato\n"
        "P001,Solar Renamed,Solar,Espana,2020-01-15\n"
        "P003,Hidro,Hidro,Peru,2022-01-01\n"
    )
    q2 = stream_merge_to_curated(
        spark, raw, PROVEEDORES_SCHEMA, PROVEEDORES, "proveedores",
        "2025-03-06", curated, tmp_path / "ckpt_m",
    )
    q2.awaitTermination(120)
    out2 = curated_read(spark, curated, "dim_proveedores")
    rows = {r["supplier_id"]: r["supplier_name"] for r in out2.collect()}
    assert rows == {"P001": "Solar Renamed", "P002": "Viento", "P003": "Hidro"}


def test_streaming_stream_stream_interval_join(spark, tmp_path):
    """Clicks join the preceding impression of the same ad within the
    horizon; out-of-horizon clicks match nothing."""
    import datetime as dt

    from energy_datalake_solution_spark.streaming.pipeline import (
        attribute_clicks_to_impressions,
    )

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imp_dir.mkdir(), clk_dir.mkdir()
    (imp_dir / "i1.csv").write_text(
        "ad_id,ts\nA,2025-03-05 10:00:00\nB,2025-03-05 10:05:00\n"
    )
    (clk_dir / "c1.csv").write_text(
        "ad_id,ts\n"
        "A,2025-03-05 10:20:00\n"   # within 1h of A -> match
        "B,2025-03-05 11:30:00\n"   # 85 min after B -> out of horizon
        "C,2025-03-05 10:10:00\n"   # no impression -> no match
    )
    schema = "ad_id string, ts timestamp"
    imp = spark.readStream.schema(schema).option("header", True).csv(str(imp_dir))
    clk = spark.readStream.schema(schema).option("header", True).csv(str(clk_dir))
    joined = attribute_clicks_to_impressions(imp, clk)
    q = (
        joined.writeStream.format("memory")
        .queryName("attribution")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM attribution").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["ad_id"] == "A"
    assert r["lag_seconds"] == 1200
    assert r["click_ts"] == dt.datetime(2025, 3, 5, 10, 20, 0)


def test_streaming_lm_scoring_matches_batch(spark, tmp_path):
    """Train the bigram LM in batch, score a stream replay of the same
    corpus: per-doc scores must reproduce docs_bigram_lm_score exactly."""
    from energy_datalake_solution_spark.operators.lm import (
        ADD_K,
        _doc_bigrams,
        docs_bigram_lm_score,
    )
    from energy_datalake_solution_spark.sources.catalog import load_table
    from energy_datalake_solution_spark.streaming.pipeline import score_stream_with_lm

    sf = SF_ORACLE
    batch_scores = {
        r.doc_id: r for r in docs_bigram_lm_score(spark, sf).collect()
    }

    # model-sized artifacts: pair logps + vocab scalar (same math as trainer)
    import math

    d = load_table(spark, sf, "documents")
    bg = _doc_bigrams(d)
    c12 = {
        (r.w1, r.w2): r.c
        for r in bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    c1: dict = {}
    for (w1, _), c in c12.items():
        c1[w1] = c1.get(w1, 0) + c
    vocab = len({w for pair in c12 for w in pair})  # model word set
    lm_logp = {
        pair: math.log((c + ADD_K) / (c1[pair[0]] + ADD_K * vocab))
        for pair, c in c12.items()
    }

    src = tmp_path / "docs_stream"
    src.mkdir()
    d.select("doc_id", "text").coalesce(1).write.json(str(src / "batch0"))
    stream = spark.readStream.schema("doc_id long, text string").json(
        str(src / "batch0")
    )
    q = (
        score_stream_with_lm(stream, lm_logp, vocab, ctx_counts=c1)
        .writeStream.format("memory")
        .queryName("lm_scored")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id: r for r in spark.sql("SELECT * FROM lm_scored").collect()}
    assert set(got) == set(batch_scores)
    for doc_id, r in got.items():
        assert r.n_bigrams == batch_scores[doc_id].n_bigrams
        assert abs(r.avg_logp - batch_scores[doc_id].avg_logp) < 1e-9


def test_streaming_lm_unseen_bigram_smoothing(spark):
    """Unseen bigram (w1, w2) with an IN-MODEL context w1 must get
    ln(k/(C(w1)+kV)), not the C=0 floor ln(k/(kV)) — the advisor-flagged
    bias for genuinely novel stream documents."""
    import math

    from energy_datalake_solution_spark.streaming.pipeline import (
        score_stream_with_lm,
    )

    # toy model: corpus was "a b a b a c" -> C(a,b)=2 C(b,a)=2 C(a,c)=1,
    # C(a)=3 C(b)=2, V=3, k=0.1
    k, V = 0.1, 3
    c1 = {"a": 3, "b": 2}
    lm = {
        ("a", "b"): math.log((2 + k) / (3 + k * V)),
        ("b", "a"): math.log((2 + k) / (2 + k * V)),
        ("a", "c"): math.log((1 + k) / (3 + k * V)),
    }
    doc = spark.createDataFrame([(1, "a z q b")], "doc_id long, text string")
    # bigrams: (a,z) unseen w/ in-model ctx a; (z,q) unseen w/ unseen ctx;
    # (q,b) unseen w/ unseen ctx
    got = score_stream_with_lm(doc, lm, V, add_k=k, ctx_counts=c1).collect()[0]
    want = (
        math.log(k / (3 + k * V))      # (a,z): C(a)=3
        + math.log(k / (k * V))        # (z,q): C(z)=0
        + math.log(k / (k * V))        # (q,b): C(q)=0
    ) / 3
    assert got.n_bigrams == 3
    assert abs(got.avg_logp - round(want, 6)) < 1e-9


def test_streaming_dedup_against_corpus_matches_batch(spark, tmp_path):
    """Stream replay of the ingest batch through the stream-static simhash
    probe: per-doc best match must equal the batch operator's answer."""
    from energy_datalake_solution_spark.operators.dedup import (
        INGEST_MOD,
        INGEST_REM,
        docs_incremental_simhash_dedup,
    )
    from energy_datalake_solution_spark.sources.catalog import load_table
    from energy_datalake_solution_spark.streaming.pipeline import (
        corpus_simhash_index,
        dedup_stream_against_corpus,
    )

    sf = SF_ORACLE
    batch_truth = {
        r.doc_id: r for r in docs_incremental_simhash_dedup(spark, sf).collect()
    }

    idx = corpus_simhash_index(spark, sf).where(
        F.pmod("corpus_id", F.lit(INGEST_MOD)) != F.lit(INGEST_REM)
    ).localCheckpoint()  # static side computed once, not per micro-batch

    d = load_table(spark, sf, "documents").where(
        F.pmod("doc_id", F.lit(INGEST_MOD)) == F.lit(INGEST_REM)
    )
    src = tmp_path / "ingest_stream"
    src.mkdir()
    d.select("doc_id", "text").coalesce(1).write.json(str(src / "b0"))
    stream = spark.readStream.schema("doc_id long, text string").json(str(src / "b0"))
    q = (
        dedup_stream_against_corpus(stream, idx)
        .writeStream.format("memory")
        .queryName("stream_dedup")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM stream_dedup").collect()

    # stream emits ALL verified matches; reduce to best per doc and compare
    best: dict = {}
    for r in got:
        cur = best.get(r.doc_id)
        if cur is None or (r.hamming, r.dup_of) < cur:
            best[r.doc_id] = (r.hamming, r.dup_of)
    assert set(best) == {d for d, r in batch_truth.items() if r.is_dup}
    for doc_id, (ham, dup_of) in best.items():
        t = batch_truth[doc_id]
        assert (ham, dup_of) == (t.best_hamming, t.dup_of), doc_id


def test_streaming_quality_router_partitions_stream(spark, tmp_path):
    """The router must send every scored doc to exactly one sink, split
    exactly at the floor, with scores equal to the batch scorer's."""
    import math

    from energy_datalake_solution_spark.operators.lm import (
        ADD_K,
        _doc_bigrams,
        docs_bigram_lm_score,
    )
    from energy_datalake_solution_spark.sources.catalog import load_table
    from energy_datalake_solution_spark.streaming.pipeline import (
        route_stream_by_quality,
    )

    sf = SF_ORACLE
    batch = {r.doc_id: r for r in docs_bigram_lm_score(spark, sf).collect()}
    # median as the floor: both sinks non-empty by construction
    floor = sorted(r.avg_logp for r in batch.values())[len(batch) // 2]

    d = load_table(spark, sf, "documents")
    bg = _doc_bigrams(d)
    c12 = {
        (r.w1, r.w2): r.c
        for r in bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    c1: dict = {}
    for (w1, _), c in c12.items():
        c1[w1] = c1.get(w1, 0) + c
    vocab = len({w for p in c12 for w in p})
    lm = {
        p: math.log((c + ADD_K) / (c1[p[0]] + ADD_K * vocab))
        for p, c in c12.items()
    }

    src = tmp_path / "router_src"
    src.mkdir()
    d.select("doc_id", "text").coalesce(1).write.json(str(src / "b0"))
    stream = spark.readStream.schema("doc_id long, text string").json(str(src / "b0"))
    q = route_stream_by_quality(
        stream, lm, vocab, c1, floor,
        tmp_path / "accept", tmp_path / "quarantine", tmp_path / "ckpt_route",
    )
    q.awaitTermination(120)

    acc = {r.doc_id: r for r in spark.read.parquet(str(tmp_path / "accept")).collect()}
    qua = {r.doc_id: r for r in spark.read.parquet(str(tmp_path / "quarantine")).collect()}
    assert set(acc) and set(qua)  # both sinks non-empty at the median floor
    assert not (set(acc) & set(qua))  # exactly one sink per doc
    assert set(acc) | set(qua) == set(batch)
    for doc_id, r in {**acc, **qua}.items():
        assert abs(r.avg_logp - batch[doc_id].avg_logp) < 1e-9
        assert (r.avg_logp >= floor) == (doc_id in acc)


def test_streaming_quality_router_restart_exactly_once(spark, tmp_path):
    """A second router run restored from the checkpoint must process ONLY
    newly-arrived files: already-routed docs are not re-appended."""
    import json
    import math

    from energy_datalake_solution_spark.streaming.pipeline import (
        route_stream_by_quality,
    )

    # tiny hand model: every bigram unseen -> constant score; the router's
    # split degenerates to floor comparison, which is all restart needs
    lm, c1, vocab = {}, {}, 3
    floor = math.log(0.1 / (0.1 * vocab))  # == every doc's avg_logp

    src = tmp_path / "router_restart_src"
    src.mkdir()

    def run(fname, rows):
        (src / fname).write_text(
            "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in rows)
        )
        stream = spark.readStream.schema("doc_id long, text string").json(str(src))
        q = route_stream_by_quality(
            stream, lm, vocab, c1, floor,
            tmp_path / "acc", tmp_path / "qua", tmp_path / "ckpt",
        )
        q.awaitTermination(120)

    run("b1.json", [(1, "a b c"), (2, "x y")])
    run("b2.json", [(3, "p q r")])

    acc = spark.read.parquet(str(tmp_path / "acc")).collect()
    ids = sorted(r.doc_id for r in acc)
    # every doc scores exactly at the floor -> all accepted, each ONCE:
    # the checkpointed source listing skipped b1 on the second run
    assert ids == [1, 2, 3]
    # quarantine stays empty (0 rows; the sink dir may hold 0-row files)
    qua = tmp_path / "qua"
    if any(f.suffix == ".parquet" for f in qua.iterdir() if f.is_file()) if qua.exists() else False:
        assert spark.read.parquet(str(qua)).count() == 0


def test_streaming_outer_interval_join_emits_unmatched(spark, tmp_path):
    """Left-outer stream-stream join: matched impressions carry their
    click; impressions whose horizon passed the click watermark emit with
    NULL click columns (the unconverted set). NULL emission needs a
    SUBSEQUENT micro-batch after the watermark advances (state flush
    happens at batch boundaries), so the test runs two availableNow
    passes over the same checkpoint — exactly how a periodic production
    trigger behaves."""
    import json

    from energy_datalake_solution_spark.streaming.pipeline import (
        unattributed_impressions,
    )

    imp_dir, clk_dir = tmp_path / "imps", tmp_path / "clicks"
    imp_dir.mkdir(); clk_dir.mkdir()

    def run():
        imps = (
            spark.readStream.schema("ad_id string, ts string").json(str(imp_dir))
            .withColumn("ts", F.to_timestamp("ts"))
        )
        clks = (
            spark.readStream.schema("ad_id string, ts string").json(str(clk_dir))
            .withColumn("ts", F.to_timestamp("ts"))
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(str(tmp_path / "attr_out"))

        q = (
            unattributed_impressions(imps, clks)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt_outer"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (imp_dir / "i.json").write_text(
        "\n".join(
            json.dumps({"ad_id": a, "ts": t})
            for a, t in [
                ("A", "2025-03-05 10:00:00"),   # converts at 10:20
                ("B", "2025-03-05 10:00:00"),   # never converts
            ]
        )
    )
    (clk_dir / "c1.json").write_text(
        json.dumps({"ad_id": "A", "ts": "2025-03-05 10:20:00"})
    )
    run()
    # late sentinels on BOTH streams: the global watermark is the MIN of
    # the per-stream watermarks (multipleWatermarkPolicy=min), so both
    # sides must advance past B's horizon before the NULL row can flush
    (clk_dir / "c2.json").write_text(
        json.dumps({"ad_id": "Z", "ts": "2025-03-05 23:00:00"})
    )
    (imp_dir / "i2.json").write_text(
        json.dumps({"ad_id": "Y", "ts": "2025-03-05 23:00:00"})
    )
    run()
    # one more batch: the watermark computed at the END of the sentinel
    # batch drives state eviction in the NEXT one
    (clk_dir / "c3.json").write_text(
        json.dumps({"ad_id": "Z2", "ts": "2025-03-05 23:30:00"})
    )
    run()

    rows = {r.ad_id: r for r in spark.read.parquet(str(tmp_path / "attr_out")).collect()}
    assert rows["A"].converted and str(rows["A"].click_ts) == "2025-03-05 10:20:00"
    assert "B" in rows, "unmatched impression must emit after watermark"
    assert not rows["B"].converted and rows["B"].click_ts is None


def test_streaming_pii_scrub_matches_batch(spark, tmp_path):
    """Replaying documents (with PII rows) through the streaming scrub must
    reproduce the batch scrub expression-for-expression."""
    from energy_datalake_solution_spark.operators.pii import scrub_columns
    from energy_datalake_solution_spark.streaming.pipeline import scrub_stream_pii

    rows = [
        (1, "mail a@b.com and c.d@e.org now"),
        (2, "call 555-123-4567 from 10.0.0.7"),
        (3, "nothing sensitive here"),
        (4, "1.2.3.4@44.com then 9.9.9.9"),
    ]
    batch_df = spark.createDataFrame(rows, "doc_id long, text string")
    expected = {r.doc_id: r for r in batch_df.select("doc_id", *scrub_columns()).collect()}

    src = tmp_path / "pii_stream"
    src.mkdir()
    batch_df.coalesce(1).write.json(str(src / "b0"))
    stream = spark.readStream.schema("doc_id long, text string").json(str(src / "b0"))
    q = (
        scrub_stream_pii(stream)
        .writeStream.format("memory")
        .queryName("pii_scrubbed")
        .option("checkpointLocation", str(tmp_path / "pii_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id: r for r in spark.sql("SELECT * FROM pii_scrubbed").collect()}
    assert set(got) == set(expected)
    for doc_id, r in got.items():
        e = expected[doc_id]
        assert (r.n_emails, r.n_phones, r.n_ips, r.clean_text) == (
            e.n_emails, e.n_phones, e.n_ips, e.clean_text
        )


def test_streaming_sequence_packing_matches_batch_across_batches(spark, tmp_path):
    """Two micro-batches of documents (split by doc_id, so per-source
    arrival order equals doc_id order) must produce EXACTLY the batch
    packing assignment — the per-source offset state carries across
    micro-batches."""
    from energy_datalake_solution_spark.plans.registry import QUERIES, get_queries
    from energy_datalake_solution_spark.streaming.pipeline import pack_stream_docs

    get_queries()
    sf = SF_ORACLE
    batch_rows = {
        r.doc_id: r for r in QUERIES["docs_sequence_packing"].fn(spark, sf).collect()
    }

    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "source", "text")
    src = tmp_path / "pack_stream"
    src.mkdir()
    # two files split by doc_id; maxFilesPerTrigger=1 -> two ordered batches
    docs.where("doc_id < 250").coalesce(1).write.json(str(src / "a_first"))
    docs.where("doc_id >= 250").coalesce(1).write.json(str(src / "b_second"))
    stream = (
        spark.readStream.schema("doc_id long, source string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src / "*"))
    )
    q = (
        pack_stream_docs(stream)
        .writeStream.format("memory")
        .queryName("packed_stream")
        .option("checkpointLocation", str(tmp_path / "pack_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r.doc_id: r for r in spark.sql("SELECT * FROM packed_stream").collect()}
    assert set(got) == set(batch_rows)
    for doc_id, r in got.items():
        b = batch_rows[doc_id]
        assert (
            r.source, r.n_tokens, r.start_offset, r.seq_id,
            r.n_sequences_spanned, r.crosses_boundary,
        ) == (
            b.source, b.n_tokens, b.start_offset, b.seq_id,
            b.n_sequences_spanned, b.crosses_boundary,
        ), doc_id


def test_streaming_sequence_packing_null_text_parity(spark, tmp_path):
    """A NULL-text document must get the identical row the batch operator
    gives it (NULL token/span fields, real start offset) and must NOT
    advance the running offset for its successors."""
    from energy_datalake_solution_spark.operators.packing import docs_sequence_packing
    from energy_datalake_solution_spark.streaming.pipeline import pack_stream_docs

    d = tmp_path / "lake"
    d.mkdir()
    rows = [
        (1, "a b c", "en", "s0", 5),
        (2, None, "en", "s0", 0),
        (3, "d e", "en", "s0", 3),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(d / "documents.parquet"))
    batch = {r.doc_id: r for r in docs_sequence_packing(spark, str(d)).collect()}
    assert batch[2].n_tokens is None and batch[2].crosses_boundary is None
    assert batch[3].start_offset == 3  # NULL doc advanced nothing

    src = tmp_path / "s"
    src.mkdir()
    spark.createDataFrame(
        [(i, t, s) for i, t, _l, s, _n in rows], "doc_id long, text string, source string"
    ).coalesce(1).write.json(str(src / "b0"))
    stream = spark.readStream.schema("doc_id long, text string, source string").json(
        str(src / "b0")
    )
    q = (
        pack_stream_docs(stream)
        .writeStream.format("memory")
        .queryName("null_packed")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id: r for r in spark.sql("SELECT * FROM null_packed").collect()}
    for i in (1, 2, 3):
        b, g = batch[i], got[i]
        assert (g.n_tokens, g.start_offset, g.seq_id, g.n_sequences_spanned,
                g.crosses_boundary) == (
            b.n_tokens, b.start_offset, b.seq_id, b.n_sequences_spanned,
            b.crosses_boundary,
        ), i


def test_streaming_ivf_index_sink_exactly_once(spark, tmp_path):
    """Embeddings stream into the stored IVF index: two micro-batches
    commit as two index versions, a replayed batch_id is a no-op, and the
    streamed vectors are immediately probe-visible in their clusters."""
    import json

    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.functions.vector import l2_norm
    from energy_datalake_solution_spark.operators.ann_index import (
        build_ivf_index,
        clustered_embeddings,
        ivf_index_append,
        ivf_probe,
    )
    from energy_datalake_solution_spark.sources.snapshots import current_version
    from energy_datalake_solution_spark.streaming.pipeline import stream_ivf_index_sink

    # corpus + initial index from the first 800 clustered vectors
    corpus = clustered_embeddings(spark, n=1000, n_clusters=8)
    d = tmp_path / "corpus"
    d.mkdir()
    corpus.where(F.col("vec_id") < 800).write.parquet(str(d / "embeddings.parquet"))
    idx = tmp_path / "idx"
    build_ivf_index(spark, str(d), idx, nlist=8)
    v0 = current_version(idx / "cells")

    # stream the remaining 200 vectors as two micro-batches of json files
    src = tmp_path / "src"
    src.mkdir()
    late = corpus.where(F.col("vec_id") >= 800).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    late.where(F.col("vec_id") < 900).coalesce(1).write.json(str(src / "b0"))
    late.where(F.col("vec_id") >= 900).coalesce(1).write.json(str(src / "b1"))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src / "*"))
    )
    ckpt = tmp_path / "ckpt_ivf"
    q = stream_ivf_index_sink(stream, idx, ckpt)
    q.awaitTermination(120)
    assert current_version(idx / "cells") == v0 + 2  # one version per batch

    # crash replay: same (app, batch_id) through the same code path = no-op
    before = current_version(idx / "cells")
    ivf_index_append(
        spark, late.where(F.col("vec_id") >= 900), idx, txn=1, txn_app=str(ckpt)
    )
    assert current_version(idx / "cells") == before

    # a streamed vector is probe-visible and lands among its cluster kin
    e = corpus.where(l2_norm(F.col("embedding")) > 0)
    qv = e.where(F.col("vec_id") == 955).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    hits = ivf_probe(spark, qv, idx, nprobe=2).collect()
    assert hits and all(r.neighbor_id % 8 == 955 % 8 for r in hits)
    assert any(r.neighbor_id >= 800 for r in hits)  # streamed vecs findable


def test_streaming_quality_router_quarantines_unscorable_docs(spark, tmp_path):
    """NULL-text and single-token docs have no bigrams to score; the router
    must default-route them to quarantine (with NULL avg_logp), never drop
    them from BOTH zones — a router that loses unscorable data is a silent
    data-loss bug."""
    import math

    from energy_datalake_solution_spark.streaming.pipeline import (
        route_stream_by_quality,
    )

    lm = {("a", "b"): math.log(0.5)}
    rows = [
        (1, "a b a b"),      # scorable, high likelihood
        (2, None),           # NULL text — unscorable
        (3, "lonetoken"),    # single token — unscorable
    ]
    src = tmp_path / "router_unscorable"
    src.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.json(
        str(src / "b0")
    )
    stream = spark.readStream.schema("doc_id long, text string").json(str(src / "b0"))
    q = route_stream_by_quality(
        stream, lm, 2, {"a": 2}, -10.0,
        tmp_path / "acc2", tmp_path / "qua2", tmp_path / "ckpt_route2",
    )
    q.awaitTermination(120)
    acc = {r.doc_id for r in spark.read.parquet(str(tmp_path / "acc2")).collect()}
    qua = {r.doc_id: r for r in spark.read.parquet(str(tmp_path / "qua2")).collect()}
    assert acc == {1}
    assert set(qua) == {2, 3}          # unscorable docs land in quarantine
    assert all(qua[i].avg_logp is None for i in (2, 3))
    assert all(qua[i].n_bigrams == 0 for i in (2, 3))


def test_streaming_dsir_scoring_matches_batch(spark, tmp_path):
    """Train the DSIR model in batch, score a stream replay of the same
    corpus: per-doc weights must reproduce docs_dsir_weights exactly, and
    a document hashing into only-unseen buckets must get the exact
    Laplace default, not a guess."""
    import math

    from energy_datalake_solution_spark.operators.retrieval import (
        DSIR_BUCKETS,
        _dsir_bucketed,
        docs_dsir_weights,
    )
    from energy_datalake_solution_spark.operators.retrieval import dsir_llr_model
    from energy_datalake_solution_spark.sources.catalog import load_table
    from energy_datalake_solution_spark.streaming.pipeline import score_stream_dsir

    sf = SF_ORACLE
    batch_scores = {r.doc_id: r for r in docs_dsir_weights(spark, sf).collect()}

    d = load_table(spark, sf, "documents")
    model_rows = dsir_llr_model(_dsir_bucketed(d)).collect()
    llr_by_bucket = {r.bucket: r.llr for r in model_rows}
    t_r = sum(r.c_r for r in model_rows)
    t_t = sum(r.c_t for r in model_rows)
    default_llr = math.log((t_r + DSIR_BUCKETS) / (t_t + DSIR_BUCKETS))

    src = tmp_path / "docs_stream"
    src.mkdir()
    d.select("doc_id", "text").coalesce(1).write.json(str(src / "batch0"))
    stream = spark.readStream.schema("doc_id long, text string").json(
        str(src / "batch0")
    )
    q = (
        score_stream_dsir(stream, llr_by_bucket, default_llr)
        .writeStream.format("memory")
        .queryName("dsir_scored")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id: r for r in spark.sql("SELECT * FROM dsir_scored").collect()}
    assert set(got) == set(batch_scores)
    for doc_id, r in got.items():
        assert r.n_features == batch_scores[doc_id].n_features
        assert abs(r.dsir_weight - batch_scores[doc_id].dsir_weight) < 1e-9

    # unseen-bucket default: score a doc whose bigrams are certainly novel
    novel = spark.createDataFrame(
        [(999999, "zzqx1 zzqx2 zzqx3")], "doc_id long, text string"
    )
    out = score_stream_dsir(novel, {}, default_llr).collect()
    assert out[0].n_features == 2
    assert abs(out[0].dsir_weight - round(default_llr, 6)) < 1e-9


def test_streaming_heavy_hitters_bounded_state_and_exactly_once(spark, tmp_path):
    """The streaming MG summary: state never exceeds k rows, the merged
    bound holds against exact counts over EVERYTHING streamed (est <=
    true, true - est <= n/(k+1)), the planted dominant key surfaces
    first, and a crash replay of a committed batch is a no-op."""
    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
        snapshot_read,
    )
    from energy_datalake_solution_spark.streaming.pipeline import (
        stream_heavy_hitters_sink,
    )

    K = 8
    # two micro-batches; user 7 owns half of each
    rows = [(7 if i % 2 == 0 else 1000 + i,) for i in range(3000)]
    src = tmp_path / "src"
    src.mkdir()
    df = spark.createDataFrame(rows, "user_id long")
    df.where("user_id = 7 or user_id < 2500").coalesce(1).write.json(str(src / "b0"))
    df.where("user_id >= 2500").coalesce(1).write.json(str(src / "b1"))

    t = tmp_path / "summary"
    ckpt = tmp_path / "ckpt"
    stream = (
        spark.readStream.schema("user_id long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src / "*"))
    )
    q = stream_heavy_hitters_sink(stream, t, ckpt, k=K)
    q.awaitTermination(120)

    got = {r.user_id: r.est_count for r in snapshot_read(spark, t).collect()}
    assert len(got) <= K  # bounded state
    true = {}
    for (u,) in rows:
        true[u] = true.get(u, 0) + 1
    bound = len(rows) / (K + 1)
    for u, est in got.items():
        assert est <= true[u]
        assert true[u] - est <= bound
    top = max(got.items(), key=lambda t_: t_[1])
    assert top[0] == 7  # the planted dominant key

    # crash replay: re-delivering batch 1 under the same stamp is a no-op
    v = current_version(t)
    from pyspark.sql import functions as F  # noqa: F401

    q2 = stream_heavy_hitters_sink(
        spark.readStream.schema("user_id long").option("maxFilesPerTrigger", 1).json(str(src / "*")),
        t, ckpt, k=K,
    )
    q2.awaitTermination(120)
    assert current_version(t) == v  # checkpoint says done; txn stamps agree


def test_ann_probe_stream_matches_batch_probe_exactly_once(spark, tmp_path):
    """A query stream probed against the stored PQ index emits, across
    all micro-batches, exactly the batch probe's rows for the same query
    set; a full restart over the same source replays nothing (the
    (app, batch) stamp already landed)."""
    import json as _json

    from pyspark.sql import functions as F

    from energy_datalake_solution_spark.operators.pq_index import (
        _pq_index_for,
        _unit_rows,
        pq_probe,
    )
    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
        snapshot_read,
    )
    from energy_datalake_solution_spark.streaming.pipeline import (
        ann_probe_stream,
    )
    from .conftest import SF_ORACLE

    root, books = _pq_index_for(spark, SF_ORACLE)
    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    q = _unit_rows(e).where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("q_id"), F.col("unit").alias("q_emb")
    )
    rows = q.collect()
    qdir = tmp_path / "queries"
    qdir.mkdir()
    # two "arrival" files -> (at least) two micro-batches under availableNow
    for i, chunk in enumerate((rows[:3], rows[3:])):
        with open(qdir / f"batch{i}.json", "w") as f:
            for r in chunk:
                f.write(_json.dumps(
                    {"q_id": r["q_id"], "q_emb": list(r["q_emb"])}
                ) + "\n")
    out = tmp_path / "results"
    ck = tmp_path / "ck"
    ann_probe_stream(
        spark, qdir, root, out, ck, SF_ORACLE, books=books
    ).awaitTermination(120)
    got = snapshot_read(spark, out).toPandas()
    want = pq_probe(spark, q, root, books=books, sf_dir=SF_ORACLE).toPandas()
    key = ["query_id", "neighbor_id", "cosine_sim", "rank"]
    a = got.sort_values(key).reset_index(drop=True)
    b = want.sort_values(key).reset_index(drop=True)
    assert a[key].equals(b[key]), "stream probe diverged from batch probe"
    # restart over the same source: offsets + txn stamps -> zero new rows
    v = current_version(out)
    ann_probe_stream(
        spark, qdir, root, out, ck, SF_ORACLE, books=books
    ).awaitTermination(120)
    assert current_version(out) == v
    assert snapshot_read(spark, out).count() == len(want)


def test_stream_snapshot_merge_sink_exactly_once_cdc_apply(spark, tmp_path):
    """Streaming conditional MERGE: a change stream of upserts and
    tombstones applies to a snapshot table exactly once — updates ride
    the MOR path (standing files never rewritten), tombstones delete,
    new keys insert, and a replayed micro-batch (crash between commit
    and checkpoint) is a no-op via the txn stamp."""
    import json as _json

    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
        last_txn,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )
    from energy_datalake_solution_spark.streaming.pipeline import (
        stream_snapshot_merge_sink,
    )

    t = tmp_path / "serving"
    snapshot_write(
        spark.range(100).selectExpr("id AS k", "id * 10 AS v"), t,
        stats_cols=["k"], n_files=4,
    )
    src = tmp_path / "changes"
    src.mkdir()
    rows = [
        {"k": 5, "v": 555},      # update
        {"k": 7, "v": -1},       # tombstone (v < 0 -> DELETE arm)
        {"k": 900, "v": 9},      # insert
    ]
    (src / "batch0.json").write_text(
        "\n".join(_json.dumps(r) for r in rows)
    )
    stream = spark.readStream.schema("k long, v long").json(str(src))
    ckpt = tmp_path / "ckpt"
    q = stream_snapshot_merge_sink(
        stream, t, ["k"], ckpt,
        matched_update={"v": "s.v"},
        matched_update_condition="s.v >= 0",
        matched_delete=True,
        matched_delete_condition="s.v < 0",
    )
    q.awaitTermination(120)
    got = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert got[5] == 555 and 7 not in got and got[900] == 9
    assert len(got) == 100
    v_after = current_version(t)
    app = str(ckpt.resolve())
    assert last_txn(t, app) == 0  # batch 0 stamped

    # crash replay: re-running the SAME batch through the engine is a
    # no-op before any work (no new version, contents unchanged)
    batch = spark.createDataFrame([(5, 1), (900, -1)], "k long, v long")
    snapshot_merge(
        spark, batch, t, ["k"],
        matched_update={"v": "s.v"}, matched_delete=True,
        txn=0, txn_app=app,
    )
    assert current_version(t) == v_after
    assert {r.k: r.v for r in snapshot_read(spark, t).collect()} == got

    # a LATER batch (new txn) applies normally
    (src / "batch1.json").write_text(_json.dumps({"k": 5, "v": 556}))
    q2 = stream_snapshot_merge_sink(
        stream, t, ["k"], ckpt,
        matched_update={"v": "s.v"},
        matched_update_condition="s.v >= 0",
        matched_delete=True,
        matched_delete_condition="s.v < 0",
    )
    q2.awaitTermination(120)
    got2 = {r.k: r.v for r in snapshot_read(spark, t).collect()}
    assert got2[5] == 556 and len(got2) == 100


def test_stream_fanout_txn_sink_atomic_and_replay_safe(spark, tmp_path):
    """Atomic fan-out: one micro-batch routes to two snapshot tables in
    ONE transaction (both advance together), and a replayed batch — the
    crash-between-commit-and-checkpoint case — is a no-op on both."""
    import json as _json

    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
        snapshot_read,
        snapshot_write,
    )
    from energy_datalake_solution_spark.streaming.pipeline import (
        stream_fanout_txn_sink,
    )

    clicks_t, errors_t = tmp_path / "clicks", tmp_path / "errors"
    empty = spark.createDataFrame([], "k long, kind string")
    snapshot_write(empty, clicks_t, stats_cols=["k"], n_files=1)
    snapshot_write(empty, errors_t, stats_cols=["k"], n_files=1)
    src = tmp_path / "in"
    src.mkdir()
    rows = [{"k": 1, "kind": "click"}, {"k": 2, "kind": "error"},
            {"k": 3, "kind": "click"}]
    (src / "b0.json").write_text("\n".join(_json.dumps(r) for r in rows))
    stream = spark.readStream.schema("k long, kind string").json(str(src))
    ckpt = tmp_path / "ckpt"
    routes = [
        (clicks_t, lambda df: df.where("kind = 'click'")),
        (errors_t, lambda df: df.where("kind = 'error'")),
    ]
    q = stream_fanout_txn_sink(stream, routes, ckpt)
    q.awaitTermination(120)
    assert {r.k for r in snapshot_read(spark, clicks_t).collect()} == {1, 3}
    assert {r.k for r in snapshot_read(spark, errors_t).collect()} == {2}
    vc, ve = current_version(clicks_t), current_version(errors_t)

    # crash replay of the SAME batch: stamps already landed on both
    # tables, the transaction stages nothing, no pointer moves
    from energy_datalake_solution_spark.sources.snapshots import (
        SnapshotTransaction,
        snapshot_append,
    )

    batch = spark.createDataFrame(rows, "k long, kind string")
    app = str(ckpt.resolve())
    with SnapshotTransaction():
        for t, fn in routes:
            out = fn(batch)
            if not out.isEmpty():
                snapshot_append(out, t, txn=0, txn_app=app)
    assert current_version(clicks_t) == vc and current_version(errors_t) == ve
    assert snapshot_read(spark, clicks_t).count() == 2
    assert snapshot_read(spark, errors_t).count() == 1


def test_cdc_mirror_loop_continuous_and_crash_replay(spark, tmp_path):
    """The continuous CDC replication loop (snapshot_mirror_cycle):
    each cycle applies the source's net changes to the replica inside
    one transaction with progress stamped in the replica's txn map.
    Covers same-key multi-change windows (update-then-delete nets to
    delete; delete-then-reinsert nets to upsert), a crash mid-cycle
    (second apply half dies inside the transaction — the replica must
    be untouched and the retried cycle must converge), and replay of a
    completed cycle (a pure no-op)."""
    import hashlib

    from energy_datalake_solution_spark.sources import snapshots as S
    from energy_datalake_solution_spark.sources.snapshots import (
        current_version,
        snapshot_append,
        snapshot_clone,
        snapshot_delete_where,
        snapshot_read,
        snapshot_update_where,
        snapshot_write,
    )
    from energy_datalake_solution_spark.streaming.pipeline import (
        snapshot_mirror_cycle,
    )

    src, rep = tmp_path / "src", tmp_path / "rep"
    snapshot_write(
        spark.range(100).selectExpr("id AS k", "id * 10 AS v"), src,
        stats_cols=["k"], n_files=4,
    )
    snapshot_clone(src, rep)
    boot = current_version(src)

    def content(t):
        return {r.k: r.v for r in snapshot_read(spark, t).collect()}

    # cycle 1: plain update / delete / insert plus the same-key nets
    snapshot_update_where(spark, src, "k BETWEEN 10 AND 19", {"v": "v + 1"})
    snapshot_delete_where(spark, src, "k BETWEEN 20 AND 29")
    snapshot_append(
        spark.range(100, 110).selectExpr("id AS k", "id * 10 AS v"), src
    )
    snapshot_update_where(spark, src, "k = 30", {"v": "v + 5"})
    snapshot_delete_where(spark, src, "k = 30")  # update-then-delete
    snapshot_delete_where(spark, src, "k = 31")
    snapshot_append(
        spark.createDataFrame([(31, 999)], "k long, v long"), src
    )  # delete-then-reinsert
    got = snapshot_mirror_cycle(
        spark, src, rep, ["k"], initial_version=boot
    )
    assert got == current_version(src)
    assert content(rep) == content(src)
    assert content(rep)[31] == 999 and 30 not in content(rep)

    # cycle 2 crashes between the two apply halves: the transaction
    # aborts, the replica is untouched, progress did not advance
    snapshot_update_where(spark, src, "k BETWEEN 40 AND 49", {"v": "v + 2"})
    snapshot_delete_where(spark, src, "k BETWEEN 50 AND 59")
    before = content(rep)

    real_merge = S.snapshot_merge
    calls = {"n": 0}

    def dying_merge(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash between apply halves")
        return real_merge(*a, **kw)

    S.snapshot_merge = dying_merge
    try:
        with __import__("pytest").raises(RuntimeError, match="injected"):
            snapshot_mirror_cycle(spark, src, rep, ["k"],
                                  initial_version=boot)
    finally:
        S.snapshot_merge = real_merge
    assert content(rep) == before, "aborted cycle leaked changes"

    # the retried cycle converges
    snapshot_mirror_cycle(spark, src, rep, ["k"], initial_version=boot)
    assert content(rep) == content(src)

    # replaying a completed cycle is a no-op (no new replica version,
    # byte-identical data files)
    v = current_version(rep)
    h = {
        f.name: hashlib.sha256(f.read_bytes()).hexdigest()
        for f in rep.rglob("*.parquet")
    }
    assert snapshot_mirror_cycle(
        spark, src, rep, ["k"], initial_version=boot
    ) == current_version(src)
    assert current_version(rep) == v
    assert {
        f.name: hashlib.sha256(f.read_bytes()).hexdigest()
        for f in rep.rglob("*.parquet")
    } == h


def test_streaming_identity_exactly_once(spark, tmp_path):
    """The exactly-once sink protocol composes with identity columns:
    each micro-batch's rows allocate fresh grid values, and a REPLAYED
    batch (same (app, txn) stamp — the crash-between-sink-and-checkpoint
    case) is skipped without allocating, so ids never duplicate and the
    high-water mark never double-advances."""
    from energy_datalake_solution_spark.sources.snapshot_catalog import (
        SnapshotCatalog,
    )
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append_once,
        snapshot_read,
    )

    cat = SnapshotCatalog(spark)
    t = tmp_path / "t"
    cat.sql(
        f"CREATE TABLE sid (id bigint GENERATED ALWAYS AS IDENTITY, "
        f"v bigint) USING snapshot LOCATION '{t}'"
    )
    snapshot_append_once(
        spark.range(5).selectExpr("id AS v"), t, txn=0, txn_app="app"
    )
    snapshot_append_once(
        spark.range(5, 8).selectExpr("id AS v"), t, txn=1, txn_app="app"
    )
    before = sorted(r.id for r in snapshot_read(spark, t).collect())
    assert before == list(range(1, 9))
    # replay of batch 1: must be a no-op (no rows, no mark advance)
    snapshot_append_once(
        spark.range(5, 8).selectExpr("id AS v"), t, txn=1, txn_app="app"
    )
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == before
    # the next REAL batch continues right after the mark
    snapshot_append_once(
        spark.range(8, 9).selectExpr("id AS v"), t, txn=2, txn_app="app"
    )
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == list(
        range(1, 10)
    )
