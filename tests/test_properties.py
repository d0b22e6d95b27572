"""Property-based invariants (hypothesis) for the stateful lake operations.

Example-based tests pin known scenarios; these assert the invariants that
must hold for ANY input: merge keeps keys unique and newest-wins, SCD2
keeps exactly one current row per key and never loses history. Examples
are kept small (Spark jobs per example), but hypothesis explores the edge
shapes — empty batches, all-duplicate batches, single keys.
"""

from __future__ import annotations

from datetime import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

KEYS = st.integers(min_value=0, max_value=8)
VALS = st.integers(min_value=0, max_value=100)

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(
    target=st.lists(st.tuples(KEYS, VALS), min_size=1, max_size=12),
    batch=st.lists(st.tuples(KEYS, VALS), min_size=0, max_size=12),
)
@settings(**SETTINGS)
def test_merge_upsert_key_unique_and_batch_wins(spark, target, batch):
    """After an upsert: every key appears once; keys present in the batch
    carry a batch value; keys absent from the batch keep a target value."""
    from energy_datalake_solution_spark.sources.merge import dedup_on_keys

    t = spark.createDataFrame(
        [(k, v, datetime(2024, 1, 1, 0, 0, i % 60)) for i, (k, v) in enumerate(target)],
        "k int, v int, load_timestamp_utc timestamp",
    )
    b = spark.createDataFrame(
        [(k, v, datetime(2025, 1, 1, 0, 0, i % 60)) for i, (k, v) in enumerate(batch)],
        "k int, v int, load_timestamp_utc timestamp",
    ) if batch else spark.createDataFrame([], "k int, v int, load_timestamp_utc timestamp")

    t1 = dedup_on_keys(t, ("k",))
    b1 = dedup_on_keys(b, ("k",))
    merged = t1.join(b1.select("k"), "k", "left_anti").unionByName(b1)

    rows = merged.collect()
    ks = [r["k"] for r in rows]
    assert len(ks) == len(set(ks)), "keys must be unique after upsert"
    assert set(ks) == {k for k, _ in target} | {k for k, _ in batch}
    batch_vals = {k: {v for kk, v in batch if kk == k} for k, _ in batch}
    target_vals = {k: {v for kk, v in target if kk == k} for k, _ in target}
    for r in rows:
        if r["k"] in batch_vals:
            assert r["v"] in batch_vals[r["k"]], "batch must win on matched keys"
        else:
            assert r["v"] in target_vals[r["k"]]


@given(
    dim=st.lists(st.tuples(KEYS, VALS), min_size=1, max_size=10, unique_by=lambda t: t[0]),
    updates=st.lists(st.tuples(KEYS, VALS), min_size=0, max_size=10, unique_by=lambda t: t[0]),
)
@settings(**SETTINGS)
def test_scd2_invariants(spark, dim, updates):
    """For ANY update batch: exactly one current row per key; closed rows
    are never deleted; current values reflect the latest update."""
    from energy_datalake_solution_spark.sources.merge import scd2_apply

    existing = spark.createDataFrame(
        [(str(k), v, datetime(2020, 1, 1), None, True) for k, v in dim],
        "key string, attr int, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    upd = spark.createDataFrame(
        [(str(k), v, datetime(2024, 6, 1)) for k, v in updates],
        "key string, attr int, effective_ts timestamp",
    ) if updates else spark.createDataFrame([], "key string, attr int, effective_ts timestamp")

    out = scd2_apply(existing, upd, "key", ["attr"], "effective_ts").collect()

    cur = [r for r in out if r["is_current"]]
    cur_keys = [r["key"] for r in cur]
    assert len(cur_keys) == len(set(cur_keys)), "one current row per key"
    assert set(cur_keys) == {str(k) for k, _ in dim} | {str(k) for k, _ in updates}

    dimmap = dict((str(k), v) for k, v in dim)
    updmap = dict((str(k), v) for k, v in updates)
    for r in cur:
        expect = updmap.get(r["key"], dimmap.get(r["key"]))
        assert r["attr"] == expect, "current row must carry the latest attrs"
    # every closed row has a close timestamp; history only grows for changes
    closed = [r for r in out if not r["is_current"]]
    assert all(r["valid_to"] is not None for r in closed)
    n_changed = sum(1 for k, v in updates if k in {d[0] for d in dim} and dimmap[str(k)] != v)
    assert len(closed) == n_changed


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),   # day offset
            st.sampled_from(["click", "view"]),
            st.integers(min_value=0, max_value=50),  # integral value: exact sums
        ),
        min_size=1,
        max_size=16,
    ),
    split_at=st.integers(min_value=0, max_value=16),
)
@settings(**SETTINGS)
def test_incremental_rollup_equals_one_shot(spark, tmp_path_factory, events, split_at):
    """Maintaining the rollup incrementally over ANY split of the batch
    yields exactly the one-shot aggregation of all events (count/sum are
    decomposable; integral values make sums exact)."""
    from datetime import datetime

    from energy_datalake_solution_spark.sources.merge import update_daily_rollup

    tmp = tmp_path_factory.mktemp("rollup")

    def mk(rows):
        return spark.createDataFrame(
            [(datetime(2024, 1, 1 + d, 12, 0, 0), t, float(v)) for d, t, v in rows],
            "ts timestamp, event_type string, value double",
        )

    split_at = min(split_at, len(events))
    b1, b2 = events[:split_at], events[split_at:]
    p = tmp / "r"
    if b1:
        update_daily_rollup(spark, mk(b1), p)
    if b2:
        update_daily_rollup(spark, mk(b2), p)
    got = {
        (str(r["day"]), r["dim"]): (r["n_events"], r["total_value"])
        for r in spark.read.parquet(str(p)).collect()
    }
    expect = {}
    for d, t, v in events:
        k = (f"2024-01-{1 + d:02d}", t)
        n, s = expect.get(k, (0, 0.0))
        expect[k] = (n + 1, s + v)
    assert got == {k: (n, round(s, 2)) for k, (n, s) in expect.items()}


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), min_size=3, max_size=12),
        min_size=2,
        max_size=10,
    ),
)
@settings(**SETTINGS)
def test_jaccard_ppjoin_filters_lossless(spark, tmp_path_factory, docs):
    """The prefix + length + positional filters must be LOSSLESS for ANY
    corpus: the operator's pair set equals the brute-force all-pairs
    word-3-gram Jaccard at the threshold (including exact-duplicate texts,
    where J = 1)."""
    from energy_datalake_solution_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        docs_ngram_jaccard_pairs,
    )

    texts = [" ".join(words) for words in docs]
    sets = [
        {" ".join(words[i : i + 3]) for i in range(len(words) - 2)} for words in docs
    ]
    expected = set()
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            inter = len(sets[i] & sets[j])
            union = len(sets[i] | sets[j])
            if union and inter / union >= JACCARD_THRESHOLD:
                expected.add((i, j))

    d = tmp_path_factory.mktemp("ppjoin")
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in docs_ngram_jaccard_pairs(spark, str(d)).collect()
    }
    assert got == expected


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "bb", "ccc", "dd", "e"]), min_size=1, max_size=90),
        min_size=1,
        max_size=6,
    ),
)
@settings(**SETTINGS)
def test_chunking_covers_every_token_in_order(spark, tmp_path_factory, docs):
    """For ANY corpus, the fixed-token chunker must emit exactly the stride
    starts (ceil(n/stride) chunks per doc), with chunk_idx dense from 0,
    sizes CHUNK_TOKENS except a shorter tail, and each chunk hashing the
    md5 of exactly its token window — i.e. lossless, ordered coverage."""
    import hashlib
    import math

    from energy_datalake_solution_spark.operators.spans import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        docs_chunk_fixed_tokens,
    )

    texts = [" ".join(words) for words in docs]
    d = tmp_path_factory.mktemp("chunks")
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = {}
    for r in docs_chunk_fixed_tokens(spark, str(d)).collect():
        got.setdefault(r.doc_id, {})[r.chunk_idx] = (r.n_tokens, r.chunk_hash)

    for i, words in enumerate(docs):
        n = len(words)
        expected_chunks = math.ceil(n / CHUNK_STRIDE)
        assert set(got[i]) == set(range(expected_chunks))
        for k in range(expected_chunks):
            start = k * CHUNK_STRIDE
            window = words[start : start + CHUNK_TOKENS]
            n_tok, h = got[i][k]
            assert n_tok == len(window)
            assert h == hashlib.md5(" ".join(window).encode()).hexdigest()


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),                      # user
            st.sampled_from(["view", "click", "purchase", "error"]),    # type
            st.integers(min_value=0, max_value=20),                     # ts (sec)
        ),
        min_size=1,
        max_size=40,
    ),
)
@settings(**SETTINGS)
def test_funnel_matches_reference_on_any_event_set(spark, tmp_path_factory, events):
    """Ordered-funnel semantics on ANY event set: a user converts to a
    stage only via the canonical chain — earliest view, then earliest
    click strictly after it, then earliest purchase strictly after that
    click. Duplicates, same-timestamp events, and out-of-order arrival
    must all resolve identically to the plain-Python reference."""
    import datetime

    from energy_datalake_solution_spark.operators.events import (
        events_funnel_view_click_purchase,
    )

    base = datetime.datetime(2025, 1, 1)
    rows = [
        (i, base + datetime.timedelta(seconds=ts), u, et, 1.0, "{}")
        for i, (u, et, ts) in enumerate(events)
    ]
    d = tmp_path_factory.mktemp("funnel")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(d / "events.parquet"))

    # reference: strict-after chain on earliest stage timestamps
    per_user: dict = {}
    for u, et, ts in events:
        per_user.setdefault(u, []).append((et, ts))
    n_view = n_click = n_purchase = 0
    for u, evs in per_user.items():
        views = sorted(ts for et, ts in evs if et == "view")
        if not views:
            continue
        n_view += 1
        clicks = sorted(ts for et, ts in evs if et == "click" and ts > views[0])
        if not clicks:
            continue
        n_click += 1
        if any(et == "purchase" and ts > clicks[0] for et, ts in evs):
            n_purchase += 1

    got = {
        r.stage: r.n_users
        for r in events_funnel_view_click_purchase(spark, str(d)).collect()
    }
    assert got == {
        "view": n_view,
        "view>click": n_click,
        "view>click>purchase": n_purchase,
    }


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),     # user
            st.integers(min_value=0, max_value=40),    # day offset
        ),
        min_size=1,
        max_size=30,
    ),
)
@settings(**SETTINGS)
def test_cohort_retention_matches_reference(spark, tmp_path_factory, events):
    """Weekly cohort retention on ANY event set must equal the reference:
    users bucketed by ISO-week of first event, counted once per distinct
    active week at the exact week offset."""
    import datetime

    from energy_datalake_solution_spark.operators.events import (
        events_weekly_cohort_retention,
    )

    base = datetime.datetime(2025, 1, 6)  # a Monday, so weeks are clean
    rows = [
        (i, base + datetime.timedelta(days=day), u, "view", 1.0, "{}")
        for i, (u, day) in enumerate(events)
    ]
    d = tmp_path_factory.mktemp("cohort")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(d / "events.parquet"))

    def week_start(day: int) -> datetime.date:
        dt = (base + datetime.timedelta(days=day)).date()
        return dt - datetime.timedelta(days=dt.weekday())

    expected: dict = {}
    per_user: dict = {}
    for u, day in events:
        per_user.setdefault(u, []).append(day)
    for u, days in per_user.items():
        cohort = week_start(min(days))
        for wk in {week_start(dd) for dd in days}:
            off = (wk - cohort).days // 7
            expected[(cohort, off)] = expected.get((cohort, off), 0) + 1

    got = {
        (r.cohort_week, r.week_offset): r.n_users
        for r in events_weekly_cohort_retention(spark, str(d)).collect()
    }
    assert got == expected


@given(
    names=st.lists(
        st.text(alphabet="abc x", min_size=0, max_size=8),
        min_size=1,
        max_size=12,
    ),
)
@settings(**SETTINGS)
def test_fuzzy_join_blocking_lossless(spark, tmp_path_factory, names):
    """The length-band blocking + thresholded verify must equal brute-force
    Levenshtein <= k over ANY name multiset (empty strings, all-equal
    names, spaces, length outliers)."""
    from energy_datalake_solution_spark.operators.fuzzy import (
        EDIT_K,
        parts_fuzzy_name_pairs,
    )
    from .test_fuzzy import _levenshtein

    d = tmp_path_factory.mktemp("fuzzy")
    spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "p_partkey long, p_name string"
    ).write.mode("overwrite").parquet(str(d / "part.parquet"))

    distinct = sorted(set(names))
    expected = {
        (a, b, _levenshtein(a, b))
        for i, a in enumerate(distinct)
        for b in distinct[i + 1 :]
        if _levenshtein(a, b) <= EDIT_K
    }
    got = {
        (r.name_a, r.name_b, r.edit_distance)
        for r in parts_fuzzy_name_pairs(spark, str(d)).collect()
    }
    assert got == expected


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "dd", "e f"]), min_size=0, max_size=12),
        min_size=1,
        max_size=14,
    ),
)
@settings(**SETTINGS)
def test_incremental_simhash_dedup_matches_python_reference(
    spark, tmp_path_factory, docs
):
    """The full fingerprint -> banding -> Hamming-verify -> best-match
    chain must equal an independent pure-Python simhash implementation on
    ANY corpus (the oracle mirrors the SQL; this reference shares no code
    or engine with either side)."""
    import hashlib

    from energy_datalake_solution_spark.operators.dedup import (
        HAMMING_THRESHOLD,
        INGEST_MOD,
        INGEST_REM,
        SIMHASH_BANDS,
        docs_incremental_simhash_dedup,
    )

    texts = [" ".join(words) for words in docs]

    def py_simhash(text: str) -> int:
        votes = [0] * 60
        for t in set(text.split(" ")):
            h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
            for b in range(60):
                votes[b] += 1 if (h >> b) & 1 else -1
        return sum(1 << b for b in range(60) if votes[b] > 0)

    fps = {i: py_simhash(t) for i, t in enumerate(texts)}
    batch = {i for i in fps if i % INGEST_MOD == INGEST_REM}
    corpus = set(fps) - batch

    def bands(sh):
        return {(b, (sh >> (b * 15)) & 32767) for b in range(SIMHASH_BANDS)}

    expected = {}
    for b_id in batch:
        best = None
        for c_id in corpus:
            if bands(fps[b_id]) & bands(fps[c_id]):
                ham = bin(fps[b_id] ^ fps[c_id]).count("1")
                if ham <= HAMMING_THRESHOLD:
                    cand = (ham, c_id)
                    best = cand if best is None or cand < best else best
        expected[b_id] = best

    d = tmp_path_factory.mktemp("incdedup")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = {
        r.doc_id: r for r in docs_incremental_simhash_dedup(spark, str(d)).collect()
    }
    assert set(got) == batch
    for b_id in batch:
        r = got[b_id]
        if expected[b_id] is None:
            assert (r.is_dup, r.dup_of, r.best_hamming) == (False, -1, -1), b_id
        else:
            ham, c_id = expected[b_id]
            assert (r.is_dup, r.dup_of, r.best_hamming) == (True, c_id, ham), b_id


@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),          # doc_id
            st.integers(min_value=1, max_value=300),         # n_tokens worth of words
            st.sampled_from(["sA", "sB"]),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    )
)
@settings(**SETTINGS)
def test_sequence_packing_invariants(spark, tmp_path_factory, docs):
    """For ANY corpus: per-shard offsets tile the token stream exactly
    (no gap/overlap), seq spans are consistent with offsets, and the
    boundary flag is true iff the doc touches >1 sequence."""
    from energy_datalake_solution_spark.operators.packing import SEQ_LEN, docs_sequence_packing

    d = tmp_path_factory.mktemp("pack")
    rows = [(i, " ".join(["w"] * n), "en", src, n) for i, n, src in docs]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(d / "documents.parquet"))
    out = {r.doc_id: r for r in docs_sequence_packing(spark, str(d)).collect()}
    assert len(out) == len(docs)
    # python reference: per-source running offsets in doc_id order
    offsets = {}
    for i, n, src in sorted(docs):
        start = offsets.get(src, 0)
        offsets[src] = start + n
        r = out[i]
        assert r.n_tokens == n
        assert r.start_offset == start
        assert r.seq_id == start // SEQ_LEN
        last = (start + n - 1) // SEQ_LEN
        assert r.n_sequences_spanned == last - r.seq_id + 1
        assert r.crosses_boundary == (last > r.seq_id)


@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-4.0, max_value=4.0, allow_nan=False, width=32),
            min_size=64,
            max_size=64,
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_int8_quantization_roundtrip_bound(spark, tmp_path_factory, vecs):
    """For ANY vector set: codes stay in [-127, 127], relative
    reconstruction error never exceeds half a quantization step (plus fp
    slack), and zero vectors are dropped rather than crashing."""
    from energy_datalake_solution_spark.operators.quantize import embeddings_int8_quantization

    d = tmp_path_factory.mktemp("quant")
    rows = [(i, v, 0) for i, v in enumerate(vecs)]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int").write.parquet(
        str(d / "embeddings.parquet")
    )
    out = embeddings_int8_quantization(spark, str(d)).collect()
    nonzero = sum(1 for v in vecs if any(x != 0.0 for x in v))
    assert len(out) == nonzero
    for r in out:
        assert r.scale > 0
        assert abs(r.q_checksum) <= 127 * 64
        assert 1 <= r.n_saturated <= 64
        assert r.max_rel_error_micro <= 500_000  # <= 0.5 steps
        assert 0 <= r.rms_rel_error_micro <= r.max_rel_error_micro


@given(data=st.binary(min_size=0, max_size=4000))
@settings(max_examples=200, deadline=None)
def test_gif_lzw_roundtrip_property(data):
    """LZW compress->decompress is the identity for ANY byte string —
    hypothesis hunts the dictionary-growth, width-switch, and KwKwK edges
    no fixed example set covers. (Pure-Python, no Spark: 200 examples.)"""
    from energy_datalake_solution_spark.operators.multimodal import (
        _lzw_compress,
        _lzw_decompress,
    )

    assert _lzw_decompress(_lzw_compress(data)) == data


@given(
    rows=st.integers(min_value=1, max_value=6),
    cols=st.integers(min_value=1, max_value=6),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=50, deadline=None)
def test_png_filter_roundtrip_property(rows, cols, seed):
    """Encoding a random raster with each PNG filter per row and decoding
    it back is the identity, for any (h, w) — exercises Sub/Up/Average/
    Paeth interactions beyond the fixed generating-formula payloads.
    Driven through the real synth/decode helpers' underlying arithmetic
    by building a one-off PNG with the module's own chunk writer."""
    import random
    import struct
    import zlib

    import numpy as np

    from energy_datalake_solution_spark.operators.multimodal import (
        _PNG_SIG,
        _paeth,
        _png_chunk,
    )

    rng = random.Random(seed)
    bpp = 3
    raster = np.array(
        [[rng.randrange(256) for _ in range(cols * bpp)] for _ in range(rows)],
        dtype=np.int64,
    )
    out = bytearray()
    prior = np.zeros(cols * bpp, dtype=np.int64)
    for yy in range(rows):
        raw = raster[yy]
        left = np.concatenate([np.zeros(bpp, dtype=np.int64), raw[:-bpp]])
        ul = np.concatenate([np.zeros(bpp, dtype=np.int64), prior[:-bpp]])
        ftype = (seed + yy) % 5
        if ftype == 0:
            filt = raw
        elif ftype == 1:
            filt = (raw - left) % 256
        elif ftype == 2:
            filt = (raw - prior) % 256
        elif ftype == 3:
            filt = (raw - (left + prior) // 2) % 256
        else:
            pred = np.array(
                [_paeth(int(a), int(b), int(c)) for a, b, c in zip(left, prior, ul)],
                dtype=np.int64,
            )
            filt = (raw - pred) % 256
        out.append(ftype)
        out.extend(filt.astype(np.uint8).tobytes())
        prior = raw
    ihdr = struct.pack(">IIBBBBB", cols, rows, 8, 2, 0, 0, 0)
    buf = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )

    # no Spark here (200x-example budget): decode with a minimal local
    # unfilter that mirrors the module kernel's arithmetic; the Spark
    # kernel itself is exercised by the fixed-payload tests and the gate
    pos, idat = len(_PNG_SIG), b""
    while pos + 12 <= len(buf):
        (size,) = struct.unpack(">I", buf[pos : pos + 4])
        ctype = buf[pos + 4 : pos + 8]
        body = buf[pos + 8 : pos + 8 + size]
        if ctype == b"IDAT":
            idat += body
        pos += 12 + size
    raw2 = zlib.decompress(idat)
    stride = cols * bpp
    cube = np.zeros((rows, stride), dtype=np.int64)
    prior = np.zeros(stride, dtype=np.int64)
    for yy in range(rows):
        line = raw2[yy * (1 + stride) : (yy + 1) * (1 + stride)]
        ftype = line[0]
        fb = np.frombuffer(line[1:], dtype=np.uint8).astype(np.int64)
        if ftype == 0:
            recon = fb
        elif ftype == 1:
            recon = fb.copy()
            for k in range(bpp, stride):
                recon[k] = (recon[k] + recon[k - bpp]) % 256
        elif ftype == 2:
            recon = (fb + prior) % 256
        elif ftype == 3:
            recon = fb.copy()
            for k in range(stride):
                lft = recon[k - bpp] if k >= bpp else 0
                recon[k] = (recon[k] + (lft + prior[k]) // 2) % 256
        else:
            recon = fb.copy()
            for k in range(stride):
                lft = recon[k - bpp] if k >= bpp else 0
                ulv = prior[k - bpp] if k >= bpp else 0
                recon[k] = (recon[k] + _paeth(int(lft), int(prior[k]), int(ulv))) % 256
        cube[yy] = recon
        prior = recon
    assert (cube == raster).all()


@given(
    batches=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),  # rows in the batch
            st.integers(min_value=1, max_value=5),   # partition count
        ),
        min_size=1, max_size=4,
    ),
    start=st.integers(min_value=-10, max_value=10),
    step=st.sampled_from([1, 2, 5, -3]),
)
@settings(**SETTINGS)
def test_identity_allocation_unique_and_on_grid(
    spark, tmp_path_factory, batches, start, step
):
    """Whatever the batch sizes and partition layouts, GENERATED ALWAYS
    AS IDENTITY allocation yields values that are (1) unique, (2) on the
    start + i*step grid, and (3) strictly advancing the high-water mark
    batch over batch — Delta's identity contract (contiguity is NOT
    promised)."""
    from energy_datalake_solution_spark.sources.snapshots import (
        snapshot_append,
        snapshot_create_table,
        snapshot_read,
    )

    t = tmp_path_factory.mktemp("identity_prop") / "t"
    snapshot_create_table(
        t,
        [("id", "bigint", None, None, {"start": start, "step": step}),
         ("v", "bigint", None, None, None)],
    )
    total = 0
    prev_frontier = None
    for n_rows, n_parts in batches:
        df = spark.range(n_rows).repartition(n_parts).selectExpr("id AS v")
        snapshot_append(df, t)
        total += n_rows
        ids = [r.id for r in snapshot_read(spark, t).select("id").collect()]
        assert len(ids) == total
        assert len(set(ids)) == total, "duplicate identity values"
        assert all((i - start) % step == 0 for i in ids), "off-grid value"
        if ids:
            frontier = max(ids) if step > 0 else min(ids)
            if prev_frontier is not None and n_rows > 0:
                # the new batch's values sit strictly past every older one
                assert (frontier > prev_frontier if step > 0
                        else frontier < prev_frontier)
            if n_rows > 0:
                prev_frontier = frontier


# ---------------------------------------------------------------------------
# Column-spec grammar round-trip: a CREATE TABLE column spec with its
# clauses in any order, read back through DESCRIBE TABLE.
# ---------------------------------------------------------------------------

_CS_NAMES = st.sampled_from(["c", "col_1", "Val", "x9"])
_CS_TYPES = st.sampled_from(["bigint", "int", "string", "double", "decimal(10,2)"])
_CS_DEFAULTS = st.sampled_from([
    "1", "0.5", "'txt'", "'it''s'", "NULL", "current_date()",
    "1 + 2", "2 * 4 - 1", "'a' || 'b'", "CAST('2024-01-01' AS date)",
    "date_add(current_date(), 7)",
    # operator spacing variants — all the same legal SQL
    "1 +2", "1+ 2", "1+2", "'a'||'b'", "'a' ||'b'",
])
_CS_COMMENTS = st.sampled_from([None, "plain", "with 'quote'"])


@given(
    name=_CS_NAMES,
    dtype=_CS_TYPES,
    default=st.one_of(st.none(), _CS_DEFAULTS),
    notnull=st.booleans(),
    comment=_CS_COMMENTS,
    order=st.permutations([0, 1, 2]),
)
@settings(max_examples=80, deadline=None)
def test_col_spec_grammar_roundtrip(
    spark, tmp_path_factory, name, dtype, default, notnull, comment, order
):
    """Any combination of DEFAULT / NOT NULL / COMMENT clauses, in ANY
    order, creates a table whose DESCRIBE TABLE row gives back exactly
    the components it was rendered from — including infix-operator and
    function-call expression defaults."""
    from energy_datalake_solution_spark.sources.snapshot_catalog import (
        SnapshotCatalog,
    )

    clauses = [None, None, None]
    clauses[0] = f"DEFAULT {default}" if default is not None else None
    clauses[1] = "NOT NULL" if notnull else None
    clauses[2] = (
        "COMMENT '" + comment.replace("'", "''") + "'"
        if comment is not None else None
    )
    rendered = " ".join(
        [f"{name} {dtype}"] + [clauses[i] for i in order if clauses[i]]
    )
    cat = SnapshotCatalog(spark)
    t = tmp_path_factory.mktemp("colspec")
    cat.sql(f"CREATE TABLE cs ({rendered}) USING snapshot LOCATION '{t}'")
    row = cat.sql("DESCRIBE TABLE cs").first()
    assert row.col_name == name
    assert row.data_type.replace(" ", "") == dtype.replace(" ", "")
    info = row.info or ""
    assert info.startswith("NOT NULL") == notnull, rendered
    if default is None:
        assert "DEFAULT" not in info
    else:
        assert info.split("DEFAULT ", 1)[1] == default, rendered
    assert row.comment == comment


@given(
    dup=st.sampled_from(["DEFAULT 1 DEFAULT 2", "NOT NULL NOT NULL",
                         "COMMENT 'a' COMMENT 'b'"]),
)
@settings(max_examples=10, deadline=None)
def test_col_spec_duplicate_clauses_refuse(spark, tmp_path_factory, dup):
    import pytest

    from energy_datalake_solution_spark.sources.snapshot_catalog import (
        SnapshotCatalog,
    )

    t = tmp_path_factory.mktemp("colspec_dup")
    with pytest.raises(ValueError, match="column spec"):
        SnapshotCatalog(spark).sql(
            f"CREATE TABLE csd (c bigint {dup}) USING snapshot LOCATION '{t}'"
        )
    assert not (t / "_latest").exists()
