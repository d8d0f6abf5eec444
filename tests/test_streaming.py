"""Structured Streaming ingestion tests: streamed detection equals the
batch run; restart resumes from checkpoint without duplicating spans;
watermarked monitor aggregates."""

import pytest

from igtdetect_spark.flagship import get_synthetic_model


@pytest.fixture(scope="module")
def ctx(spark, lexicons):
    from igtdetect_spark.plans.pipeline import DetectContext

    return DetectContext(spark, get_synthetic_model(), lexicons)


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    from igtdetect_spark.sources.pages import synthetic_pages

    d = str(tmp_path_factory.mktemp("pages_stream"))
    # several files so maxFilesPerTrigger yields multiple micro-batches
    synthetic_pages(spark, 30, n_partitions=6).write.mode("overwrite").parquet(d)
    return d


def test_streamed_detection_matches_batch(spark, ctx, pages_dir, tmp_path_factory):
    from igtdetect_spark.plans.pipeline import detect_spans_fused
    from igtdetect_spark.streaming.ingest import (
        read_pages_stream,
        start_detect_stream,
    )

    out = str(tmp_path_factory.mktemp("spans_stream"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_stream"))
    stream = read_pages_stream(spark, pages_dir, max_files_per_trigger=2)
    q = start_detect_stream(stream, ctx, out, ckpt, available_now=True)
    q.awaitTermination(300)

    got = spark.read.parquet(out).drop("batch_id")
    want = detect_spans_fused(spark.read.parquet(pages_dir), ctx)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # restart with the same checkpoint: nothing new → no duplicates
    q2 = start_detect_stream(
        read_pages_stream(spark, pages_dir), ctx, out, ckpt, available_now=True
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == want.count()


def test_replayed_batch_is_idempotent(spark, ctx, pages_dir, tmp_path_factory):
    """foreachBatch replay (crash after write, before checkpoint commit):
    re-writing the same batch_id must overwrite its own partition, not
    append a second copy."""
    from igtdetect_spark.plans.pipeline import detect_spans_fused
    from igtdetect_spark.streaming.ingest import write_spans_batch

    out = str(tmp_path_factory.mktemp("spans_replay"))
    spans = detect_spans_fused(spark.read.parquet(pages_dir), ctx)
    n = spans.count()
    write_spans_batch(spans, out, batch_id=7)
    write_spans_batch(spans, out, batch_id=7)  # the replay
    assert spark.read.parquet(out).count() == n
    write_spans_batch(spans, out, batch_id=8)  # a different batch appends
    assert spark.read.parquet(out).count() == 2 * n


def test_stateful_streaming_sessionization(spark, tmp_path_factory):
    """applyInPandasWithState sessionization: streamed closed-session
    output matches the batch gaps-and-islands sessions (same gap, same
    integer-cents discipline). Files are time-ordered so every non-final
    session per user closes via the data path; final open sessions may
    only flush via the watermark timer, so the contract is
    batch_minus_last ⊆ streamed ⊆ batch."""
    import pandas as pd

    from pyspark.sql import functions as F

    from igtdetect_spark.streaming.sessions import (
        SESSION_SCHEMA,
        sessionize_stream,
    )

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

    # batch expectation: same semantics as entry_queries.q_session_windows
    epdf = events.select("user_id", "event_id", "ts", "value").toPandas()
    epdf = epdf.sort_values(["user_id", "ts", "event_id"])
    epdf["_epoch"] = (
        epdf["ts"].astype("datetime64[ns]").astype("int64") // 1_000_000_000
    )
    import math

    epdf["_cents"] = (
        epdf["value"].astype("float64") * 100
    ).apply(math.floor).astype("int64")
    batch = set()
    last_per_user = set()
    for uid, g in epdf.groupby("user_id"):
        ep = g["_epoch"].to_numpy()
        new = [True] + list((ep[1:] - ep[:-1]) > 1800)
        sid = pd.Series(new, index=g.index).cumsum()
        sess_keys = []
        for _, s in g.groupby(sid):
            key = (
                int(uid), int(s["_epoch"].iloc[0]), int(s["_epoch"].iloc[-1]),
                len(s), int(s["_cents"].sum()),
                int(s["event_id"].min()), int(s["event_id"].max()),
            )
            sess_keys.append(key)
        batch.update(sess_keys)
        last_per_user.add(sess_keys[-1])

    # 3 time-ordered files → monotone watermark across micro-batches
    src = str(tmp_path_factory.mktemp("events_stream"))
    ts_sorted = events.orderBy("ts", "event_id").toPandas()
    n = len(ts_sorted)
    for i, lo in enumerate(range(0, n, (n + 2) // 3)):
        part = ts_sorted.iloc[lo:lo + (n + 2) // 3]
        spark.createDataFrame(part).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/f{i}")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    out = str(tmp_path_factory.mktemp("sessions_out"))
    ckpt = str(tmp_path_factory.mktemp("sessions_ckpt"))
    q = (
        sessionize_stream(stream, gap_sec=1800)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (
            r["user_id"], r["session_start"], r["session_end"],
            r["n_events"], r["value_cents"], r["first_event"],
            r["last_event"],
        )
        for r in spark.read.schema(SESSION_SCHEMA).parquet(out).collect()
    }
    assert got <= batch, "streamed session not in batch result"
    assert (batch - last_per_user) <= got, "a closed session was not emitted"
    assert got  # non-trivial


def test_ingest_monitor_watermark(spark, pages_dir, tmp_path_factory):
    from igtdetect_spark.streaming.ingest import (
        read_pages_stream,
        start_ingest_monitor,
    )

    ckpt = str(tmp_path_factory.mktemp("ckpt_mon"))
    stream = read_pages_stream(spark, pages_dir)
    q = start_ingest_monitor(stream, ckpt).trigger(availableNow=True).start()
    q.awaitTermination(300)
    rows = spark.sql("select * from ingest_monitor").collect()
    assert sum(r["n_pages"] for r in rows) == 30
    assert all(r["window"]["start"] is not None for r in rows)


def test_fold_sessions_late_data_merge_rules():
    """Late-data folding (round-3 advice): with a non-zero watermark
    delay, in-batch sessions may precede the carried open session —
    session_start must lower, session_end must never move backwards, and
    a late session with a real gap closes on its own."""
    from igtdetect_spark.streaming.sessions import _fold_sessions

    gap = 100
    # carried session spans [1000, 1200]
    def carried():
        return [1000, 1200, 3, 300, 10, 12]

    # 1. late session straddling the carried start: merge, start lowers
    closed, op = _fold_sessions(carried(), [(950, 1050, 2, 50, 8, 9)], gap)
    assert closed == [] and op == [950, 1200, 5, 350, 8, 12]

    # 2. late session INSIDE the carried span: end must not move back
    closed, op = _fold_sessions(carried(), [(1050, 1100, 1, 10, 99, 99)], gap)
    assert closed == [] and op == [1000, 1200, 4, 310, 10, 99]

    # 3. late session entirely before with a real gap: closes alone
    closed, op = _fold_sessions(carried(), [(700, 800, 2, 20, 1, 2)], gap)
    assert closed == [(700, 800, 2, 20, 1, 2)]
    assert op == carried()

    # 4. session after the horizon: carried closes, new one opens
    closed, op = _fold_sessions(carried(), [(1400, 1500, 2, 20, 20, 21)], gap)
    assert closed == [(1000, 1200, 3, 300, 10, 12)]
    assert op == [1400, 1500, 2, 20, 20, 21]

    # 5. no carried session: last in-batch session stays open
    closed, op = _fold_sessions(
        None, [(1, 2, 1, 1, 1, 1), (500, 600, 2, 2, 2, 3)], gap
    )
    assert closed == [(1, 2, 1, 1, 1, 1)] and op == [500, 600, 2, 2, 2, 3]


def test_fold_sessions_multi_session_batch_late_data():
    """Round-4 advice regression: a stand-alone late session sharing a
    micro-batch with a mergeable current session must NOT close the
    carried open session. Also covers the chained merge where the carried
    session's extended end reaches the NEXT in-batch session."""
    from igtdetect_spark.streaming.sessions import _fold_sessions

    gap = 100

    # the advice repro: open=[1000,1200], batch sessions (700,800) and
    # (1150,1160) — (700,800) closes alone, (1150,1160) merges into the
    # STILL-OPEN carried session.
    closed, op = _fold_sessions(
        [1000, 1200, 3, 300, 10, 12],
        [(700, 800, 2, 20, 1, 2), (1150, 1160, 1, 5, 50, 50)],
        gap,
    )
    assert closed == [(700, 800, 2, 20, 1, 2)]
    assert op == [1000, 1200, 4, 305, 10, 50]

    # chained merge: open [900, 1000] bridges two in-batch sessions that
    # are gap-separated from EACH OTHER ((700,850)→(1050,1100) gap 200)
    # but each within gap of the carried span — all three become one.
    closed, op = _fold_sessions(
        [900, 1000, 2, 200, 5, 6],
        [(700, 850, 2, 20, 1, 2), (1050, 1100, 1, 10, 9, 9)],
        gap,
    )
    assert closed == []
    assert op == [700, 1100, 5, 230, 1, 9]

    # two late stand-alone sessions + one merging current one
    closed, op = _fold_sessions(
        [1000, 1200, 3, 300, 10, 12],
        [(100, 150, 1, 1, 1, 1), (400, 450, 1, 2, 2, 2),
         (1250, 1260, 1, 3, 30, 30)],
        gap,
    )
    assert closed == [(100, 150, 1, 1, 1, 1), (400, 450, 1, 2, 2, 2)]
    assert op == [1000, 1260, 4, 303, 10, 30]


def test_streaming_exact_dedup_within_watermark(spark, tmp_path_factory):
    """First delivery of a content fingerprint passes, replays inside
    the watermark horizon are dropped, and a re-delivery AFTER the
    horizon (state evicted) is a new observation."""
    from datetime import datetime

    from igtdetect_spark.streaming.dedup import dedup_stream_exact

    def row(minute, url, text):
        return (url, datetime(2024, 1, 1, minute // 60, minute % 60), text)

    files = [
        # X twice in one batch + Y: dup dropped
        [row(0, "u0", "X"), row(1, "u1", "Y"), row(2, "u2", "X")],
        # X again within horizon (watermark still behind): dropped
        [row(5, "u3", "X")],
        # Z advances the watermark past X's expiry (0 + 10 min)
        [row(30, "u4", "Z")],
        # W advances it again — eviction of expired keys happens at
        # batch boundaries using the PREVIOUS batch's watermark, so X's
        # entry is physically dropped during this batch
        [row(90, "u6", "W")],
        # X after eviction: NEW observation, passes again
        [row(120, "u5", "X")],
    ]
    src = str(tmp_path_factory.mktemp("dedup_stream"))
    schema = "url string, warc_ts timestamp, text string"
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/f{i}")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    out = str(tmp_path_factory.mktemp("dedup_out"))
    ckpt = str(tmp_path_factory.mktemp("dedup_ckpt"))
    q = (
        dedup_stream_exact(stream, watermark="10 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = sorted(
        (r["url"], r["fp"])
        for r in spark.read.schema(
            "url string, ts timestamp, fp string"
        ).parquet(out).collect()
    )
    urls = [u for u, _ in got]
    assert urls == ["u0", "u1", "u4", "u5", "u6"], urls
    fps = dict(got)
    assert fps["u0"] == fps["u5"]          # same content, re-admitted
    assert len({fps["u0"], fps["u1"], fps["u4"], fps["u6"]}) == 4


def test_streaming_neardup_lsh(spark, tmp_path_factory):
    """Online near-dup: a doc near-identical to an earlier one is flagged
    (shares ≥1 band with first_url pointing at the original), unrelated
    docs are all-first, the band values equal the batch kernel's
    (backfill parity), and a post-horizon re-delivery becomes a fresh
    first (state evicted)."""
    from datetime import datetime, timedelta

    from igtdetect_spark.streaming.dedup import neardup_stream

    base = datetime(2024, 1, 1, 12, 0, 0)
    lorem = ("the quick brown fox jumps over the lazy dog near the river "
             "bank while a careful reader counts every distinct token")
    other = ("completely different content about spark catalyst planning "
             "and adaptive query execution with columnar batches")
    horizon = 600

    # 3 time-ordered files: original+unrelated → near-dup copy →
    # far-future re-delivery (watermark passes the horizon in between)
    batches = [
        [("u://a", base, lorem), ("u://c", base, other)],
        # u://b is a near-dup of a; u://a is also RE-DELIVERED (at-least-
        # once source) — it must stay is_first, never a match of itself
        [("u://b", base + timedelta(seconds=60), lorem),
         ("u://a", base + timedelta(seconds=90), lorem)],
        [("u://d", base + timedelta(seconds=horizon + 3600), lorem)],
    ]
    src = str(tmp_path_factory.mktemp("neardup_stream_src"))
    for i, rows in enumerate(batches):
        spark.createDataFrame(
            rows, "url string, warc_ts timestamp, text string"
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")

    schema = "url string, warc_ts timestamp, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    out = str(tmp_path_factory.mktemp("neardup_stream_out"))
    ckpt = str(tmp_path_factory.mktemp("neardup_stream_ckpt"))
    q = (
        neardup_stream(stream, horizon_sec=horizon)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    from igtdetect_spark.streaming.dedup import _NEARDUP_SCHEMA

    rows = spark.read.schema(_NEARDUP_SCHEMA).parquet(out).collect()
    by_url = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)

    # u://a and u://c arrived first: every band is_first — INCLUDING
    # u://a's in-horizon re-delivery (no self-match on replay)
    assert all(r["is_first"] for r in by_url["u://a"])
    assert all(r["is_first"] for r in by_url["u://c"])
    assert sum(1 for r in by_url["u://a"]) == 8  # 4 bands × 2 deliveries
    # u://b (identical text, inside horizon): every band matches u://a
    assert by_url["u://b"] and all(
        (not r["is_first"]) and r["first_url"] == "u://a"
        for r in by_url["u://b"]
    )
    # u://d re-delivers the same text AFTER the horizon: state was
    # evicted, so it is a fresh first again
    assert by_url["u://d"] and all(r["is_first"] for r in by_url["u://d"])

    # backfill parity: streamed band hashes == batch kernel band hashes
    from igtdetect_spark.operators.dedup import minhash_band_hashes

    batch_bands = {
        (r["band"], r["band_hash"])
        for r in minhash_band_hashes(
            spark.createDataFrame([(1, lorem)], "doc_id long, text string")
        ).collect()
    }
    stream_bands = {(r["band"], r["band_hash"]) for r in by_url["u://a"]}
    assert stream_bands == batch_bands


def test_streaming_funnel_matches_batch_gates(spark, tmp_path_factory):
    """END-TO-END stream/backfill agreement (round-4 verdict #7): the
    sf0.001 documents corpus replayed as a file stream through the
    streaming exact-dedup and near-dup operators yields the SAME
    surviving doc set as the batch curation gates (exact keep-one +
    near-dup representative) — pinning the funnel, not just each
    kernel. Replay order is doc_id order (the batch tie-break), all
    inside one horizon, so greedy online survival and batch
    min-id-representative coincide on this corpus's pair-shaped
    near-dup structure."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from igtdetect_spark.operators.dedup import (
        fingerprint_docs,
        neardup_clusters,
    )
    from igtdetect_spark.streaming.dedup import (
        _NEARDUP_SCHEMA,
        dedup_stream_exact,
        neardup_stream,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    # ---- batch gates (the curation_funnel's exact + near-dup stages)
    fp = fingerprint_docs(docs)
    keep = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("_keep"))
    exact_keep = {
        r["doc_id"]
        for r in fp.join(keep, "fingerprint")
        .filter(F.col("doc_id") == F.col("_keep"))
        .collect()
    }
    rep = {
        r["doc_id"]
        for r in neardup_clusters(docs)
        .filter("is_representative")
        .collect()
    }
    batch_survivors = exact_keep & rep
    batch_fps = {
        r["doc_id"]: r["fingerprint"] for r in fp.collect()
    }

    # ---- replay: url=doc_id, event time advancing in doc_id order,
    # 5 files -> 5 micro-batches (maxFilesPerTrigger=1)
    base = datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (str(d), base + timedelta(seconds=d), t)
        for d, t in sorted(
            (r["doc_id"], r["text"]) for r in docs.collect()
        )
    ]  # NUMERIC doc_id order: arrival order == event-time order, so
    # the 0-second near-dup watermark never drops a later file's rows
    src = str(tmp_path_factory.mktemp("funnel_src"))
    schema = "url string, warc_ts timestamp, text string"
    chunk = (len(rows) + 4) // 5
    for i in range(5):
        spark.createDataFrame(
            rows[i * chunk:(i + 1) * chunk], schema
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")

    def run(make_df, out_schema):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*")
        )
        out = str(tmp_path_factory.mktemp("funnel_out"))
        ckpt = str(tmp_path_factory.mktemp("funnel_ckpt"))
        q = (
            make_df(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.read.schema(out_schema).parquet(out).collect()

    exact_rows = run(
        lambda s: dedup_stream_exact(s, watermark="1 hour"),
        "url string, ts timestamp, fp string",
    )
    stream_exact = {int(r["url"]) for r in exact_rows}
    nd_rows = run(
        lambda s: neardup_stream(s, horizon_sec=3600), _NEARDUP_SCHEMA
    )
    flagged = {int(r["url"]) for r in nd_rows if not r["is_first"]}
    stream_survivors = stream_exact - flagged

    assert stream_exact == exact_keep
    assert stream_survivors == batch_survivors
    # fingerprint VALUES agree bit-for-bit with the batch kernel
    for r in exact_rows:
        assert r["fp"] == batch_fps[int(r["url"])]


def test_stateless_cleaning_gates_run_under_streaming(spark, tmp_path_factory):
    """c4_clean and pii_redact are stateless per-row maps, so they run
    UNMODIFIED on a readStream — no foreachBatch shim, no watermark,
    no state store — and emit exactly the batch results. This is the
    streaming posture for the cheap gates at ingest time: apply them in
    the WARC ingest stream before anything stateful."""
    from igtdetect_spark.operators.cleaning import c4_clean, pii_redact

    rows = [
        (0, "A proper sentence with enough words here.\n"
            "Another proper sentence with enough words too!\n"
            "And a third full sentence to pass the gate.\n"
            "short."),
        (1, "mail me at someone@example.com or 10.1.2.3"),
        (2, None),
    ]
    schema = "doc_id long, text string"
    src = str(tmp_path_factory.mktemp("clean_stream"))
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    batch_df = spark.read.schema(schema).parquet(src)
    expect_c4 = sorted(map(tuple, c4_clean(batch_df).collect()))
    expect_pii = sorted(map(tuple, pii_redact(batch_df).collect()))

    stream = spark.readStream.schema(schema).parquet(src)
    for op, expect, tag in (
        (c4_clean, expect_c4, "c4"), (pii_redact, expect_pii, "pii")
    ):
        out = str(tmp_path_factory.mktemp(f"{tag}_out"))
        ckpt = str(tmp_path_factory.mktemp(f"{tag}_ckpt"))
        q = (
            op(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = sorted(map(tuple, spark.read.parquet(out).collect()))
        assert got == expect, tag


def test_streaming_hll_matches_batch_and_replay_is_idempotent(
    spark, tmp_path_factory
):
    """Streaming HLL register store: (a) the merged streamed sketch is
    bit-identical to the single-pass batch estimate over the same
    corpus; (b) replaying a micro-batch (crash between write and
    checkpoint commit) leaves the merged sketch unchanged — the
    union+max algebra, not batch bookkeeping, is what makes the store
    replay-safe."""
    from pyspark.sql import functions as F

    from igtdetect_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from igtdetect_spark.streaming.hll import (
        read_hll_store,
        start_hll_stream,
        write_hll_batch,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    key = F.col("text").cast("string")
    groups = ["lang"]

    want = sorted(
        tuple(r)
        for r in hll_estimate(
            hll_registers(docs, key, groups, p=8), groups, p=8
        ).collect()
    )

    src = str(tmp_path_factory.mktemp("hll_src"))
    rows = docs.select("doc_id", "lang", "text")
    for i in range(4):
        rows.filter(F.col("doc_id") % 4 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/f{i}")

    store = str(tmp_path_factory.mktemp("hll_store"))
    ckpt = str(tmp_path_factory.mktemp("hll_ckpt"))
    stream = (
        spark.readStream.schema("doc_id long, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    q = start_hll_stream(
        stream, F.col("text").cast("string"), groups, store, ckpt,
        p=8, available_now=True,
    )
    q.awaitTermination(300)

    got = sorted(tuple(r) for r in read_hll_store(
        spark, store, groups, p=8).collect())
    assert got == want

    # replay batch 2's file through the batch writer (what foreachBatch
    # would do on a post-crash replay) — merged sketch unchanged
    replay = spark.read.parquet(f"{src}/f2")
    write_hll_batch(
        hll_registers(
            replay, F.col("text").cast("string"), groups, p=8
        ),
        store,
        batch_id=2,
    )
    again = sorted(tuple(r) for r in read_hll_store(
        spark, store, groups, p=8).collect())
    assert again == want

    # state bound: every batch partition holds ≤ m rows per group
    per_batch = (
        spark.read.parquet(store)
        .groupBy("batch_id", *groups)
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert per_batch <= 256


def test_streaming_extraction_funnel_matches_batch(spark, tmp_path_factory):
    """The north-rule funnel (WARC → HTTP → gate → main content) is a
    chain of stateless per-row maps, so the SAME composition runs on a
    readStream of archive records and must reproduce the batch output
    bit-for-bit — end-to-end stream/backfill parity over raw bytes."""
    from pyspark.sql import functions as F

    from igtdetect_spark.sources.warc import (
        extract_main_from_warc,
        synthetic_warc_http_records,
    )

    docs = spark.range(0, 90).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("A sufficiently long stopword bearing paragraph "
                  "about the topic of document "),
            F.col("id").cast("string"),
        ).alias("text"),
        F.lit("en").alias("lang"),
    )
    records = synthetic_warc_http_records(docs)

    want = sorted(map(tuple, extract_main_from_warc(records).collect()))
    assert want, "batch funnel produced no rows — fixture broken"

    # replay the records as a 3-file stream, one file per micro-batch
    src = str(tmp_path_factory.mktemp("warc_stream"))
    rp = records.toPandas()
    n = len(rp)
    step = (n + 2) // 3
    for i, lo in enumerate(range(0, n, step)):
        spark.createDataFrame(
            rp.iloc[lo:lo + step], schema=records.schema
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f{i}")

    stream = (
        spark.readStream.schema(records.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    out = str(tmp_path_factory.mktemp("funnel_out"))
    ckpt = str(tmp_path_factory.mktemp("funnel_ckpt"))
    q = (
        extract_main_from_warc(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got_df = spark.read.schema(
        extract_main_from_warc(records).schema
    ).parquet(out)
    got = sorted(map(tuple, got_df.collect()))
    assert got == want  # byte-identical extracted text per url


def test_streaming_snapshot_merge_matches_batch(spark, tmp_path_factory):
    """Incremental crawl ingest: the SAME snapshot_upsert kernel folded
    over micro-batches (foreachBatch, one delta file per trigger) must
    land the same canonical table as one batch merge over the whole
    delta — the stream/backfill agreement proof for the merge operator.
    Status is excluded: it is relative to the immediately-previous
    state by design (documented), so only the last merge's labels
    coincide with the batch run's."""
    from igtdetect_spark.operators.webpages import snapshot_upsert

    base_rows = [
        ("u1", 100, 100, 1, "fpA"),
        ("u2", 100, 100, 1, "fpB"),
        ("u3", 100, 100, 1, "fpC"),
    ]
    base_schema = (
        "url string, first_seen_ts long, last_fetch_ts long, "
        "n_fetches long, fingerprint string"
    )
    delta_schema = "url string, fetch_ts_sec long, fingerprint string"
    # every NEW url confined to one file so first_seen is
    # order-independent; re-fetches of base urls may span files
    delta_files = [
        [("u1", 200, "fpA2"), ("u4", 210, "fpD")],
        [("u2", 220, "fpB"), ("u1", 230, "fpA3")],
        [("u5", 240, "fpE")],
    ]
    ddir = tmp_path_factory.mktemp("merge_delta")
    for i, rows in enumerate(delta_files):
        spark.createDataFrame(rows, delta_schema).coalesce(1).write.parquet(
            str(ddir / f"d{i}")
        )

    base = spark.createDataFrame(base_rows, base_schema)

    # one-shot batch merge over the concatenated delta
    all_delta = spark.read.parquet(*[str(ddir / f"d{i}") for i in range(3)])
    want = {
        r["url"]: (r["first_seen_ts"], r["last_fetch_ts"],
                   r["n_fetches"], r["fingerprint"])
        for r in snapshot_upsert(base, all_delta).collect()
    }

    # incremental: fold the same kernel file-by-file via foreachBatch
    state = {"df": base.collect()}

    def merge_batch(batch_df, batch_id):
        cur = spark.createDataFrame(state["df"], base_schema)
        merged = snapshot_upsert(cur, batch_df).drop("status")
        state["df"] = merged.collect()

    stream = (
        spark.readStream.schema(delta_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(ddir / "d*"))
    )
    ckpt = str(tmp_path_factory.mktemp("merge_ckpt"))
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {r[0]: (r[1], r[2], r[3], r[4]) for r in state["df"]}
    assert got == want


def test_streaming_trending_terms_matches_batch_closed_windows(
    spark, tmp_path_factory
):
    """The hopping-window term counts a stream emits (append mode —
    only watermark-closed windows) must equal the batch computation of
    the same expression over the same rows, restricted to windows the
    final watermark closed; a too-late arrival is dropped by the
    engine and must NOT appear in its already-closed window."""
    from datetime import datetime

    from igtdetect_spark.streaming.trending import trending_terms_stream

    def row(minute, text):
        return (f"u{minute}", datetime(2024, 1, 1, minute // 60,
                                       minute % 60), text)

    phase1 = [
        [row(0, "spark rules spark"), row(4, "spark joins")],
        [row(11, "rules alone"), row(14, "spark rules")],
        # watermark jumps far ahead: every window over minutes 0-14
        # closes when this run finishes
        [row(60, "later words")],
    ]
    phase2 = [
        # too late: minute 2 is 48 min behind the persisted 50-min
        # watermark (horizon 10 min) — dropped, must not resurrect the
        # already-emitted 0-10 windows
        [row(2, "spark spark spark")],
        [row(120, "closer words")],
    ]
    src = str(tmp_path_factory.mktemp("trend_src"))
    schema = "url string, warc_ts timestamp, text string"
    out = str(tmp_path_factory.mktemp("trend_out"))
    ckpt = str(tmp_path_factory.mktemp("trend_ckpt"))

    def run(files, base):
        for i, rows in enumerate(files):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{src}/f{base + i}")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f*")
        )
        q = (
            trending_terms_stream(stream, min_count=2)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # two sequential runs over ONE checkpoint: the watermark (50 min
    # after phase 1) is persisted state, so phase 2's late replay is
    # dropped regardless of intra-run file ordering
    run(phase1, 0)
    run(phase2, len(phase1))
    files = phase1 + phase2

    got = {
        (r["window_start"], r["window_end"], r["term"]): r["n"]
        for r in spark.read.schema(
            "window_start timestamp, window_end timestamp, "
            "term string, n long"
        ).parquet(out).collect()
    }

    # batch reference over the NON-late rows (the engine dropped the
    # minute-2 replay), restricted to windows closed by the final
    # watermark (120 - 10 = minute 110)
    batch_rows = [r for f in files for r in f][:-2] + [files[-1][0]]
    batch_rows = [r for r in batch_rows if r[0] != "u2"]
    batch = trending_terms_stream(
        spark.createDataFrame(batch_rows, schema), min_count=2
    )
    wm = datetime(2024, 1, 1, 1, 50)
    exp = {
        (r["window_start"], r["window_end"], r["term"]): r["n"]
        for r in batch.collect()
        if r["window_end"] <= wm
    }
    assert got == exp
    # the planted signal: 'spark' trends in both hops covering 0-14
    n_spark = [n for (s, e, t), n in got.items() if t == "spark"]
    assert n_spark and max(n_spark) >= 3
