"""Stream/batch parity for operators that are stateless per-row maps or
a kernel folded over micro-batches: the same function run on a
``readStream`` lands exactly the batch output."""


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
