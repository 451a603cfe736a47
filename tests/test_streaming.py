"""Structured Streaming ingest: micro-batch output == batch output."""

from __future__ import annotations

from deepee_spark.corpus import corpus_df
from deepee_spark.extract import documents_stage
from deepee_spark.functions.featurize import featurize_sentences
from deepee_spark.plans.pipeline import arguments_from_triggers, triggers_from_sentences
from deepee_spark.segment import sentences_stage
from deepee_spark.streaming.ingest import run_stream


def test_stream_matches_batch(spark, tmp_path):
    src = str(tmp_path / "docs")
    sink = str(tmp_path / "args")
    ckpt = str(tmp_path / "ckpt")
    docs = corpus_df(spark, 40)
    docs.write.parquet(src)

    run_stream(spark, src, sink, ckpt, available_now=True)
    streamed = spark.read.parquet(sink)

    batch = arguments_from_triggers(
        triggers_from_sentences(
            featurize_sentences(sentences_stage(documents_stage(docs)))
        )
    )
    key = ["url", "sent_id", "trigger_pos", "event_type", "arg_pos", "role"]
    assert streamed.count() == batch.count()
    assert streamed.select(*key).exceptAll(batch.select(*key)).count() == 0

    # idempotent restart: draining again adds nothing (checkpoint dedupe)
    run_stream(spark, src, sink, ckpt, available_now=True)
    assert spark.read.parquet(sink).count() == batch.count()


def test_stream_windowed_counts_with_watermark(spark, tmp_path):
    """Watermarked tumbling-window aggregation drains under availableNow
    and matches the batch equivalent computed on the same files."""
    from pyspark.sql import functions as F

    from deepee_spark.corpus import corpus_df
    from deepee_spark.extract import documents_stage
    from deepee_spark.functions.featurize import featurize_sentences
    from deepee_spark.plans.pipeline import triggers_from_sentences
    from deepee_spark.segment import sentences_stage
    from deepee_spark.streaming.ingest import stream_documents, stream_event_counts

    src = str(tmp_path / "docs")
    corpus_df(spark, 120).write.parquet(src)

    out = str(tmp_path / "win_out")
    ck = str(tmp_path / "win_ck")
    counts = stream_event_counts(stream_documents(spark, src))
    q = (
        counts.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r["window_start"], r["event_type"]): r["n_triggers"]
        for r in spark.read.parquet(out).collect()
    }
    batch_triggers = triggers_from_sentences(
        featurize_sentences(sentences_stage(documents_stage(spark.read.parquet(src))))
    )
    want = {
        (r["ws"], r["event_type"]): r["n"]
        for r in batch_triggers.groupBy(
            F.window("warc_ts", "1 day").alias("w"), "event_type"
        )
        .count()
        .select(F.col("w.start").alias("ws"), "event_type", F.col("count").alias("n"))
        .collect()
    }
    # append mode emits only closed windows; every emitted window must
    # match batch exactly, and most windows should have closed
    assert got
    for k, v in got.items():
        assert want.get(k) == v


def test_stateful_stream_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState: a url/content fingerprint emitted in batch 1
    must NOT be re-emitted when the same content arrives in batch 2; new
    content still flows. State persists across separate availableNow
    drains through the checkpoint."""
    from deepee_spark.corpus import DOC_SCHEMA
    from deepee_spark.streaming.stateful import stream_dedup

    import datetime as dt

    def doc(url, text):
        return (url, dt.datetime(2026, 1, 1), b"<html>x</html>", text, "en")

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def drain():
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stream_dedup(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    batch1 = [doc("https://a.example.com/1", "alpha"), doc("https://a.example.com/2", "beta")]
    spark.createDataFrame(batch1, DOC_SCHEMA).coalesce(1).write.mode("append").parquet(str(src))
    drain()
    first = spark.read.parquet(out).collect()
    assert len(first) == 2

    # batch 2: one duplicate content, one new
    batch2 = [doc("https://a.example.com/3", "alpha"), doc("https://a.example.com/4", "gamma")]
    spark.createDataFrame(batch2, DOC_SCHEMA).coalesce(1).write.mode("append").parquet(str(src))
    drain()
    rows = spark.read.parquet(out).collect()
    texts_emitted = len(rows)
    assert texts_emitted == 3  # alpha once, beta once, gamma once
    gamma_row = [r for r in rows if r["url"].endswith("/4")]
    assert gamma_row and gamma_row[0]["n_seen_before"] == 2


def test_stateful_stream_dedup_on_canonical_url(spark, tmp_path):
    """Canonical-url dedup: a recrawl differing only in tracking params /
    fragments / trailing slash is NOT a new page; a genuinely new path
    is. State persists across availableNow drains."""
    import datetime as dt

    from deepee_spark.corpus import DOC_SCHEMA
    from deepee_spark.streaming.stateful import stream_dedup_canonical

    def doc(url):
        return (url, dt.datetime(2026, 1, 1), b"<html>x</html>", "t", "en")

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def drain():
        stream = (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stream_dedup_canonical(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    batch1 = [doc("https://a.example.com/p/1?utm_source=feed"),
              doc("https://a.example.com/p/2")]
    spark.createDataFrame(batch1, DOC_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(str(src))
    drain()
    assert len(spark.read.parquet(out).collect()) == 2

    # recrawls of page 1 (clean + fragment + slash) and one new page
    batch2 = [doc("https://a.example.com/p/1"),
              doc("https://a.example.com/p/1#frag"),
              doc("https://a.example.com/p/1/"),
              doc("https://a.example.com/p/3")]
    spark.createDataFrame(batch2, DOC_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(str(src))
    drain()
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3
    assert sorted(r["url"].rsplit("/", 1)[-1].split("?")[0] for r in rows) \
        == ["1", "2", "3"]


def test_stream_appends_snapshots_to_catalog(spark, tmp_path):
    """foreachBatch fast-append sink: two crawl drops arrive as separate
    stream runs; each lands as append snapshots on ONE catalog table,
    totals match the batch path, and replaying the second run commits
    nothing new (epoch idempotence)."""
    from deepee_spark.corpus import corpus_df
    from deepee_spark.sources.tables import StageCatalog
    from deepee_spark.streaming.ingest import (
        stream_arguments,
        stream_arguments_to_catalog,
        stream_documents,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    cat = StageCatalog(str(tmp_path / "cat"))

    docs = corpus_df(spark, 60)
    docs.filter(
        "CAST(regexp_extract(url, '([0-9]+)$', 1) AS INT) % 2 = 0"
    ).write.mode("append").parquet(src)
    stream_arguments_to_catalog(spark, src, cat, ckpt)
    n_first = cat.latest_meta("arguments")["rows"]
    assert n_first > 0

    docs.filter(
        "CAST(regexp_extract(url, '([0-9]+)$', 1) AS INT) % 2 = 1"
    ).write.mode("append").parquet(src)
    stream_arguments_to_catalog(spark, src, cat, ckpt)
    total = cat.latest_meta("arguments")["rows"]
    assert total > n_first

    # batch-path equivalence on the same input
    from deepee_spark.extract import documents_stage
    from deepee_spark.functions.featurize import featurize_sentences
    from deepee_spark.plans.pipeline import (
        arguments_from_triggers,
        triggers_from_sentences,
    )
    from deepee_spark.segment import sentences_stage

    batch = arguments_from_triggers(
        triggers_from_sentences(
            featurize_sentences(
                sentences_stage(documents_stage(spark.read.parquet(src)))
            )
        )
    )
    assert cat.read(spark, "arguments").count() == total == batch.count()

    # no new input -> availableNow run commits nothing (no empty batches
    # or replays leak into the table)
    snaps_before = len(cat._snapshots("arguments"))
    stream_arguments_to_catalog(spark, src, cat, ckpt)
    assert len(cat._snapshots("arguments")) == snaps_before
    assert cat.latest_meta("arguments")["rows"] == total


def test_stream_edge_merge_maintains_live_graph(spark, tmp_path):
    """Streaming graph maintenance: per-batch edge deltas MERGE into a
    live counter table; after two drops the weights equal the batch
    rollup over the full input, and a replayed availableNow run with no
    new input changes nothing (merge idempotence via epoch markers)."""
    from deepee_spark.corpus import corpus_df
    from deepee_spark.extract import documents_stage
    from deepee_spark.functions.featurize import featurize_sentences
    from deepee_spark.plans.pipeline import (
        arguments_from_triggers,
        triggers_from_sentences,
    )
    from deepee_spark.segment import sentences_stage
    from pyspark.sql import functions as F

    from deepee_spark.sources.tables import StageCatalog
    from deepee_spark.streaming.ingest import stream_edges_to_catalog

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    cat = StageCatalog(str(tmp_path / "cat"))

    docs = corpus_df(spark, 60)
    docs.filter(
        "CAST(regexp_extract(url, '([0-9]+)$', 1) AS INT) % 2 = 0"
    ).write.mode("append").parquet(src)
    stream_edges_to_catalog(spark, src, cat, ckpt)
    first = {
        (r.subj, r.pred, r.obj): r.weight
        for r in cat.read(spark, "edges_live").collect()
    }
    assert first and all(w >= 1 for w in first.values())

    docs.filter(
        "CAST(regexp_extract(url, '([0-9]+)$', 1) AS INT) % 2 = 1"
    ).write.mode("append").parquet(src)
    stream_edges_to_catalog(spark, src, cat, ckpt)
    live = {
        (r.subj, r.pred, r.obj): r.weight
        for r in cat.read(spark, "edges_live").collect()
    }

    batch_args = arguments_from_triggers(
        triggers_from_sentences(
            featurize_sentences(
                sentences_stage(documents_stage(spark.read.parquet(src)))
            )
        )
    )
    want = {
        (r.subj, r.pred, r.obj): r.weight
        for r in batch_args.selectExpr(
            "concat_ws('#', event_type, url, CAST(sent_id AS STRING)) AS subj",
            "concat_ws(':', event_type, role) AS pred",
            "surface AS obj",
        )
        .groupBy("subj", "pred", "obj")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
        .collect()
    }
    assert live == want
    # counters really accumulated across drops (not just unioned rows)
    assert set(first) <= set(live)

    # no new input: nothing merges, no snapshot appears
    snaps = len(cat._snapshots("edges_live"))
    stream_edges_to_catalog(spark, src, cat, ckpt)
    assert len(cat._snapshots("edges_live")) == snaps
    assert {
        (r.subj, r.pred, r.obj): r.weight
        for r in cat.read(spark, "edges_live").collect()
    } == want


def test_stream_host_sessions_match_batch(spark, tmp_path):
    """Watermarked session_window sessions drained under availableNow
    equal the same session_window computed in batch mode over the same
    files (closed sessions only), and respect the per-host grouping."""
    from pyspark.sql import functions as F

    from deepee_spark.corpus import corpus_df
    from deepee_spark.extract import documents_stage
    from deepee_spark.streaming.ingest import (
        stream_documents,
        stream_host_sessions,
    )

    src = str(tmp_path / "docs")
    corpus_df(spark, 150).write.parquet(src)

    out = str(tmp_path / "sess_out")
    ck = str(tmp_path / "sess_ck")
    q = (
        stream_host_sessions(stream_documents(spark, src), gap="30 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.host, r.session_start, r.session_end): r.n_docs
        for r in spark.read.parquet(out).collect()
    }
    assert got

    host = F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1)
    want = {
        (r.host, r.session_start, r.session_end): r.n_docs
        for r in (
            documents_stage(spark.read.parquet(src))
            .withColumn("host", host)
            .groupBy(F.session_window("warc_ts", "30 minutes"), "host")
            .count()
            .select(
                "host",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                F.col("count").cast("long").alias("n_docs"),
            )
            .collect()
        )
    }
    # append mode emits only watermark-closed sessions; each emitted
    # session must match batch exactly
    for k, v in got.items():
        assert want.get(k) == v, k
    # every emitted host exists and no session has zero docs
    assert all(v >= 1 for v in got.values())


def test_stream_frontier_gate_dedupes_across_drops(spark, tmp_path):
    """Two overlapping crawl drops arrive as separate stream runs: the
    admitted table must hold each canonical url exactly once, the
    overlap must be gated out by the live bitmap, and a no-new-input
    run admits nothing."""
    from deepee_spark.corpus import corpus_df
    from deepee_spark.sources.tables import StageCatalog
    from deepee_spark.streaming.ingest import stream_frontier_gate

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    cat = StageCatalog(str(tmp_path / "cat"))

    docs = corpus_df(spark, 40).cache()
    d1 = docs.filter("url like '%/page/1%'")
    d1.write.mode("append").parquet(src)
    stream_frontier_gate(spark, src, cat, ckpt)
    got1 = {
        r.url
        for r in cat.read(spark, "documents_admitted")
        .select("url")
        .collect()
    }
    assert got1 == {r.url for r in d1.select("url").collect()}

    # drop 2 = ALL docs (full overlap with drop 1)
    docs.write.mode("append").parquet(src)
    stream_frontier_gate(spark, src, cat, ckpt)
    got2 = {
        r.url
        for r in cat.read(spark, "documents_admitted")
        .select("url")
        .collect()
    }
    assert got2 == {r.url for r in docs.select("url").collect()}
    # exactly-once: no url appears twice across the snapshots
    n_rows = cat.read(spark, "documents_admitted").count()
    assert n_rows == len(got2)

    # replay with no new input: nothing admitted, bitmap unchanged
    before = cat.latest_meta("url_bloom_live")["snapshot"]
    stream_frontier_gate(spark, src, cat, ckpt)
    assert cat.read(spark, "documents_admitted").count() == n_rows
    assert cat.latest_meta("url_bloom_live")["snapshot"] == before


def test_stream_politeness_matches_batch_and_carries_state(spark, tmp_path):
    """stream_politeness == politeness_schedule when all requests
    arrive in one drop (the backfill identity), and with a second drop
    the host's last granted slot carries through the checkpoint: a
    burst arriving later is queued behind batch-1's final slot."""
    from deepee_spark.operators.urls import politeness_schedule
    from deepee_spark.streaming.stateful import stream_politeness

    schema = "host string, url string, ts_s long"
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def drain():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            stream_politeness(stream, gap_s=10)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    batch1 = [
        ("h1", "u1", 100),
        ("h1", "u2", 100),   # same-second burst: serialized by url order
        ("h1", "u3", 105),
        ("h2", "u4", 100),
    ]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    drain()
    got = {
        r.url: (r.fetch_at, r.wait_s)
        for r in spark.read.parquet(out).collect()
    }
    want_batch = {
        r.url: (r.fetch_at, r.wait_s)
        for r in politeness_schedule(
            spark.createDataFrame(batch1, schema), 10
        ).collect()
    }
    assert got == want_batch  # backfill identity
    assert got["u1"] == (100, 0)
    assert got["u2"] == (110, 10)
    assert got["u3"] == (120, 15)
    assert got["u4"] == (100, 0)

    # drop 2: a request with an OLDER ts than h1's last slot (120)
    # must still be scheduled at 130 — the scheduler cannot grant the
    # past; h2 continues from its own state independently
    batch2 = [("h1", "u5", 103), ("h2", "u6", 200)]
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    drain()
    got2 = {
        r.url: (r.fetch_at, r.wait_s)
        for r in spark.read.parquet(out).collect()
    }
    assert got2["u5"] == (130, 27)
    assert got2["u6"] == (200, 0)


def test_stream_cms_merge_maintains_live_sketch(spark, tmp_path):
    """Streaming sketch maintenance: per-batch CMS cell deltas MERGE
    into a live sketch; after two drops the cells equal the batch-built
    CMS over the full input (cells are additive), estimates read off
    the live table upper-bound true counts, and a no-new-input replay
    changes nothing."""
    from pyspark.sql import functions as F

    from deepee_spark.corpus import corpus_df
    from deepee_spark.extract import documents_stage
    from deepee_spark.operators.sketches import cms_build, cms_estimate
    from deepee_spark.sources.tables import StageCatalog
    from deepee_spark.streaming.ingest import stream_cms_to_catalog

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    cat = StageCatalog(str(tmp_path / "cat"))

    docs = corpus_df(spark, 40)
    even = "CAST(regexp_extract(url, '([0-9]+)$', 1) AS INT) % 2 = 0"
    docs.filter(even).write.mode("append").parquet(src)
    q = stream_cms_to_catalog(spark, src, cat, ckpt)
    # the drained availableNow query comes back, like the other sinks'
    assert not q.isActive and q.exception() is None
    assert cat.read(spark, "cms_live").count() > 0

    docs.filter(f"NOT ({even})").write.mode("append").parquet(src)
    stream_cms_to_catalog(spark, src, cat, ckpt)
    live = {
        (r.row, r.col): r.cnt for r in cat.read(spark, "cms_live").collect()
    }

    toks = documents_stage(spark.read.parquet(src)).select(
        F.explode(F.split(F.col("text"), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    want = {
        (r.row, r.col): r.cnt for r in cms_build(toks, "token").collect()
    }
    assert live == want

    # estimates off the live sketch upper-bound the true counts
    truth = {r.token: r.n for r in toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n")).collect()}
    est = {
        r.token: r.est
        for r in cms_estimate(
            cat.read(spark, "cms_live"), toks, "token"
        ).collect()
    }
    assert all(est[t] >= n for t, n in truth.items())

    snaps = len(cat._snapshots("cms_live"))
    stream_cms_to_catalog(spark, src, cat, ckpt)  # replay, no new input
    assert len(cat._snapshots("cms_live")) == snaps
    assert {
        (r.row, r.col): r.cnt for r in cat.read(spark, "cms_live").collect()
    } == want


def test_stream_facts_match_batch(spark, tmp_path):
    """Structured facts (tables + JSON-LD) streamed per micro-batch
    equal the batch facts stage on the same drop, land as catalog
    snapshots, and replayed epochs are no-ops."""
    from deepee_spark.plans.pipeline import facts_from
    from deepee_spark.sources.tables import StageCatalog
    from deepee_spark.streaming.ingest import stream_facts_to_catalog

    src = str(tmp_path / "docs")
    docs = corpus_df(spark, 60)
    docs.write.parquet(src)
    cat = StageCatalog(str(tmp_path / "cat"))

    stream_facts_to_catalog(
        spark, src, cat, str(tmp_path / "ckpt"), available_now=True
    )
    streamed = cat.read(spark, "table_facts")
    batch = facts_from(docs)
    key = ["url", "table_idx", "surface", "pred", "obj"]
    assert streamed.count() == batch.count() > 0
    assert streamed.select(*key).exceptAll(batch.select(*key)).count() == 0
    # both namespaces present in the streamed snapshot
    preds = {r.pred.split(":")[0] for r in
             streamed.select("pred").distinct().collect()}
    assert preds == {"attr", "ld"}

    # replay: same checkpoint + same files -> no new snapshot rows
    stream_facts_to_catalog(
        spark, src, cat, str(tmp_path / "ckpt"), available_now=True
    )
    assert cat.read(spark, "table_facts").count() == batch.count()


def test_stream_semantic_dedup_equals_batch(spark, tmp_path):
    """Streaming SemDeDup over two drops == one batch semantic_dedup
    over all rows with drop-1 ids first; a replayed run (same
    checkpoint, no new files) appends nothing."""
    import numpy as np

    from deepee_spark.operators.dedup import semantic_dedup
    from deepee_spark.sources.tables import StageCatalog
    from deepee_spark.streaming.ingest import stream_semantic_dedup

    rng = np.random.default_rng(7)
    dim = 16

    def mk(n, id0, base):
        return [
            (id0 + i,
             [float(x) for x in
              base[i % len(base)] + 0.05 * rng.standard_normal(dim)])
            for i in range(n)
        ]

    base = rng.standard_normal((6, dim))
    d1 = mk(20, 0, base)
    d2 = mk(15, 1000, base)  # near-dups across drops by construction
    cent = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(3)],
        "c_id long, c_vec array<double>",
    )
    schema = "vec_id long, embedding array<double>"
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    cat = StageCatalog(str(tmp_path / "cat"))

    spark.createDataFrame(d1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream_semantic_dedup(spark, src, cat, ckpt, cent, dim, 0.9)
    spark.createDataFrame(d2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream_semantic_dedup(spark, src, cat, ckpt, cent, dim, 0.9)

    kept_stream = {
        r.vec_id for r in cat.read(spark, "emb_kept").collect()
    }
    full = spark.createDataFrame(d1 + d2, schema)
    kept_batch = {
        r.vec_id
        for r in semantic_dedup(
            full, "vec_id", "embedding", dim, cent, 0.9
        ).collect()
        if r.kept
    }
    assert kept_stream == kept_batch
    assert kept_stream and len(kept_stream) < len(d1) + len(d2)
    # replay with no new input: nothing appended
    n_hist = cat.read(spark, "emb_history").count()
    stream_semantic_dedup(spark, src, cat, ckpt, cent, dim, 0.9)
    assert cat.read(spark, "emb_history").count() == n_hist
    assert {
        r.vec_id for r in cat.read(spark, "emb_kept").collect()
    } == kept_batch


def test_batch_politeness_replay_equals_batch_operator(spark):
    """The stream scheduler's group body replayed over the whole input
    (batch_politeness_replay) must equal the running-max batch operator
    (urls.politeness_schedule) row for row — same recurrence, two
    formulations (r4 verdict task 7's replay contract)."""
    from deepee_spark.operators.urls import politeness_schedule
    from deepee_spark.streaming.stateful import batch_politeness_replay

    rows = [
        ("h1", "u1", 100), ("h1", "u2", 101), ("h1", "u3", 120),
        ("h2", "u4", 100), ("h1", "u0", 100),  # ts tie -> url order
    ]
    req = spark.createDataFrame(rows, "host string, url string, ts_s long")
    got = sorted(map(tuple, batch_politeness_replay(req, gap_s=5).collect()))
    want = sorted(map(tuple, politeness_schedule(req, gap_s=5).collect()))
    assert got == want
    byurl = {r[1]: r for r in got}
    assert byurl["u0"][3] == 100 and byurl["u1"][3] == 105  # gap enforced
    assert byurl["u3"][3] == 120  # past the backlog: runs at its ts


def test_batch_dedup_replay_keep_first_by_url_order(spark):
    """batch_dedup_replay: first occurrence per (key, fingerprint) in
    (url, fingerprint)-ascending fold order; n_seen_before counts the
    key's earlier distinct fingerprints. Python closed-form twin. Rows
    sharing (key, url) fold by fingerprint, so the output does not
    depend on input order."""
    from deepee_spark.streaming.stateful import batch_dedup_replay

    rows = [
        ("k1", 7, "b"), ("k1", 7, "a"), ("k1", 9, "c"),
        ("k2", 7, "z"), ("k1", 9, "d"),
        ("k3", 5, "m"), ("k3", 3, "m"), ("k3", 5, "n"),
    ]
    outs = []
    for ordered in (rows, rows[::-1]):
        df = spark.createDataFrame(
            ordered, "key string, fingerprint long, url string"
        )
        outs.append(sorted(map(tuple, batch_dedup_replay(df).collect())))
    assert outs[0] == outs[1]
    # k1 folds a,b,c,d: fp7 first at 'a' (0 before), fp9 first at 'c'
    # (1 before); k2: fp7 at 'z'; k3 folds (m,3),(m,5),(n,5)
    assert outs[0] == [
        ("k1", 7, "a", 0), ("k1", 9, "c", 1), ("k2", 7, "z", 0),
        ("k3", 3, "m", 0), ("k3", 5, "m", 1),
    ]
