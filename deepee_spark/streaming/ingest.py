"""Incremental document ingest via Structured Streaming.

The reference is all-batch (SURVEY.md §2.11), and the batch DAG's resume
path is snapshot-based. For *continuously arriving* crawl data the same
stateless stages (extract -> segment -> featurize -> trigger kernel ->
argument kernel) compose directly onto ``readStream``: every operator in
that prefix is row-local, so micro-batches need no state store and
exactly-once falls out of the file-source + checkpointLocation contract.

Canonicalization (iterative CC) is NOT streamed — it needs a global view;
the production design runs the stream to the ``arguments`` table and a
periodic batch job folds new mentions into the canonical graph
(the reference's confident/unconfident incremental-rewrite pattern,
AD-DMBERT BERT/dataset.py:121-154, at table granularity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..corpus import DOC_SCHEMA
from ..extract import documents_stage
from ..functions.featurize import featurize_sentences
from ..plans.pipeline import arguments_from_triggers, triggers_from_sentences
from ..segment import sentences_stage


def stream_documents(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream of documents parquet drops."""
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )


def stream_arguments(docs_stream: DataFrame) -> DataFrame:
    """documents stream -> argument rows (triggers x mentions), stateless."""
    extracted = documents_stage(docs_stream)
    sentences = featurize_sentences(sentences_stage(extracted))
    triggers = triggers_from_sentences(sentences)
    return arguments_from_triggers(triggers)


def run_stream(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start (and optionally drain) the ingest stream -> parquet sink."""
    args = stream_arguments(stream_documents(spark, source_dir))
    writer = (
        args.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_facts(docs_stream: DataFrame) -> DataFrame:
    """documents stream -> structured facts (web tables + JSON-LD),
    stateless: facts_from is a pure narrow union of regexp/posexplode
    chains, so the SAME code path serves batch drops and micro-batches
    — a crawl feed materializes publisher structured data continuously
    while the kernel stages run beside it."""
    from ..plans.pipeline import facts_from

    return facts_from(docs_stream)


def stream_facts_to_catalog(
    spark: SparkSession,
    source_dir: str,
    catalog,
    checkpoint_dir: str,
    table: str = "table_facts",
    available_now: bool = True,
):
    """Durable streaming facts ingest through the stage catalog —
    identical epoch-idempotent fast-append contract as
    stream_arguments_to_catalog (see that docstring), so the streamed
    facts land in the SAME table the batch pipeline snapshots."""

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        fp = f"stream:{source_dir}:epoch={epoch_id}"
        if catalog.was_committed(table, fp):
            return
        catalog.append(batch_df, table, fp)

    facts = stream_facts(stream_documents(spark, source_dir))
    writer = (
        facts.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_event_counts(
    docs_stream: DataFrame,
    window_duration: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Stateful path: tumbling-window trigger counts per event type with a
    watermark on warc_ts for late crawl records.

    (warc_ts, event_type) -> groupBy(window(warc_ts), event_type).count()
    — the state store holds only open windows; records later than the
    watermark are dropped deterministically. Append mode emits a window
    once it closes, so the parquet sink receives immutable rows (the same
    snapshot discipline as the batch catalog).
    """
    from pyspark.sql import functions as F

    extracted = documents_stage(docs_stream)
    sentences = featurize_sentences(sentences_stage(extracted))
    triggers = triggers_from_sentences(sentences)
    return (
        triggers.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window_duration), "event_type")
        .count()
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            F.col("count").alias("n_triggers"),
        )
    )


def stream_arguments_to_catalog(
    spark: SparkSession,
    source_dir: str,
    catalog,
    checkpoint_dir: str,
    table: str = "arguments",
    available_now: bool = True,
):
    """Durable streaming ingest THROUGH the stage catalog: each
    micro-batch of argument rows is FAST-APPENDED as a new atomic
    snapshot (StageCatalog.append — previous files hardlinked, only the
    batch's files written), so the streaming and batch paths share one
    table, one lineage scheme, and one resume/time-travel surface.

    Exactly-once: Structured Streaming's checkpoint gives at-least-once
    foreachBatch invocations; replays reuse the SAME epoch_id, so the
    sink dedupes by carrying the epoch in the snapshot FINGERPRINT —
    written inside the snapshot directory before the atomic rename, so
    the idempotence marker and the data commit are one filesystem
    operation with no crash window between them (the standard
    idempotent-sink contract — what an Iceberg streaming sink does with
    its own snapshot properties).
    """

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        fp = f"stream:{source_dir}:epoch={epoch_id}"
        if catalog.was_committed(table, fp):
            return  # replayed epoch: already committed
        catalog.append(batch_df, table, fp)

    args = stream_arguments(stream_documents(spark, source_dir))
    writer = (
        args.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_edges_to_catalog(
    spark: SparkSession,
    source_dir: str,
    catalog,
    checkpoint_dir: str,
    table: str = "edges_live",
    available_now: bool = True,
):
    """Streaming GRAPH MAINTENANCE: each micro-batch's argument rows are
    rolled up to (subj, pred, obj, weight) edge-count deltas and MERGED
    into a live edge table via StageCatalog.merge_accumulate — the
    Iceberg `MERGE INTO` shape (union + one keyed groupBy-sum), so the
    graph's support counters stay current as crawl drops arrive instead
    of waiting for the next full materialize_graph run.

    ``obj`` here is the surface mention, not the canonical entity:
    canonicalization is a global fixpoint (module docstring) and stays
    with the periodic batch job, whose edges table supersedes this live
    one. Web-table attr triples likewise stay with the batch job (their
    subjects only exist post-linking); the live table is event-edge
    support counters only. Same epoch-idempotence contract as
    stream_arguments_to_catalog: a replayed foreachBatch epoch is
    detected via the epoch-carrying fingerprint committed ATOMICALLY
    with the merge snapshot, and re-applies NOTHING — load-bearing
    here, because a merge is not idempotent by construction the way a
    skipped append is (a marker stamped after the commit would leave a
    crash window in which the replay double-counts every weight).
    """
    from pyspark.sql import functions as F

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        fp = f"stream-edges:{source_dir}:epoch={epoch_id}"
        if catalog.was_committed(table, fp):
            return  # replayed epoch: the merge already happened
        delta = batch_df.select(
            F.concat_ws(
                "#",
                F.col("event_type"),
                F.col("url"),
                F.col("sent_id").cast("string"),
            ).alias("subj"),
            F.concat_ws(":", "event_type", "role").alias("pred"),
            F.col("surface").alias("obj"),
        ).groupBy("subj", "pred", "obj").agg(
            F.count(F.lit(1)).cast("long").alias("weight")
        )
        catalog.merge_accumulate(
            spark,
            delta,
            table,
            keys=["subj", "pred", "obj"],
            counters=["weight"],
            fingerprint=fp,
        )

    args = stream_arguments(stream_documents(spark, source_dir))
    writer = (
        args.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_host_sessions(
    docs_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 days",
) -> DataFrame:
    """Crawl sessions per host via the native session window: docs from
    one host merge while consecutive warc_ts gaps stay UNDER `gap`
    (session_window's bound is strict — an exactly-`gap` gap opens a
    new session, one tick tighter than operators/temporal.sessionize's
    non-strict rule; callers comparing the two must account for the
    boundary). The state store holds only open sessions per host;
    records later than the watermark drop deterministically, and
    append mode emits a session once the watermark passes its close —
    immutable rows for the sink, the same discipline as
    stream_event_counts.

    -> (host, session_start, session_end, n_docs)
    """
    from pyspark.sql import functions as F

    from ..operators.urls import host_of

    # sessions consume only (url, warc_ts) — project them straight off
    # the raw stream. documents_stage is a pure projection (no row
    # filter), but it runs HTML extraction inside mapInPandas, which
    # Catalyst cannot prune columns through: routing the stream through
    # it would decode every page's html per micro-batch just to count
    # (host, window) rows, and extraction is the pipeline's dominant
    # CPU stage.
    # host_of is the one host definition (lowercased, port stripped) —
    # a local regex here would key sessions on host:port strings that
    # never line up with url_host_stats / politeness hosts
    return (
        docs_stream.select("url", "warc_ts")
        .withColumn("host", host_of(F.col("url")))
        .withWatermark("warc_ts", watermark)
        .groupBy(F.session_window("warc_ts", gap), "host")
        .count()
        .select(
            "host",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            F.col("count").cast("long").alias("n_docs"),
        )
    )


def stream_frontier_gate(
    spark: SparkSession,
    source_dir: str,
    catalog,
    checkpoint_dir: str,
    admitted_table: str = "documents_admitted",
    bloom_table: str = "url_bloom_live",
    m_bits: int = 1 << 20,
    k: int = 4,
    available_now: bool = True,
):
    """Streaming crawl ADMISSION: each micro-batch of raw documents is
    gated against the live canonical-url Bloom bitmap (operators/bloom
    — admit only never-seen pages), the admitted rows FAST-APPEND to
    ``admitted_table``, and the batch's bits bit_or-merge into
    ``bloom_table`` — Pipeline.frontier_gate at stream cadence, so
    later micro-batches are deduped against earlier ones within the
    same run AND across runs.

    Crash consistency: the two commits are INDIVIDUALLY epoch-stamped,
    admitted-append first — a replayed epoch re-runs only the missing
    commit, and because the gate verdicts are always computed against
    the bitmap as of BEFORE this epoch's merge, the replay admits the
    identical row set."""
    from pyspark.sql import functions as F

    from ..operators.bloom import admit_unseen, bloom_build
    from ..operators.urls import canonical_url

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        keyed = batch_df.withColumn("_cu", canonical_url(F.col("url")))
        urls = keyed.select(F.col("_cu").alias("v"))
        fp_admit = f"stream-frontier:{source_dir}:epoch={epoch_id}"
        fp_bloom = f"stream-frontier:{source_dir}:bloom:epoch={epoch_id}"
        if not catalog.was_committed(admitted_table, fp_admit):
            try:
                bitmap = catalog.read(spark, bloom_table).select(
                    "word_idx", "word"
                )
            except FileNotFoundError:
                bitmap = None
            # shared probe/admit semantics with Pipeline.frontier_gate
            catalog.append(
                admit_unseen(keyed, bitmap, m_bits, k),
                admitted_table,
                fp_admit,
            )
        if not catalog.was_committed(bloom_table, fp_bloom):
            catalog.merge_bitmap(
                spark,
                bloom_build(urls, "v", m_bits, k),
                bloom_table,
                fp_bloom,
            )

    docs = stream_documents(spark, source_dir)
    writer = (
        docs.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_cms_to_catalog(
    spark: SparkSession,
    source_dir: str,
    catalog,
    checkpoint_dir: str,
    table: str = "cms_live",
    available_now: bool = True,
):
    """Streaming SKETCH MAINTENANCE: each micro-batch's document tokens
    are folded into count-min cell deltas (operators/sketches.cms_build
    over the batch) and MERGED into a live sketch table by summing on
    (row, col) — CMS cells are additive, so the merged table IS the
    sketch of everything ingested so far, and approximate token
    frequencies stay query-able mid-crawl without re-scanning the
    corpus (cms_estimate / heavy_hitters read the live table
    directly). State is bounded by width*depth cells regardless of
    ingest volume.

    Same epoch-idempotence contract as stream_edges_to_catalog: the
    epoch-carrying fingerprint commits atomically with the merge, so a
    replayed foreachBatch epoch re-applies nothing — load-bearing for
    a merge of additive counters, where a replay would double-count
    every cell."""
    from pyspark.sql import functions as F

    from deepee_spark.operators.sketches import cms_build

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        fp = f"stream-cms:{source_dir}:epoch={epoch_id}"
        if catalog.was_committed(table, fp):
            return
        toks = documents_stage(batch_df).select(
            F.explode(F.split(F.col("text"), r"\s+")).alias("token")
        ).filter(F.col("token") != "")
        delta = cms_build(toks, "token")
        catalog.merge_accumulate(
            spark,
            delta,
            table,
            keys=["row", "col"],
            counters=["cnt"],
            fingerprint=fp,
        )

    docs = stream_documents(spark, source_dir)
    writer = (
        docs.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_semantic_dedup(
    spark: SparkSession,
    source_dir: str,
    catalog,
    checkpoint_dir: str,
    centroids: DataFrame,
    dim: int = 64,
    min_cosine: float = 0.95,
    kept_table: str = "emb_kept",
    history_table: str = "emb_history",
    available_now: bool = True,
):
    """Streaming SemDeDup — semantic_dedup_drop at micro-batch cadence
    (the embedding twin of stream_frontier_gate's admission shape):
    each batch of (vec_id, embedding) rows is near-dup-checked against
    the accumulated ``history_table`` per coarse cell, surviving rows
    FAST-APPEND to ``kept_table``, and ALL batch rows append to
    ``history_table`` (the keep-first rule looks at every earlier row,
    kept or not, so history must carry both — exactly the batch
    operator's contract, which is what makes stream == batch replay
    provable).

    Crash consistency mirrors the frontier gate: the two commits are
    individually epoch-stamped, kept-append FIRST, and verdicts are
    always computed against history as of BEFORE this epoch's history
    append — a replayed epoch recomputes the identical kept set and
    re-runs only the missing commit. maxFilesPerTrigger=1 keeps one
    crawl drop per micro-batch so cross-drop ordering is file order."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..operators.dedup import semantic_dedup, semantic_dedup_drop

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )

    def commit_batch(batch_df: DataFrame, epoch_id: int) -> None:
        fp_kept = f"stream-semdedup:{source_dir}:kept:epoch={epoch_id}"
        fp_hist = f"stream-semdedup:{source_dir}:hist:epoch={epoch_id}"
        if not catalog.was_committed(kept_table, fp_kept):
            try:
                hist = catalog.read(spark, history_table).select(
                    "vec_id", "embedding"
                )
            except FileNotFoundError:
                hist = None
            if hist is None:
                verdicts = semantic_dedup(
                    batch_df, "vec_id", "embedding", dim, centroids,
                    min_cosine,
                )
            else:
                verdicts = semantic_dedup_drop(
                    batch_df, hist, "vec_id", "embedding", dim,
                    centroids, min_cosine,
                )
            kept = batch_df.join(
                verdicts.filter("kept").select("vec_id"), "vec_id",
                "left_semi",
            )
            catalog.append(kept, kept_table, fp_kept)
        if not catalog.was_committed(history_table, fp_hist):
            catalog.append(batch_df, history_table, fp_hist)

    emb = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    writer = (
        emb.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
