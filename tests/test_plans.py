"""Physical-plan quality gates (SURVEY.md §4): these are the properties
that decide whether the same code survives a 100 TB run — filter pushdown
into scans, column pruning, broadcast joins for dimension tables, and
whole-stage codegen over the featurization expressions. Asserted on the
actual executed plans, not on intent."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs_parquet(spark, tmp_path_factory):
    from deepee_spark.corpus import corpus_df

    p = str(tmp_path_factory.mktemp("plans") / "docs")
    corpus_df(spark, 300).write.parquet(p)
    return p


def test_filter_pushdown_reaches_scan(spark, docs_parquet):
    df = spark.read.parquet(docs_parquet).filter(F.col("lang") == "en").select("url")
    plan = formatted_plan(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan


def test_column_pruning_drops_html(spark, docs_parquet):
    df = spark.read.parquet(docs_parquet).select("url", "lang")
    plan = formatted_plan(df)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "html" not in read_schema
    assert "url" in read_schema


def test_linking_exact_join_is_broadcast(spark):
    from deepee_spark.operators.linking import link_mentions

    mentions = spark.createDataFrame(
        [(i, f"m{i}") for i in range(50)], ["mention_id", "surface"]
    )
    aliases = spark.createDataFrame(
        [("m1", "E1", 1.0), ("m2", "E2", 0.9)], ["alias", "entity_id", "prior"]
    )
    out = link_mentions(mentions, aliases, fuzzy=False)
    plan = formatted_plan(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_triples_canonical_join_is_broadcast(spark):
    """canonical (per-entity, tiny vs corpus) must broadcast into the
    triples join, never shuffle the argument table against it."""
    from deepee_spark.plans.pipeline import triples_from

    arguments = spark.createDataFrame(
        [("u", None, 0, 0, "t", "Ev", 1, "washington", "Place", 0.9)],
        "url string, warc_ts timestamp, sent_id int, trigger_pos int, "
        "trigger string, event_type string, arg_pos int, surface string, "
        "role string, role_score float",
    )
    linked = spark.createDataFrame(
        [(-6723561649942307493, "u", 0, 1, "washington", "E:gpe.washington")],
        "mention_id long, url string, sent_id int, arg_pos int, "
        "surface string, entity_id string",
    ).select("mention_id", "entity_id")
    canonical = spark.createDataFrame(
        [("E:gpe.washington", "E:gpe.washington")], ["entity_id", "canonical_id"]
    )
    out = triples_from(arguments, linked, canonical)
    plan = formatted_plan(out)
    assert "BroadcastHashJoin" in plan


def test_partial_aggregation_before_shuffle(spark, docs_parquet):
    """groupBy(count) must show a partial HashAggregate below the exchange
    (map-side combine) — the free reference-less optimization Catalyst
    gives and 100 TB runs rely on."""
    df = (
        spark.read.parquet(docs_parquet)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2, plan


def test_featurize_stays_in_wholestage_codegen(spark, docs_parquet):
    from deepee_spark.extract import documents_stage
    from deepee_spark.functions.featurize import featurize_sentences
    from deepee_spark.segment import sentences_stage

    docs = spark.read.parquet(docs_parquet)
    out = featurize_sentences(sentences_stage(documents_stage(docs)))
    plan = formatted_plan(out)
    # formatted mode marks codegen nodes with '*'; the split/explode spine
    # is codegen'd (the higher-order transform projections are interpreted
    # by design in Spark, still JVM-side)
    assert "* Generate" in plan or "* Project" in plan, plan
    # no row-at-a-time python eval anywhere in the featurization path
    assert "BatchEvalPython" not in plan

def test_bucketed_tables_join_without_shuffle(spark, tmp_path_factory):
    """Bucketing both sides of a recurring join key (url-hash) removes the
    Exchange entirely — the co-located-join strategy for stage tables that
    join repeatedly at 100 TB (sentences x triggers on url)."""
    from deepee_spark.corpus import corpus_df

    wh = tmp_path_factory.mktemp("bucketed")
    docs = corpus_df(spark, 200).select("url", "lang", "text")
    (docs.write.mode("overwrite").bucketBy(8, "url").sortBy("url")
         .option("path", str(wh / "b_left")).saveAsTable("b_left"))
    (docs.select("url", F.length("text").alias("n")).write.mode("overwrite")
         .bucketBy(8, "url").sortBy("url")
         .option("path", str(wh / "b_right")).saveAsTable("b_right"))
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path (tiny test tables would broadcast);
        # at 100 TB both sides exceed any broadcast threshold and this IS
        # the plan bucketing buys: SMJ with zero Exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_left").join(spark.table("b_right"), "url")
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 200
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS b_left")
        spark.sql("DROP TABLE IF EXISTS b_right")


def test_fused_kernel_chain_single_shuffle(spark, docs_parquet):
    """The fused documents->arguments chain (checkpoint='kernels' /
    'final' dataflow) contains EXACTLY ONE Exchange — the explicit
    url-hash repartition. Segmentation, featurization, length-sorting
    (sortWithinPartitions) and both kernel mapInPandas stages must all
    stay partition-local: a second shuffle anywhere in this chain would
    re-move the whole corpus at 100 TB."""
    from deepee_spark.extract import documents_stage
    from deepee_spark.functions.featurize import featurize_sentences
    from deepee_spark.plans.pipeline import (
        arguments_from_triggers,
        triggers_from_sentences,
    )
    from deepee_spark.segment import sentences_stage

    docs = spark.read.parquet(docs_parquet)
    out = arguments_from_triggers(
        triggers_from_sentences(
            featurize_sentences(
                sentences_stage(
                    documents_stage(
                        docs.repartition(8, F.xxhash64("url"))
                    )
                )
            )
        )
    )
    plan = formatted_plan(out)
    # formatted mode prints each node once in the tree and once in the
    # detail section — count the numbered detail headers, one per node
    import re

    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan


def test_s11_frame_dimension_join_is_broadcast(spark, tmp_path_factory):
    """The exploded frame-element dimension (a few thousand rows at full
    FrameNet scale) must broadcast into the exemplar-surface join, never
    shuffle the exemplar table (billions of rows at crawl scale)."""
    from deepee_spark.sources.framenet import (
        exemplar_fe_surfaces,
        frame_elements,
        read_exemplars,
        read_frames,
        synth_framenet,
    )
    from pyspark.sql import functions as F

    d = str(tmp_path_factory.mktemp("fn"))
    fp, ep = synth_framenet(d)
    fe_dim = frame_elements(read_frames(spark, fp)).select(
        "frame", "fe_name", "core_type"
    )
    out = exemplar_fe_surfaces(read_exemplars(spark, ep)).join(
        F.broadcast(fe_dim), ["frame", "fe_name"]
    )
    plan = formatted_plan(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_day_partitioned_snapshot_prunes_on_read(spark, tmp_path_factory):
    """The triples table is written partitioned by day (pipeline
    _stage(partition_by=['day'])); a per-day consumer query must prune
    to that day's directory at planning time — at 10^12-doc scale the
    difference between scanning one day and scanning the corpus."""
    from deepee_spark.sources.tables import StageCatalog

    cat = StageCatalog(str(tmp_path_factory.mktemp("prune") / "cat"))
    df = spark.range(1000).select(
        F.col("id").alias("n"),
        F.date_add(F.lit("2024-01-01"), (F.col("id") % 7).cast("int"))
        .cast("string")
        .alias("day"),
    )
    cat.write(df, "triples", "fp0", partition_by=["day"])
    rd = cat.read(spark, "triples").filter(F.col("day") == "2024-01-03")
    plan = formatted_plan(rd)
    assert "PartitionFilters" in plan
    # the day predicate must appear as a partition filter on the scan,
    # not a post-scan Filter over all partitions
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("2024-01-03" in ln for ln in pf), plan
    assert rd.count() == 1000 // 7 + (1 if 2 < 1000 % 7 else 0)


def test_decontamination_eval_side_is_broadcast(spark, docs_parquet):
    """The eval-set grams (benchmark suites are tiny) must broadcast;
    the corpus side must reach the join without its own shuffle — at
    100 TB a SortMergeJoin here would shuffle the whole crawl."""
    from deepee_spark.operators.contamination import ngram_contamination

    docs = spark.read.parquet(docs_parquet).select(
        F.col("url").alias("doc_id"), "text"
    )
    eval_docs = docs.limit(20)
    out = ngram_contamination(docs, eval_docs, "doc_id", "text", n=4)
    plan = formatted_plan(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_sequence_packing_single_exchange(spark, docs_parquet):
    """Packing must shuffle exactly once (the shard partition); the
    cumulative window is per-shard, so no global-sort exchange may
    appear."""
    from deepee_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(docs_parquet).select(
        F.col("url").alias("doc_id"),
        F.size(F.split("text", r"\s+")).alias("n_tokens"),
    )
    out = pack_sequences(docs, budget=512, n_shards=8)
    plan = formatted_plan(out)
    n_exchanges = plan.count("Exchange")
    # formatted plans list each physical Exchange twice (tree + detail)
    assert n_exchanges <= 2, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_co_neighbors_explosion_is_not_coalesced(spark):
    """The co-neighbor pair explosion must keep its explicit partition
    count: a bare repartition("dst") is REPARTITION_BY_COL, which AQE
    coalesces by INPUT bytes — the input is tiny relative to the
    quadratic output, so AQE would serialize the explosion into one
    task (measured flat 9.5s at 4 and 16 cores before the guard)."""
    from deepee_spark.operators.graph import co_neighbors

    edges = spark.createDataFrame(
        [(i % 97, i % 13) for i in range(1000)], "src: long, dst: long"
    )
    plan = formatted_plan(co_neighbors(edges))
    # the explicit-count repartition survives as a non-AQE-coalescible
    # exchange: REPARTITION_BY_NUM, not REPARTITION_BY_COL
    assert "REPARTITION_BY_NUM" in plan, plan


def test_pagerank_iteration_avoids_sortmerge(spark):
    """Each PageRank iteration joins the full edge list with the rank
    table: sort-merge would re-sort the edges every iteration (measured
    +22s/run at 20M edges), so both the contribution join and the
    nodes⋈contrib join must plan as shuffled hash joins. Asserted on
    the un-checkpointed iteration plan (_pr_iteration) — pagerank_int's
    own return value is checkpoint-pinned and shows no joins."""
    from deepee_spark.operators.graph import PR_SCALE, _pr_iteration

    edges = spark.createDataFrame(
        [(i % 50, (i * 7) % 50) for i in range(400) if i % 50 != (i * 7) % 50],
        "src: long, dst: long",
    )
    e = edges.distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("outdeg"))
    # in pagerank_int, links is built ONCE and persisted pre-partitioned;
    # hash-hint the test-local construction so the gate sees only the
    # per-iteration joins
    links = e.join(outdeg.hint("shuffle_hash"), "src")
    rank = nodes.select("node", F.lit(PR_SCALE // 50).cast("long").alias("rank"))
    plan = formatted_plan(_pr_iteration(links, rank, nodes, 1000))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("ShuffledHashJoin") >= 2, plan


def test_asof_join_single_partitioned_window(spark):
    """asof_join's carry-forward window must partition on the key —
    never a global (empty-partition) window, which would serialize all
    facts+probes through one task (the f4 scale-killer class)."""
    from deepee_spark.operators.temporal import asof_join

    facts = spark.createDataFrame(
        [(i % 7, i, f"v{i}") for i in range(100)],
        "k: long, ts: long, val: string",
    )
    probes = spark.createDataFrame(
        [(i % 9, i, i) for i in range(100)],
        "k: long, ts: long, probe_id: long",
    )
    plan = formatted_plan(asof_join(facts, probes, ["k"], "ts", ["val"]))
    assert "Window" in plan, plan
    # the window's partition spec names the key: no SinglePartition feed
    assert "SinglePartition" not in plan, plan


def test_fact_intervals_one_exchange(spark):
    """All three windows in fact_validity_intervals share the key
    partitioning, so the plan must contain exactly ONE shuffle exchange
    (plus nothing global): lag/segment/lead reuse the same exchange."""
    from deepee_spark.operators.temporal import fact_validity_intervals

    facts = spark.createDataFrame(
        [(i % 7, i, f"v{i % 3}") for i in range(100)],
        "k: long, ts: long, val: string",
    )
    plan = formatted_plan(
        fact_validity_intervals(facts, ["k"], "ts", "val")
    )
    assert "SinglePartition" not in plan, plan
    # formatted plans name tree nodes as "+- Exchange (n)": exactly one
    n_exchanges = plan.count("Exchange (")
    assert n_exchanges == 1, plan


def test_kcore_round_scans_persisted_edges_in_place(spark):
    """A delta-peeling k-core round must never re-exchange the edge
    list: the persisted src-partitioned symmetric edges satisfy the
    shuffle-hash semi-join's requirement as-is, so the ONLY src-keyed
    Exchange in the round plan is the (tiny) drop-set side, and no join
    degrades to sort-merge. This is what makes later rounds O(incident
    edges), not O(E)."""
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(i % 50, (i * 7) % 50) for i in range(400) if i % 50 != (i * 7) % 50],
        "src: long, dst: long",
    )
    sym = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .repartition(8, "src")
        .persist()
    )
    sym.count()
    new_dropped = spark.createDataFrame([(3,), (11,)], "node: long")
    lost = (
        sym.join(
            new_dropped.select(F.col("node").alias("src")).hint(
                "shuffle_hash"
            ),
            "src",
            "left_semi",
        )
        .join(
            new_dropped.select(F.col("node").alias("dst")).hint(
                "shuffle_hash"
            ),
            "dst",
            "left_anti",
        )
        .groupBy("dst")
        .agg(F.count(F.lit(1)).cast("long").alias("lost"))
    )
    plan = formatted_plan(lost)
    assert "SortMergeJoin" not in plan, plan
    # the semi-join's streamed child is the persisted edge cache
    # DIRECTLY — no Exchange/Sort re-shuffling the edges in between
    tree = plan.split("\n(1) ")[0]
    lines = tree.splitlines()
    semi = next(
        i for i, ln in enumerate(lines) if "ShuffledHashJoin LeftSemi" in ln
    )
    left_child = lines[semi + 1]
    assert "Exchange" not in left_child and "Sort" not in left_child, tree
    assert any(
        "InMemoryTableScan" in ln for ln in lines[semi + 1 : semi + 3]
    ), tree
    sym.unpersist()


def test_incremental_cc_broadcasts_drop_side(spark, tmp_path_factory):
    """connected_components_incremental probes the huge accumulated
    labeling against drop-sized builds. On the executed (AQE-final)
    plan, the touched-marker left join must be a broadcast with the
    DROP side as build — the labeling is streamed, never the build —
    and no join may degrade to sort-merge (which would re-sort the
    10^12-row labeling every drop)."""
    from deepee_spark.operators.components import _canon, _mark_touched

    p = str(tmp_path_factory.mktemp("inccc") / "prev")
    spark.range(300_000).select(
        F.col("id").alias("node"), (F.col("id") % 9000).alias("component")
    ).write.parquet(p)
    prev = spark.read.parquet(p)
    delta = spark.createDataFrame(
        [(1, 2), (3, 27000), (7, 12)], "src: long, dst: long"
    )
    m = _mark_touched(prev, _canon(delta))
    m.collect()  # materialize so AQE's final plan is what we read
    plan = formatted_plan(m)
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin LeftOuter BuildRight" in final, final
    assert "SortMergeJoin" not in final, final


def test_activity_bursts_combines_before_shuffle(spark):
    """activity_bursts deliberately keeps TWO exchanges: collapsing to
    one (pre-partition on keys) would ship raw events; instead the
    first exchange must carry map-side-combined partial counts
    (partial_count BEFORE the exchange) and neither exchange may be
    global."""
    from deepee_spark.operators.temporal import activity_bursts

    ev = spark.createDataFrame(
        [(f"u{i % 9}", (i * 13) % 30 + 1) for i in range(300)],
        "user: string, day: long",
    )
    plan = formatted_plan(activity_bursts(ev, ["user"], "day"))
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange (") == 2, plan
    # the partial aggregate sits upstream of the first exchange
    first_exchange = plan.index("Exchange (")
    assert "partial_count" in plan[first_exchange:], plan
    tree = plan.split("\n(1) ")[0]
    agg_line = min(i for i, ln in enumerate(tree.splitlines())
                   if "HashAggregate" in ln)
    exch_line = min(i for i, ln in enumerate(tree.splitlines())
                    if "Exchange" in ln)
    assert agg_line > exch_line, tree  # deepest-first: agg feeds exchange


def test_substring_dedup_combines_before_shuffle(spark):
    """The window-hash groupBy must partial-aggregate map-side (hot
    boilerplate windows cost one long per mapper, not a skewed
    reduce), and no stage may collapse to a single partition."""
    from deepee_spark.operators.substrings import substring_dup_stats

    docs = spark.createDataFrame(
        [(f"d{i}", "a b c d e f g h i j k l m n o p")
         for i in range(40)],
        ["doc_id", "text"],
    )
    plan = formatted_plan(substring_dup_stats(docs, "doc_id", "text"))
    assert "SinglePartition" not in plan, plan
    first_exchange = plan.index("Exchange (")
    assert "partial_count" in plan[first_exchange:], plan


def test_setjoin_repartitions_prefix_buckets(spark):
    """The prefix-token self-join must be keyed on an explicitly
    repartitioned probe side (the AQE explosion guard) and never
    degrade to a broadcast NESTED-LOOP (equi-join keys present)."""
    from deepee_spark.operators.setjoin import jaccard_similarity_join

    docs = spark.createDataFrame(
        [(f"d{i}", [f"w{j}" for j in range(i % 5 + 2)])
         for i in range(60)],
        ["doc_id", "tokens"],
    )
    plan = formatted_plan(
        jaccard_similarity_join(docs, "doc_id", "tokens", 500)
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "REPARTITION_BY_NUM" in plan or "hashpartitioning(ptoken" in plan, plan


def test_calibration_bins_one_shuffle(spark):
    from deepee_spark.operators.metrics import calibration_bins

    df = spark.createDataFrame(
        [((i * 37) % 1001, i % 3 == 0) for i in range(500)],
        "conf_milli: long, correct: boolean",
    )
    plan = formatted_plan(calibration_bins(df, "conf_milli", "correct"))
    assert plan.count("Exchange (") == 1, plan
    first_exchange = plan.index("Exchange (")
    assert "partial_count" in plan[first_exchange:], plan


def test_outlink_harvest_is_pure_catalyst(spark):
    """The link harvest must never fall back to a Python UDF — decode,
    regexp_extract_all, explode, and the host rollup are all JVM-side
    expressions (whole-stage codegen), and the only Exchange is the
    final host-pair agg."""
    from pyspark.sql import functions as F

    from deepee_spark.operators.links import extract_outlinks, host_graph

    docs = spark.range(50).select(
        F.concat(F.lit("https://h"), (F.col("id") % 5).cast("string"),
                 F.lit(".test/p")).alias("url"),
        F.encode(
            F.concat(F.lit("<body><a href='https://h"),
                     ((F.col("id") + 1) % 5).cast("string"),
                     F.lit(".test/x'>a</a></body>")),
            "UTF-8",
        ).alias("html"),
    )
    plan = formatted_plan(host_graph(extract_outlinks(docs)))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("Exchange (") == 1, plan
    assert "partial_count" in plan, plan


def test_skipgram_join_is_equi_hash_not_range(spark):
    """skipgram_pairs must compile to an equi hash/sort-merge join on
    (start, walk, step) — never a nested-loop/cartesian range join on
    |step diff| (the formulation the DuckDB twin deliberately runs)."""
    from deepee_spark.operators.walks import skipgram_pairs

    walks = spark.createDataFrame(
        [("a", 0, s, f"n{s}") for s in range(4)],
        ["start", "walk", "step", "node"],
    )
    plan = formatted_plan(skipgram_pairs(walks, window=2))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan, plan


def test_scc_propagation_avoids_sortmerge(spark):
    """Each SCC label-propagation hop joins the node-sized label table
    against the (persisted, pre-partitioned in scc()) edge list — the
    same plan class as the PageRank iteration: sort-merge would re-sort
    the edges every hop, so the push join must plan as a shuffled hash
    join and never a cartesian."""
    from deepee_spark.operators.graph import _scc_minlabel

    edges = spark.createDataFrame(
        [(i % 40, (i * 11) % 40) for i in range(300) if i % 40 != (i * 11) % 40],
        "src: long, dst: long",
    ).distinct()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    lab = nodes.select("node", F.col("node").alias("lab"))
    pushed = edges.join(
        lab.withColumnRenamed("node", "src").hint("shuffle_hash"), "src"
    ).select(F.col("dst").alias("node"), "lab")
    one_hop = (
        lab.unionByName(pushed).groupBy("node").agg(F.min("lab").alias("lab"))
    )
    plan = formatted_plan(one_hop)
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    # and the operator's own fixpoint matches on this graph shape
    got = _scc_minlabel(
        edges.repartition(4, "src").persist(), nodes, max_hops=64
    )
    assert got.count() == nodes.count()


def test_politeness_schedule_one_partitioned_exchange(spark):
    """Both politeness windows (row_number + running max) share the
    (host) partitioning and (ts, url) sort, so the plan must contain
    exactly ONE shuffle exchange and no global window — per-host
    sequencing is the semantics, cross-host parallelism is the plan."""
    from deepee_spark.operators.urls import politeness_schedule

    req = spark.createDataFrame(
        [(f"h{i % 5}", f"u{i}", i % 37) for i in range(200)],
        "host: string, url: string, ts_s: long",
    )
    plan = formatted_plan(politeness_schedule(req, 5))
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange (") == 1, plan


def test_fusion_round_replaces_tot_join_with_window(spark):
    """The per-fact vote normalizer must be an unordered-frame window
    over the vote rows, NOT a groupBy(fact) + join — the fact-level
    total is one row per fact (never broadcastable at KG scale), so the
    join form costs an extra exchange plus a sort-merge join over
    exactly the rows the window reads in place. Gate: the visible round
    (earlier rounds hide behind localCheckpoint) plans exactly TWO
    joins — claims⋈trust for votes and conf⋈n_src for the output — plus
    windows, and never a cartesian."""
    import re

    from deepee_spark.operators.fusion import fuse_claims

    claims = spark.createDataFrame(
        [
            (f"s{i % 7}", f"f{i % 10}", f"v{i % 3}")
            for i in range(200)
        ],
        "source: string, fact: string, value: string",
    )
    plan = formatted_plan(fuse_claims(claims, iters=2, pin=False))
    assert "CartesianProduct" not in plan, plan
    # formatted mode prints each node once in the tree and once as a
    # numbered detail header — count the headers
    n_joins = len(re.findall(r"\(\d+\) \w*Join", plan))
    assert n_joins == 2, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) >= 1, plan


def test_sparse_topk_query_side_broadcasts(spark):
    """Inverted-index retrieval: the query side is orders of magnitude
    smaller than the postings, so the term probe must plan as a
    BroadcastHashJoin (never sort-merge over the postings), and the
    only nested-loop allowed is the 1-row corpus-size cross join."""
    import re

    from deepee_spark.operators.similarity import sparse_topk

    docs = spark.range(300).select(
        "id",
        F.split(
            F.concat(F.lit("a b c t"), F.col("id").cast("string")), " "
        ).alias("tokens"),
    )
    qs = spark.range(3).select(
        F.col("id").alias("q_id"),
        F.array(F.lit("a"), F.lit("b")).alias("tokens"),
    )
    plan = formatted_plan(sparse_topk(docs, qs, k=3, max_df=200))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    n_bnlj = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
    assert n_bnlj <= 1, plan


def test_vocab_rank_two_level_window(spark):
    """rank_count_token must never feed the raw token space through a
    single-partition window (the s4/f4 scale-killer class): the
    row_number window is keyed on (cnt, prefix), the only
    SinglePartition exchange carries the aggregated per-bucket totals
    (no token column), and the offsets come back as a broadcast join."""
    from deepee_spark.operators.vocab import rank_count_token

    counts = spark.createDataFrame(
        [(f"tok{i % 17}", (i % 5) + 1) for i in range(100)],
        "token: string, cnt: long",
    )
    plan = formatted_plan(rank_count_token(counts))
    # the big-side rank window is bucket-keyed
    assert "row_number() windowspecdefinition(cnt#" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # every SinglePartition exchange feeds aggregate rows, never tokens
    for block in plan.split("Arguments: SinglePartition")[:-1]:
        input_line = [
            ln for ln in block.splitlines() if ln.startswith("Input")
        ][-1]
        assert "token#" not in input_line, input_line


def test_vocab_rank_matches_global_window(spark):
    """The two-level rank must be bit-identical to
    row_number() OVER (ORDER BY cnt DESC, token ASC) — ties, shared
    prefixes, multi-codepoint chars, and short/empty tokens included."""
    from pyspark.sql import Window as W

    from deepee_spark.operators.vocab import rank_count_token

    toks = (
        [("", 3), ("a", 3), ("ab", 3), ("abc", 3), ("abd", 3), ("b", 3)]
        + [(f"w{i}", 1) for i in range(40)]
        + [("école", 2), ("école", 2), ("zz", 2), ("中文", 2)]
    )
    counts = spark.createDataFrame(toks, "token: string, cnt: long")
    got = {
        r["token"]: r["rk"] for r in rank_count_token(counts).collect()
    }
    w = W.orderBy(F.desc("cnt"), F.asc("token"))
    want = {
        r["token"]: r["rk"]
        for r in counts.withColumn(
            "rk", F.row_number().over(w).cast("long")
        ).collect()
    }
    assert got == want


def test_ranked_cumsum_two_level_window(spark):
    """ranked_cumsum must keep the data-sized running-sum window keyed
    on (score, sub-bucket); only the aggregated per-bucket totals may
    cross a SinglePartition exchange, and the offsets return broadcast."""
    from deepee_spark.operators.metrics import ranked_cumsum

    ev = spark.createDataFrame(
        [(i, (i * 7) % 23, i % 2) for i in range(300)],
        "event_id: long, score: long, gold: long",
    )
    df = ranked_cumsum(ev, "score", ["event_id"], ["gold"])
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    for block in plan.split("Arguments: SinglePartition")[:-1]:
        input_line = [
            ln for ln in block.splitlines() if ln.startswith("Input")
        ][-1]
        assert "event_id#" not in input_line, input_line


def test_ranked_cumsum_matches_global_window(spark):
    """Two-level running sums must be bit-identical to the global
    (score DESC, id ASC) window — heavy score ties and negative ids
    included (the integral sub-bucket uses floor, not DIV)."""
    from pyspark.sql import Window as W

    from deepee_spark.operators.metrics import ranked_cumsum

    rows = [(i - 50, (i * 3) % 5, i % 2) for i in range(200)]
    ev = spark.createDataFrame(
        rows, "event_id: long, score: long, gold: long"
    )
    got = {
        r["event_id"]: (r["rank"], r["cum_gold"])
        for r in ranked_cumsum(
            ev, "score", ["event_id"], ["gold"], bucket_width=16
        ).collect()
    }
    w = W.orderBy(F.desc("score"), F.asc("event_id"))
    want = {
        r["event_id"]: (r["rank"], r["cum_gold"])
        for r in ev.withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "cum_gold",
            F.sum("gold")
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .cast("long"),
        )
        .collect()
    }
    assert got == want


def test_structured_extractors_are_zero_shuffle(spark):
    """The round-3 structured-data extractors (JSON-LD, microdata, head
    metadata, sitemaps) are pure narrow map pipelines: no Python
    fallback, no Exchange at all — at 10^12 pages each is
    embarrassingly parallel and the first shuffle belongs to whatever
    the caller aggregates."""
    from pyspark.sql import functions as F

    from deepee_spark.operators.sitemaps import parse_sitemaps
    from deepee_spark.operators.structured import (
        jsonld_triples,
        microdata_triples,
        page_metadata,
    )

    docs = spark.range(40).select(
        F.concat(F.lit("https://h"), F.col("id").cast("string")).alias("url"),
        F.concat(
            F.lit('<head><title>t</title><script type="application/ld+json">'
                  '{"@id":"x","k":1}</script></head>'
                  '<div itemscope itemtype="https://s/T">'
                  '<span itemprop="p">v</span></div>'),
        ).alias("html"),
    )
    maps = docs.select(
        "url",
        F.lit("<urlset><url><loc>https://a/b</loc></url></urlset>").alias(
            "xml"
        ),
    )
    for df in (
        jsonld_triples(docs),
        microdata_triples(docs),
        page_metadata(docs),
        parse_sitemaps(maps),
    ):
        plan = formatted_plan(df)
        assert "BatchEvalPython" not in plan, plan
        assert "ArrowEvalPython" not in plan, plan
        assert "Exchange" not in plan, plan


def test_warc_parse_single_arrow_stage(spark):
    """WARC parsing is ONE mapInPandas over the file rows — no shuffle
    before or inside it (the file is the parallelism unit, exactly the
    Common-Crawl sharding)."""
    from pyspark.sql import functions as F

    from deepee_spark.sources.warc import parse_warc_df

    files = spark.range(8).select(
        F.concat(F.lit("f"), F.col("id").cast("string")).alias("path"),
        F.encode(F.lit("WARC/1.0\r\nContent-Length: 0\r\n\r\n\r\n\r\n"),
                 "UTF-8").alias("content"),
    )
    plan = formatted_plan(parse_warc_df(files))
    assert plan.count("MapInPandas (") == 1, plan
    assert "Exchange" not in plan, plan


def test_salience_broadcasts_dim_single_agg_exchange(spark):
    """Entity salience: the surface dimension joins broadcast; the only
    Exchange is the (doc, entity) aggregation — doc length and title
    flag ride the explode instead of joining back to the corpus."""
    from pyspark.sql import functions as F

    from deepee_spark.operators.salience import entity_salience

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.lit("t").alias("title"),
        F.lit("alpha beta gamma alpha").alias("text"),
    )
    ents = spark.createDataFrame([("alpha",), ("beta",)], ["surface"])
    import re

    plan = formatted_plan(entity_salience(docs, ents))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    # shuffle Exchanges only (BroadcastExchange is the dim broadcast)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_coref_single_perdoc_window_broadcast_dim(spark):
    """Coreference-lite: broadcast dictionary, one per-doc window, no
    global ordering anywhere."""
    from pyspark.sql import functions as F

    from deepee_spark.operators.coref import resolve_pronouns

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.lit("smith said he left").alias("text"),
    )
    ents = spark.createDataFrame([("smith",)], ["surface"])
    import re

    plan = formatted_plan(resolve_pronouns(docs, ents))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    # exactly one shuffle Exchange: hashpartitioning on doc_id for the
    # window (BroadcastExchange is the dim broadcast)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "SinglePartition" not in plan, plan


def test_nbayes_scoring_broadcasts_model(spark):
    """NB scoring: model tables broadcast; the corpus-sized shuffle is
    only the per-(doc,label) sum."""
    from pyspark.sql import functions as F

    from deepee_spark.operators.nbayes import score_nb, train_nb

    labeled = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("label"),
        F.lit("x y z").alias("text"),
    )
    model = train_nb(labeled)
    probe = labeled.select("doc_id", "text")
    plan = formatted_plan(score_nb(probe, model))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 1 or \
        "BroadcastNestedLoopJoin" in plan, plan


def test_anchor_windows_no_shuffle(spark):
    """RCEE anchor windows are a narrow map: zero Exchange, no Python
    row eval (same gate as passage_windows)."""
    from deepee_spark.operators.chunking import anchor_windows

    df = spark.createDataFrame(
        [(1, 0, 1, "a b c")],
        "doc_id long, anchor_start long, anchor_end long, text string",
    )
    plan = formatted_plan(anchor_windows(df))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_salted_linking_plan_no_dim_broadcast(spark):
    """The non-broadcast linking path must survive with broadcasting
    disabled: the salted (norm, _salt) join plans as a keyed shuffle
    join (SMJ/SHJ) — the shape that holds when the alias table exceeds
    any executor — and NOT as a BroadcastHashJoin that only works while
    the dim happens to fit. Off-AQE, threshold -1, so the assertion is
    about the declarative plan, not a lucky small-input rewrite."""
    from deepee_spark.operators.linking import link_mentions

    mentions = spark.createDataFrame(
        [(i, f"washington {i % 3}") for i in range(100)],
        "mention_id long, surface string",
    )
    aliases = spark.createDataFrame(
        [("washington 0", "e1", 0.9), ("washington 1", "e2", 0.8),
         ("washington 2", "e3", 0.7)],
        "alias string, entity_id string, prior double",
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = link_mentions(
            mentions, aliases, fuzzy=False, broadcast_aliases=False
        )
        plan = formatted_plan(out)
        assert "BroadcastHashJoin" not in plan, plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
        assert out.count() == 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_codebook_assignment_no_expanded_shuffle_and_path_parity(spark):
    """r4 verdict task 2: the coarse-quantizer assignment
    (similarity.assign_cells, used by lloyd_codebook and the SemDeDup
    family) must never hash-Exchange the N*k EXPANDED relation the old
    crossJoin + row_number shape paid. DEFAULT path: broadcast cross
    join + partial-agged max_by — exactly ONE shuffle Exchange, on
    pid, AFTER the partial agg collapsed the k fan-out (~N rows), and
    NO Window. The assignment must agree row-for-row with a brute-force
    argmax (cdot desc, c_id asc)."""
    import re

    from pyspark.sql import functions as F

    from deepee_spark.operators.similarity import assign_cells, dot

    dim = 4
    vecs = [[float(i % 5), 1.0, float(i % 3), 0.5] for i in range(40)]
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 1.0, 0.0],
             [0.5, 0.5, 0.5, 0.5]]
    base = spark.createDataFrame(
        list(enumerate(vecs)), "pid long, v array<float>"
    )
    cb = spark.createDataFrame(
        list(enumerate(cents)), "c_id long, cent array<float>"
    )

    def cdot(v, c):
        return F.round(dot(v, c, dim), 6)

    default = assign_cells(base, cb, cdot)
    plan = formatted_plan(default)
    assert "Window" not in plan, plan
    assert "NestedLoop" in plan, plan  # broadcast cross join
    # exactly ONE shuffle Exchange (on pid, AFTER the partial max_by
    # collapsed the k fan-out) — BroadcastExchange of the codebook is
    # fine and excluded by the word boundary
    assert len(re.findall(r"\(\d+\) Exchange\n", plan)) == 1, plan
    assert "hashpartitioning(pid" in plan, plan
    assert "partial_max_by" in plan, plan

    # every product and sum is exact in binary at these values
    want = sorted(
        (pid, min(range(len(cents)),
                  key=lambda c: (-sum(a * b for a, b in zip(v, cents[c])), c)))
        for pid, v in enumerate(vecs)
    )
    got = sorted((r["pid"], r["cell"]) for r in default.collect())
    assert got == want


def test_planned_salt_k_flows_from_measured_skew(spark):
    """r4 verdict task 8 plan gate: the adaptive linking path's salting
    factor must be the PLANNER's k = ceil(hot-key rows / target) from
    skew.plan_salt_k's measurement, not salted_join's default 16.
    Fixture: one 120-row hot norm + a 5-row cold one; target 50 ->
    k = 3. The fact-side salt literal pmod(xxhash64(mention_id), k) is
    read off the physical plan, and the planned path must agree
    row-for-row with the broadcast path."""
    import re

    from pyspark.sql import functions as F

    from deepee_spark.operators.linking import (
        link_mentions,
        normalize_surface,
    )
    from deepee_spark.operators.skew import plan_salt_k

    mentions = spark.createDataFrame(
        [(i, "washington") for i in range(120)]
        + [(1000 + i, f"rare{i}") for i in range(5)],
        "mention_id long, surface string",
    )
    aliases = spark.createDataFrame(
        [("washington", "e1", 0.9), ("rare0", "e2", 0.5)],
        "alias string, entity_id string, prior double",
    )
    k = plan_salt_k(
        mentions.withColumn("norm", normalize_surface(F.col("surface"))),
        ["norm"],
        target_rows_per_task=50,
    )
    assert k == 3  # ceil(120 / 50), measured — not the default 16
    out = link_mentions(
        mentions, aliases, fuzzy=False, broadcast_aliases=False, salt_k=k
    )
    plan = formatted_plan(out)
    assert re.search(r"pmod\(xxhash64\(mention_id#\d+L?, 42\), 3\)", plan), (
        plan
    )
    assert "), 16)" not in plan  # the default never leaks in
    ref = link_mentions(mentions, aliases, fuzzy=False,
                        broadcast_aliases=True)
    got = sorted(map(tuple, out.collect()))
    want = sorted(map(tuple, ref.collect()))
    assert got == want and len(got) == 125


def test_pq_encode_partial_min_by_no_window(spark):
    """pq_encode's per-(vector, subspace) argmin must follow the same
    no-expanded-shuffle rule as assign_cells: partial-agged min_by (the
    K fan-out collapses map-side; the exchange carries the code-table
    size), never a row_number window over the N x n_sub x K expansion."""
    from deepee_spark.operators.similarity import pq_encode

    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5, float(i % 2)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    cb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 1.0, 1.0])],
        "c_id long, c_emb array<float>",
    )
    out = pq_encode(emb, cb, "vec_id", "embedding", dim=4, n_sub=2)
    plan = formatted_plan(out)
    assert "Window" not in plan, plan
    assert "partial_min_by" in plan, plan
    assert out.count() == 40  # N x n_sub codes


def test_history_dedup_verification_runs_on_every_core(spark, tmp_path):
    """Near-dup verification in dedup_drop_against_history is CPU-heavy
    but byte-light: without an explicit-count repartition AQE coalesces
    it into one task. Its pinned output has one partition per
    verification task, so count them at run time."""
    from deepee_spark.corpus import corpus_df
    from deepee_spark.plans.pipeline import Pipeline
    from deepee_spark.sources.tables import StageCatalog

    docs = corpus_df(spark, 120).localCheckpoint()
    first = docs.limit(60).localCheckpoint()
    second = docs.exceptAll(first).localCheckpoint()
    pipe = Pipeline(spark, StageCatalog(str(tmp_path / "cat")))
    pipe.dedup_drop_against_history(first, "drop1")
    dups = pipe.dedup_drop_against_history(second, "drop2")
    assert dups.count() > 0
    assert dups.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism > 1
