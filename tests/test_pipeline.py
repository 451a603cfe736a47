"""End-to-end DAG: triple agreement, resume, determinism, column pruning.

One 80-doc pipeline run is shared by the read-only assertions (module
fixture); the mutating resume tests run against their own catalogs with a
smaller corpus.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from deepee_spark.corpus import corpus_df, gold_triples_df
from deepee_spark.operators.metrics import tuple_set_prf
from deepee_spark.plans.pipeline import Pipeline
from deepee_spark.sources.tables import StageCatalog

N_DOCS = 80
KEYS = ["url", "subj", "pred", "obj"]


@pytest.fixture(scope="module")
def main_run(spark, tmp_path_factory):
    cat = StageCatalog(str(tmp_path_factory.mktemp("cat")))
    docs = corpus_df(spark, N_DOCS)
    pipe = Pipeline(spark, cat)
    triples = pipe.run(docs, f"corpus:{N_DOCS}", resume=True)
    return cat, pipe, triples


def test_end_to_end_triple_agreement(spark, main_run):
    _cat, _pipe, triples = main_run
    gold = gold_triples_df(spark, N_DOCS)
    m = tuple_set_prf(triples, gold, KEYS)
    assert m["n_gold"] > 50
    assert m["precision"] >= 0.95 and m["recall"] >= 0.95  # BASELINE.md §2
    assert m["precision"] == 1.0 and m["recall"] == 1.0  # constructed weights


def test_resume_skips_completed_stages(spark, main_run):
    cat, first, t1 = main_run
    assert first.skipped == []
    p2 = Pipeline(spark, StageCatalog(cat.root))
    t2 = p2.run(corpus_df(spark, N_DOCS), f"corpus:{N_DOCS}", resume=True)
    assert p2.ran == [] and len(p2.skipped) == 9
    assert t2.count() == t1.count()


def test_lineage_columns_stamped(spark, main_run):
    cat, _pipe, _t = main_run
    sent = cat.read(spark, "sentences")
    assert {"_run_id", "_stage", "_part_id"} <= set(sent.columns)
    assert sent.select("_stage").distinct().collect()[0][0] == "sentences"


def test_html_binary_dies_at_extracted(spark, main_run):
    """The html column must not survive past extraction (scan width at
    100 TB is dominated by it)."""
    cat, _pipe, _t = main_run
    for stage in ["extracted", "sentences", "triggers", "arguments", "triples"]:
        cols = cat.read(spark, stage).columns
        assert "html" not in cols, stage


def test_partial_resume_after_kill(spark, tmp_path):
    """Kill after stage N (drop later tables), rerun: earlier stages
    skipped, later recomputed (BASELINE.md §2 resumability)."""
    root = str(tmp_path / "cat")
    docs = corpus_df(spark, 20)
    cat = StageCatalog(root)
    t1 = Pipeline(spark, cat).run(docs, "corpus:20", resume=True)
    n1 = t1.count()
    for stage in ["arguments", "linked", "canonical", "triples"]:
        cat.drop(stage)
    p = Pipeline(spark, StageCatalog(root))
    t2 = p.run(docs, "corpus:20", resume=True)
    assert set(p.skipped) == {
        "documents", "extracted", "table_facts", "sentences", "triggers"
    }
    assert set(p.ran) == {"arguments", "linked", "canonical", "triples"}
    assert t2.count() == n1


def test_counter_metrics_recorded(spark, main_run):
    """Every stage commit records row/partition counters (observe-based,
    no extra scan) in _meta.json and appends to pipeline_runs.jsonl."""
    import json
    import os

    cat, _pipe, t1 = main_run
    meta = cat.latest_meta("triples")
    assert meta["rows"] == t1.count()
    assert meta["partitions"] >= 1
    runs_log = os.path.join(cat.root, "pipeline_runs.jsonl")
    assert os.path.exists(runs_log)
    entries = [json.loads(l) for l in open(runs_log)]
    stages = {e["stage"] for e in entries}
    assert {"documents", "sentences", "triggers", "triples"} <= stages
    assert all(e["rows"] >= 0 for e in entries)


def test_empty_corpus_yields_zero_triples(spark, tmp_path):
    """Degenerate inputs must flow through every stage without crashing:
    an empty corpus emits nothing; a corpus where every doc is lang-gated
    emits ZERO event triples, while structured facts (tables/JSON-LD,
    language-agnostic by design) must still exactly match the gold slice
    for the surviving urls."""
    docs = corpus_df(spark, 20)
    for name, d in [("empty", docs.filter("1=0")),
                    ("gated", docs.filter("lang = 'other'"))]:
        pipe = Pipeline(spark, StageCatalog(str(tmp_path / name)))
        t = pipe.run(d, f"corpus:{name}", resume=False)
        assert t.filter(
            "pred NOT LIKE 'attr:%' AND pred NOT LIKE 'ld:%'"
        ).count() == 0
        want = gold_triples_df(spark, 20).join(
            d.select("url").distinct(), "url", "left_semi"
        )
        got = t.select("url", "subj", "pred", "obj")
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        assert len(pipe.ran) == 9


def test_triples_partitioned_by_day(spark, main_run):
    """The final table is crawl-date partitioned (days(warc_ts) transform
    emulated as a parquet partition column) and a day-filtered scan prunes
    to that partition's files."""
    import glob
    import os

    cat, _pipe, t1 = main_run
    snap_dirs = sorted(
        glob.glob(os.path.join(cat.root, "triples", "snapshot=*"))
    )
    day_dirs = glob.glob(os.path.join(snap_dirs[-1], "day=*"))
    assert len(day_dirs) >= 2  # corpus spans ~30 days
    triples = cat.read(spark, "triples")
    one_day = [os.path.basename(d).split("=")[1] for d in day_dirs][0]
    n = triples.filter(F.col("day") == one_day).count()
    assert 0 < n < t1.count()


def test_fused_checkpoint_mode_equivalent(spark, tmp_path):
    """checkpoint='kernels' fuses the narrow chains (extraction+
    segmentation+featurize -> one `sentences` commit; trigger+argument
    kernels -> one `arguments` commit) and the linked/canonical tail
    into the triples commit: same triples as full checkpointing, 4
    commits instead of 8, resume still skips every snapshotted stage —
    and a kill after the kernel commit resumes past ALL kernel
    compute."""
    from deepee_spark.corpus import corpus_df
    from deepee_spark.plans.pipeline import Pipeline
    from deepee_spark.sources.tables import StageCatalog

    docs = corpus_df(spark, 60)
    full = Pipeline(spark, StageCatalog(str(tmp_path / "full")))
    t_full = full.run(docs, "corpus:60", resume=False)
    fused = Pipeline(
        spark, StageCatalog(str(tmp_path / "fused")), checkpoint="kernels"
    )
    t_fused = fused.run(docs, "corpus:60", resume=False)
    cols = ["url", "subj", "pred", "obj"]
    assert t_full.select(cols).exceptAll(t_fused.select(cols)).count() == 0
    assert t_fused.select(cols).exceptAll(t_full.select(cols)).count() == 0
    assert fused.ran == ["documents", "sentences", "arguments", "triples"]
    again = Pipeline(
        spark, StageCatalog(str(tmp_path / "fused")), checkpoint="kernels"
    )
    again.run(docs, "corpus:60", resume=True)
    assert again.ran == [] and len(again.skipped) == 4
    # kill after the kernels, before the tail commit: only the fused
    # tail reruns
    cat = StageCatalog(str(tmp_path / "fused"))
    cat.drop("triples")
    p = Pipeline(spark, cat, checkpoint="kernels")
    p.run(docs, "corpus:60", resume=True)
    assert p.skipped == ["documents", "sentences", "arguments"]
    assert p.ran == ["triples"]


def test_final_checkpoint_mode_equivalent(spark, tmp_path):
    """checkpoint='final' (flow-through: one commit, Spark-native task
    retry as the fault model): same triple KEY SET as full
    checkpointing. Confidences may differ by float32 reduction-order
    noise (~1e-7): batch-max padding means different Arrow batch shapes
    pick different BLAS reduction orders — asserted tight, not exact."""
    from deepee_spark.corpus import corpus_df
    from deepee_spark.plans.pipeline import Pipeline
    from deepee_spark.sources.tables import StageCatalog

    docs = corpus_df(spark, 60)
    t_full = Pipeline(spark, StageCatalog(str(tmp_path / "full2"))).run(
        docs, "corpus:60", resume=False
    )
    flow = Pipeline(
        spark, StageCatalog(str(tmp_path / "flow")), checkpoint="final"
    )
    t_flow = flow.run(docs, "corpus:60", resume=False)
    assert flow.ran == ["triples"]
    cols = ["url", "subj", "pred", "obj", "day"]
    assert t_full.select(cols).exceptAll(t_flow.select(cols)).count() == 0
    assert t_flow.select(cols).exceptAll(t_full.select(cols)).count() == 0
    joined = (
        t_full.select(*cols, F.col("confidence").alias("ca"))
        .join(t_flow.select(*cols, F.col("confidence").alias("cb")), cols)
    )
    assert joined.filter(F.abs(F.col("ca") - F.col("cb")) > 1e-5).count() == 0
    # the one committed table resumes like any snapshot — and the resume
    # must short-circuit the COMPUTE, not just the final write: hand the
    # resume run a poisoned input whose evaluation raises, so any eager
    # kernel recompute (e.g. the localCheckpoint pins) fails the test
    def _boom(s):
        raise RuntimeError("final-mode resume recomputed the pipeline")

    poisoned = docs.withColumn("text", F.udf(_boom, "string")("text"))
    again = Pipeline(
        spark, StageCatalog(str(tmp_path / "flow")), checkpoint="final"
    )
    again.run(poisoned, "corpus:60", resume=True)
    assert again.ran == [] and again.skipped == ["triples"]


def test_merge_accumulate_counters(spark, tmp_path):
    """A9: multi-round MERGE accumulation — each round's delta is merged
    into the counter table (sum on key match, insert on miss), one
    snapshot per round."""
    from deepee_spark.sources.tables import StageCatalog

    cat = StageCatalog(str(tmp_path))
    rounds = [
        [("Conflict:Attack", 3, 1), ("Life:Die", 2, 2)],
        [("Conflict:Attack", 1, 0), ("Life:Marry", 5, 5)],
        [("Life:Die", 4, 1)],
    ]
    for i, rows in enumerate(rounds):
        delta = spark.createDataFrame(rows, ["event_type", "n_pred", "n_correct"])
        out = cat.merge_accumulate(
            spark, delta, "eval_counters", ["event_type"],
            ["n_pred", "n_correct"], f"round:{i}",
        )
    got = {r["event_type"]: (r["n_pred"], r["n_correct"]) for r in out.collect()}
    assert got == {
        "Conflict:Attack": (4, 1),
        "Life:Die": (6, 3),
        "Life:Marry": (5, 5),
    }
    assert len(cat._snapshots("eval_counters")) == 3

    # replay guard: re-merging an ALREADY-COMMITTED round's fingerprint
    # must be a no-op even though later rounds committed since (history
    # scan, not latest-only) — a counter merge is not idempotent, so
    # without the guard an orchestrator re-run would double-count
    replay = spark.createDataFrame(rounds[0], ["event_type", "n_pred", "n_correct"])
    out2 = cat.merge_accumulate(
        spark, replay, "eval_counters", ["event_type"],
        ["n_pred", "n_correct"], "round:0",
    )
    got2 = {r["event_type"]: (r["n_pred"], r["n_correct"]) for r in out2.collect()}
    assert got2 == got
    assert len(cat._snapshots("eval_counters")) == 3


def test_catalog_compaction_preserves_rows_and_resume(spark, tmp_path):
    """compact() rewrites the latest snapshot into few files, keeps the
    fingerprint (resume still current), and readers see identical data
    through the same atomic-snapshot switch as any commit."""
    import glob
    import os

    cat = StageCatalog(str(tmp_path / "cat"))
    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    ).repartition(32)
    cat.write(df, "t", "fp1")
    snap0 = os.path.join(cat._table_dir("t"), "snapshot=0")
    n_before = len(glob.glob(os.path.join(snap0, "*.parquet")))
    assert n_before >= 16  # one file per write task

    meta = cat.compact(spark, "t", target_rows_per_file=5_000)
    assert meta["snapshot"] == 1
    snap1 = os.path.join(cat._table_dir("t"), "snapshot=1")
    n_after = len(glob.glob(os.path.join(snap1, "*.parquet")))
    assert n_after == 2  # ceil(10000 / 5000)
    assert cat.is_current("t", "fp1")  # resume semantics unchanged

    back = cat.read(spark, "t")
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).collect()[0][0] == \
        df.agg(F.sum("v")).collect()[0][0]


def test_expire_snapshots_keeps_latest(spark, tmp_path):
    cat = StageCatalog(str(tmp_path / "cat"))
    df = spark.range(100).select(F.col("id").alias("k"))
    for i in range(4):
        cat.write(df, "t", f"fp{i}")
    expired = cat.expire_snapshots("t", keep_last=2)
    assert expired == [0, 1]
    assert [int(s.split("=")[1]) for s in cat._snapshots("t")] == [2, 3]
    # latest still resolves and resume state is intact
    assert cat.is_current("t", "fp3")
    assert cat.read(spark, "t").count() == 100


def test_time_travel_history_and_rollback(spark, tmp_path):
    """Iceberg metadata ops on the emulated catalog: VERSION AS OF reads,
    commit history, and a metadata-cheap rollback that re-publishes an
    old snapshot as the new latest (history stays append-only)."""
    cat = StageCatalog(str(tmp_path / "cat"))
    for i in range(3):
        df = spark.range(100 * (i + 1)).select(F.col("id").alias("k"))
        cat.write(df, "t", f"fp{i}")

    # time travel: each retained version reads back its own rows
    assert cat.read(spark, "t", snapshot=0).count() == 100
    assert cat.read(spark, "t", snapshot=1).count() == 200
    assert cat.read(spark, "t").count() == 300
    with pytest.raises(FileNotFoundError):
        cat.read(spark, "t", snapshot=9)

    # history: one meta per retained snapshot, oldest first
    hist = cat.history("t")
    assert [h["snapshot"] for h in hist] == [0, 1, 2]
    assert [h["rows"] for h in hist] == [100, 200, 300]

    # rollback to snapshot 1: published as snapshot 3, fingerprint
    # carries over so resume sees the rolled-back state as current
    meta = cat.rollback("t", 1)
    assert meta["snapshot"] == 3 and meta["rollback_of"] == 1
    assert cat.read(spark, "t").count() == 200
    assert cat.is_current("t", "fp1")
    assert not cat.is_current("t", "fp2")
    assert [h["snapshot"] for h in cat.history("t")] == [0, 1, 2, 3]

    # a partitioned snapshot rolls back too (hardlink walk recurses)
    p = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("part")
    )
    cat.write(p, "pt", "fpA", partition_by=["part"])
    cat.write(p.filter("k < 10"), "pt", "fpB", partition_by=["part"])
    cat.rollback("pt", 0)
    assert cat.read(spark, "pt").count() == 50
    assert cat.is_current("pt", "fpA")


def test_graph_node_edge_tables(spark, main_run):
    """North-star literal: triples -> partitioned node/edge tables.
    Node and edge aggregates must reconcile exactly with the triples
    snapshot they were derived from, resume must skip both stages, and
    the partition columns must reach the directory layout."""
    import os

    cat, pipe, triples = main_run
    nodes, edges = pipe.materialize_graph(triples, f"corpus:{N_DOCS}")

    t = triples.select("subj", "pred", "obj", "url", "day").cache()
    n_event = t.filter("subj LIKE '%#%'").select("subj").distinct().count()
    n_entity = (
        t.filter("subj NOT LIKE '%#%'").select(F.col("subj").alias("x"))
        .unionByName(
            t.filter(
                "pred NOT LIKE 'attr:%' AND pred NOT LIKE 'ld:%'"
            ).select(F.col("obj").alias("x"))
        )
        .distinct()
        .count()
    )
    n_value = (
        t.filter("pred LIKE 'attr:%' OR pred LIKE 'ld:%'")
        .select("obj").distinct().count()
    )
    kinds = {r["kind"]: r["n"] for r in
             nodes.groupBy("kind").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert kinds == {"event": n_event, "entity": n_entity, "value": n_value}

    # every node's n_triples sums back to 2x the triple count (each
    # triple touches one subj node and one obj node)
    assert nodes.agg(F.sum("n_triples")).collect()[0][0] == 2 * t.count()

    assert edges.count() == t.select("subj", "pred", "obj").distinct().count()
    assert edges.agg(F.sum("weight")).collect()[0][0] == t.count()
    # pred_type is the event type prefix of pred
    bad = edges.filter(
        F.split("pred", ":").getItem(0) != F.col("pred_type")
    ).count()
    assert bad == 0

    # identity partition columns reached the directory layout
    ndir = os.path.join(cat._table_dir("nodes"), "snapshot=0")
    assert any(e.startswith("kind=") for e in os.listdir(ndir))
    edir = os.path.join(cat._table_dir("edges"), "snapshot=0")
    assert any(e.startswith("pred_type=") for e in os.listdir(edir))

    # resume: a second materialize over the same fingerprint skips
    before = list(pipe.skipped)
    pipe.materialize_graph(triples, f"corpus:{N_DOCS}")
    assert pipe.skipped[len(before):] == ["nodes", "edges"]
    t.unpersist()


def test_append_snapshot_and_vacuum(spark, tmp_path):
    """Fast append: snapshot N+1 = previous files (hardlinked) + delta
    files; readers see the union, history records the append, and
    vacuum clears only orphaned staging dirs."""
    import os
    import time

    cat = StageCatalog(str(tmp_path / "cat"))
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("part")
    )
    cat.write(base, "t", "fp-base", partition_by=["part"])
    delta = spark.range(100, 140).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("part")
    )
    meta = cat.append(delta, "t", "fp-plus-delta", partition_by=["part"])
    assert meta["rows"] == 140 and meta["appended_rows"] == 40
    assert meta["append_of"] == 0

    got = cat.read(spark, "t")
    assert got.count() == 140
    assert got.select("k").distinct().count() == 140
    # time travel still sees the pre-append table
    assert cat.read(spark, "t", snapshot=0).count() == 100
    assert cat.is_current("t", "fp-plus-delta")

    # vacuum: a crashed write's staging dir is removed, snapshots kept;
    # a YOUNG .tmp dir (possibly a concurrent in-flight write) is spared
    # by the default grace window until it ages past it
    orphan = os.path.join(cat._table_dir("t"), ".tmp-deadbeef")
    os.makedirs(orphan)
    assert cat.vacuum() == []
    assert os.path.exists(orphan)
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    removed = cat.vacuum()
    assert removed == [os.path.join("t", ".tmp-deadbeef")]
    assert not os.path.exists(orphan)
    assert cat.read(spark, "t").count() == 140


def test_incremental_run_appends_delta_triples(spark, tmp_path):
    """run_incremental over a disjoint crawl drop must yield the same
    triple set as one full run over base+delta (canonicalization is
    content-deterministic per entity cluster in this corpus), while
    writing only the delta's files."""
    cat = StageCatalog(str(tmp_path / "cat"))
    full = corpus_df(spark, 160)
    base = corpus_df(spark, 120)
    delta = full.join(base.select("url"), "url", "left_anti")

    pipe = Pipeline(spark, cat, checkpoint="final")
    pipe.run(base, "drop:0", resume=True)
    combined = pipe.run_incremental(delta, "drop:1")

    want = gold_triples_df(spark, 160)
    prf = tuple_set_prf(combined, want, KEYS)
    assert prf["precision"] == 1.0 and prf["recall"] == 1.0

    # append metadata: only the delta's rows were written
    meta = cat.latest_meta("triples")
    assert meta["append_of"] == 0
    assert meta["appended_rows"] == combined.count() - \
        cat.history("triples")[0]["rows"]

    # idempotence: re-running the same drop fingerprint skips
    again = pipe.run_incremental(delta, "drop:1")
    assert pipe.skipped[-1] == "triples"
    assert again.count() == combined.count()

    # replay AFTER a later commit: drop:1 is no longer the latest
    # triples fingerprint, but a replayed orchestrator run must still
    # skip (history scan) — re-appending would duplicate every one of
    # the drop's triples
    delta2 = corpus_df(spark, 170).join(
        full.select("url"), "url", "left_anti"
    )
    n_after2 = pipe.run_incremental(delta2, "drop:2").count()
    replayed = pipe.run_incremental(delta, "drop:1")
    assert pipe.skipped[-1] == "triples"
    assert replayed.count() == n_after2


def test_canonicalize_incremental_bridges_across_drops(spark, tmp_path):
    """A surface bridge whose halves arrive in DIFFERENT drops must fold
    into one canonical id, matching a full canonicalize() over the union
    — and a same-fingerprint replay must skip both state tables."""
    from deepee_spark.plans.pipeline import canonicalize

    cat = StageCatalog(str(tmp_path / "cat"))
    pipe = Pipeline(spark, cat)
    drop1 = spark.createDataFrame(
        [("AA Corp", "E2"), ("BB Inc", "E3")], ["surface", "entity_id"]
    )
    drop2 = spark.createDataFrame(
        # "aa  corp" normalizes to the same surface node as "AA Corp",
        # bridging E1 into E2's drop-1 component; E3 stays untouched
        [("aa corp", "E1"), ("CC Ltd", "E4")],
        ["surface", "entity_id"],
    )
    m1 = {
        r.entity_id: r.canonical_id
        for r in pipe.canonicalize_incremental(drop1, "drop:1").collect()
    }
    assert m1 == {"E2": "E2", "E3": "E3"}
    m2 = {
        r.entity_id: r.canonical_id
        for r in pipe.canonicalize_incremental(drop2, "drop:2").collect()
    }
    full = {
        r.entity_id: r.canonical_id
        for r in canonicalize(drop1.unionByName(drop2)).collect()
    }
    assert m2 == full == {"E1": "E1", "E2": "E1", "E3": "E3", "E4": "E4"}

    # replay idempotence: same fingerprint -> both tables read back
    before = list(pipe.skipped)
    m2b = {
        r.entity_id: r.canonical_id
        for r in pipe.canonicalize_incremental(drop2, "drop:2").collect()
    }
    assert m2b == m2
    assert pipe.skipped[len(before):] == ["canon_labels", "canon_ents"]


def test_canonical_changes_and_stale_rewrite(spark, tmp_path):
    """A later drop merges E1 into E2's component: canonical_changes
    must surface (E2 -> E1), and the rewrite batch must retarget stale
    ids in BOTH positions — event-role objs AND web-table attr: subjs —
    commit one new snapshot, and skip on replay / when nothing is
    stale. The rewrite runs PERIODICALLY (here: only after drop 3), so
    it must still catch the merge that happened in drop 2 — the set is
    derived from the current mapping, not a latest-two-snapshot diff."""
    cat = StageCatalog(str(tmp_path / "cat"))
    pipe = Pipeline(spark, cat)
    drop1 = spark.createDataFrame(
        [("AA Corp", "E2"), ("BB Inc", "E3")], ["surface", "entity_id"]
    )
    pipe.canonicalize_incremental(drop1, "drop:1")
    cat.write(
        spark.createDataFrame(
            [
                ("u1", "ev1", "p:role", "E2", "2024-01-01"),
                ("u2", "ev2", "p:role", "E3", "2024-01-02"),
                # web-table fact: canonical entity id in SUBJ, literal obj
                ("u3", "E2", "attr:hq", "Berlin", "2024-01-01"),
            ],
            ["url", "subj", "pred", "obj", "day"],
        ),
        "triples",
        "seed",
        partition_by=["day"],
    )
    assert pipe.canonical_changes().count() == 0  # no merges yet

    drop2 = spark.createDataFrame(
        [("aa corp", "E1")], ["surface", "entity_id"]
    )
    pipe.canonicalize_incremental(drop2, "drop:2")
    # a merge-free drop lands BEFORE the periodic rewrite runs: the
    # drop-2 merge must survive the extra snapshot advance
    drop3 = spark.createDataFrame(
        [("DD GmbH", "E9")], ["surface", "entity_id"]
    )
    pipe.canonicalize_incremental(drop3, "drop:3")
    ch = {
        (r.old_canonical_id, r.new_canonical_id)
        for r in pipe.canonical_changes().collect()
    }
    assert ch == {("E2", "E1")}

    out = pipe.rewrite_stale_canonicals("drop:3")
    assert pipe.ran[-1] == "triples_rewrite"
    rows = {(r.url, r.subj, r.obj) for r in out.collect()}
    assert rows == {
        ("u1", "ev1", "E1"),  # stale obj retargeted
        ("u2", "ev2", "E3"),  # untouched
        ("u3", "E1", "Berlin"),  # stale attr: SUBJ retargeted
    }
    n_snap = len(cat.history("triples"))

    # replay with the same fingerprint: skipped, no new snapshot
    pipe.rewrite_stale_canonicals("drop:3")
    assert pipe.skipped[-1] == "triples_rewrite"
    assert len(cat.history("triples")) == n_snap

    # another merge-free advance: changes stay cumulative ({E2->E1})
    # but every triple is already current -> the left-semi pre-check
    # skips the rewrite without committing
    drop4 = spark.createDataFrame(
        [("EE SA", "E8")], ["surface", "entity_id"]
    )
    pipe.canonicalize_incremental(drop4, "drop:4")
    assert pipe.canonical_changes().count() == 1
    pipe.rewrite_stale_canonicals("drop:4")
    assert pipe.skipped[-1] == "triples_rewrite"
    assert len(cat.history("triples")) == n_snap


def test_incremental_canonicalization_equals_full_run(spark, tmp_path):
    """Full run (checkpoint='all', which seeds the linked stage table)
    followed by an incremental drop must emit EXACTLY the triple set of
    one full run over base+delta — the cold-start bootstrap folds the
    stored alias graph so cross-run canonical ids agree."""
    cat = StageCatalog(str(tmp_path / "cat"))
    full_docs = corpus_df(spark, 80)
    base = corpus_df(spark, 60)
    delta = full_docs.join(base.select("url"), "url", "left_anti")

    pipe = Pipeline(spark, cat, checkpoint="all")
    pipe.run(base, "drop:0", resume=True)
    combined = pipe.run_incremental(delta, "drop:1")

    ref_pipe = Pipeline(spark, StageCatalog(str(tmp_path / "ref")))
    want = ref_pipe.run(full_docs, "corpus:80", resume=False)

    got_k = combined.select(*KEYS)
    want_k = want.select(*KEYS)
    assert got_k.exceptAll(want_k).count() == 0
    assert want_k.exceptAll(got_k).count() == 0


def test_append_with_added_column_evolves_schema(spark, tmp_path):
    """Iceberg-style add-column evolution: an appended delta may carry a
    NEW column; the snapshot's recorded schema becomes the delta's, and
    rows from the linked pre-append files read back as NULL for it."""
    cat = StageCatalog(str(tmp_path / "cat"))
    base = spark.range(10).select(F.col("id").alias("k"))
    cat.write(base, "t", "fp0")
    delta = spark.range(10, 15).select(
        F.col("id").alias("k"), F.lit("v2").alias("tag")
    )
    cat.append(delta, "t", "fp1")
    got = cat.read(spark, "t")
    assert "tag" in got.columns
    rows = {r["k"]: r["tag"] for r in got.collect()}
    assert all(rows[k] is None for k in range(10))
    assert all(rows[k] == "v2" for k in range(10, 15))


def test_sorted_compaction_orders_files_for_skipping(spark, tmp_path):
    """compact(sort_by=...) must range-partition the key space across
    files and sort within each, so parquet row-group min/max stats can
    prune point scans; data and resume state stay identical."""
    import glob
    import os

    import pyarrow.parquet as pq

    cat = StageCatalog(str(tmp_path / "cat"))
    df = spark.range(10_000).select(
        (F.col("id") * 2654435761 % 1000003).alias("k"),
        F.col("id").alias("v"),
    ).repartition(16)
    cat.write(df, "t", "fp1")
    cat.compact(spark, "t", target_rows_per_file=2_500, sort_by=["k"])

    snap = os.path.join(cat._table_dir("t"), "snapshot=1")
    files = sorted(glob.glob(os.path.join(snap, "*.parquet")))
    assert len(files) == 4
    ranges = []
    for f in files:
        ks = pq.read_table(f, columns=["k"]).column("k").to_pylist()
        assert ks == sorted(ks)  # sorted inside each file
        ranges.append((min(ks), max(ks)))
    # files cover DISJOINT key ranges (range partitioning), so a point
    # lookup touches one file's row groups only
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
    assert cat.is_current("t", "fp1")
    assert cat.read(spark, "t").count() == 10_000


def test_compaction_preserves_partition_layout(spark, tmp_path):
    """Compacting a partitioned table must keep the directory layout
    (Iceberg rewrites preserve the partition spec) — including the
    sorted variant — and appends inherit the recorded spec."""
    import os

    cat = StageCatalog(str(tmp_path / "cat"))
    df = spark.range(2_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("part"),
    ).repartition(8)
    cat.write(df, "t", "fp1", partition_by=["part"])
    cat.compact(spark, "t", target_rows_per_file=1_000, sort_by=["k"])
    snap = os.path.join(cat._table_dir("t"), "snapshot=1")
    assert any(e.startswith("part=") for e in os.listdir(snap))
    assert cat.read(spark, "t").count() == 2_000
    assert cat.read(spark, "t").filter("part = '2'").count() == 500

    # append without an explicit spec inherits the recorded one
    delta = spark.range(2_000, 2_100).select(
        F.col("id").alias("k"), (F.col("id") % 4).cast("string").alias("part")
    )
    cat.append(delta, "t", "fp2")
    snap2 = os.path.join(cat._table_dir("t"), "snapshot=2")
    assert any(e.startswith("part=") for e in os.listdir(snap2))
    assert cat.read(spark, "t").count() == 2_100


def test_graph_analytics_over_pipeline_triples(spark, main_run):
    """The graph-analytics family composes with the REAL pipeline
    output: edges_from(triples) -> (src, dst) drives exact-integer
    PageRank and shared-neighbor similarity, checked against
    brute-force recurrences on the collected triple set."""
    from collections import defaultdict

    from deepee_spark.operators.graph import (
        PR_SCALE,
        co_neighbors,
        pagerank_int,
    )
    from deepee_spark.plans.pipeline import edges_from

    _cat, _pipe, triples = main_run
    edges = edges_from(triples).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    rows = sorted({(r.src, r.dst) for r in edges.collect()})
    assert rows, "pipeline emitted no edges"

    # exact-integer PageRank == the pure-python recurrence
    nodes = sorted({a for a, _ in rows} | {b for _, b in rows})
    r0 = PR_SCALE // len(nodes)
    tp = (15 * r0) // 100
    outdeg = defaultdict(int)
    for a, _ in rows:
        outdeg[a] += 1
    rank = {v: r0 for v in nodes}
    for _ in range(3):
        s = defaultdict(int)
        for a, b in rows:
            s[b] += rank[a] // outdeg[a]
        rank = {v: tp + (85 * s[v]) // 100 for v in nodes}
    got = {r.node: r.rank for r in pagerank_int(edges, iters=3).collect()}
    assert got == rank

    # events sharing an argument entity: brute force over dst groups
    by_dst = defaultdict(set)
    for a, b in rows:
        by_dst[b].add(a)
    want = defaultdict(int)
    for srcs in by_dst.values():
        ss = sorted(srcs)
        for i, a in enumerate(ss):
            for b in ss[i + 1:]:
                want[(a, b)] += 1
    pairs = {(r.a, r.b): r.n_shared for r in co_neighbors(edges).collect()}
    assert pairs == dict(want)


def test_enrich_nodes_stage(spark, main_run):
    """node_stats = nodes + exact-integer PageRank + in/out degree,
    committed under the stage contract (resume skips; kind partitions
    reach the layout); rank checked against the pure-python recurrence
    over the distinct (subj, obj) edge set."""
    import os
    from collections import defaultdict

    from deepee_spark.operators.graph import PR_SCALE

    cat, pipe, triples = main_run
    nodes, edges = pipe.materialize_graph(triples, f"corpus:{N_DOCS}")
    stats = pipe.enrich_nodes(nodes, edges, f"corpus:{N_DOCS}")

    assert stats.count() == nodes.count()

    e = sorted({(r.subj, r.obj) for r in edges.select("subj", "obj").collect()})
    vs = sorted({a for a, _ in e} | {b for _, b in e})
    r0 = PR_SCALE // len(vs)
    tp = (15 * r0) // 100
    outdeg = defaultdict(int)
    for a, _ in e:
        outdeg[a] += 1
    rank = {v: r0 for v in vs}
    for _ in range(3):
        s = defaultdict(int)
        for a, b in e:
            s[b] += rank[a] // outdeg[a]
        rank = {v: tp + (85 * s[v]) // 100 for v in vs}
    got = {r.node_id: r.rank for r in stats.collect()}
    assert {v: got[v] for v in vs} == rank

    # degrees reconcile with the raw edge multiset (non-distinct pairs)
    raw_out = defaultdict(int)
    for r in edges.select("subj", "obj").collect():
        raw_out[r.subj] += 1
    for r in stats.collect():
        assert r.out_degree == raw_out.get(r.node_id, 0)

    # resume: same fingerprint skips the stage
    before = list(pipe.skipped)
    pipe.enrich_nodes(nodes, edges, f"corpus:{N_DOCS}")
    assert pipe.skipped[len(before):] == ["node_stats"]

    sdir = os.path.join(cat._table_dir("node_stats"), "snapshot=0")
    assert any(p.startswith("kind=") for p in os.listdir(sdir))


def test_enrich_nodes_incremental_warm_start(spark, main_run):
    """The warm-started converged variant: seeds from the previous
    node_stats snapshot when one exists, reaches a band-fixpoint on the
    CURRENT edges, and commits under its own fingerprint so the
    fixed-iteration and converged contracts never collide."""
    cat, pipe, triples = main_run
    nodes, edges = pipe.materialize_graph(triples, f"corpus:{N_DOCS}")
    # fixed-iteration stats first -> becomes the seed snapshot
    pipe.enrich_nodes(nodes, edges, f"corpus:{N_DOCS}")
    stats = pipe.enrich_nodes_incremental(nodes, edges, f"corpus:{N_DOCS}")
    assert stats.count() == nodes.count()
    assert "node_stats" in pipe.ran
    # converged rank is a genuine fixpoint: one more exact iteration
    # moves nothing beyond the tolerance band
    from collections import defaultdict

    from deepee_spark.operators.graph import PR_SCALE

    e = sorted({(r.subj, r.obj) for r in edges.select("subj", "obj").collect()})
    vs = sorted({a for a, _ in e} | {b for _, b in e})
    r0 = PR_SCALE // len(vs)
    tp = (15 * r0) // 100
    outdeg = defaultdict(int)
    for a, _ in e:
        outdeg[a] += 1
    got = {r.node_id: r.rank for r in stats.collect() if r.node_id in set(vs)}
    s = defaultdict(int)
    for a, b in e:
        s[b] += got[a] // outdeg[a]
    nxt = {v: tp + (85 * s[v]) // 100 for v in vs}
    assert max(abs(nxt[v] - got[v]) for v in vs) <= 100
    # resume: same fingerprint skips
    before = list(pipe.skipped)
    pipe.enrich_nodes_incremental(nodes, edges, f"corpus:{N_DOCS}")
    assert pipe.skipped[len(before):] == ["node_stats"]


def test_accumulate_degrees_across_drops(spark, tmp_path):
    """Two crawl drops merge their per-node observation-degree deltas
    into one counter table that equals a full-table recount; a replayed
    merge with the same fingerprint... is a new snapshot but the totals
    stay a pure function of what was merged."""
    from deepee_spark.corpus import corpus_df

    cat = StageCatalog(str(tmp_path / "cat"))
    pipe = Pipeline(spark, cat)
    docs = corpus_df(spark, 60)
    a = docs.filter("CAST(regexp_extract(url, '([0-9]+)$', 1) AS INT) % 2 = 0")
    b = docs.filter("CAST(regexp_extract(url, '([0-9]+)$', 1) AS INT) % 2 = 1")

    t1 = pipe.run(a, "drop:a", resume=False)
    pipe.accumulate_degrees(t1, "drop:a")
    t2 = pipe.run_incremental(b, "drop:a+b")
    # the second merge takes only the DELTA (drop b's day partitions =
    # everything not in t1)
    delta = t2.join(
        t1.select("url").distinct(), "url", "left_anti"
    )
    merged = pipe.accumulate_degrees(delta, "drop:a+b")

    full = t2.selectExpr("subj AS node_id", "1 AS o", "0 AS i").unionByName(
        t2.selectExpr("obj AS node_id", "0 AS o", "1 AS i")
    ).groupBy("node_id").agg(
        F.sum("o").cast("long").alias("out_degree"),
        F.sum("i").cast("long").alias("in_degree"),
    )
    got = {r.node_id: (r.out_degree, r.in_degree) for r in merged.collect()}
    want = {r.node_id: (r.out_degree, r.in_degree) for r in full.collect()}
    assert got == want


def test_table_triples_share_canonicalization(spark, main_run):
    """Web-table attr triples ride the same linked/canonical stages:
    they exist, their subjects are canonical entity ids (never
    event-instance ids), and their objects are the literal cell
    values."""
    _cat, _pipe, t = main_run
    attr = t.filter("pred LIKE 'attr:%'")
    assert attr.count() > 0
    assert attr.filter("subj LIKE '%#%'").count() == 0
    assert attr.filter("subj NOT LIKE 'E:%'").count() == 0
    preds = {r.pred for r in attr.select("pred").distinct().collect()}
    assert preds == {"attr:class", "attr:seen"}


def test_jsonld_triples_share_canonicalization(spark, main_run):
    """JSON-LD structured-data triples (third modality) ride the same
    linked/canonical stages: present, canonical entity-id subjects,
    literal objects, 'ld:' namespace disjoint from 'attr:'."""
    _cat, _pipe, t = main_run
    ld = t.filter("pred LIKE 'ld:%'")
    assert ld.count() > 0
    assert ld.filter("subj LIKE '%#%'").count() == 0
    assert ld.filter("subj NOT LIKE 'E:%'").count() == 0
    preds = {r.pred for r in ld.select("pred").distinct().collect()}
    assert preds == {"ld:cls", "ld:rank"}


def test_dedup_drop_against_history(spark, tmp_path):
    """Cross-drop incremental near-dedup: drop 2's near-copy of a
    drop-1 page is reported against history only (not within-drop),
    exact duplicates score 1.0, and a replayed drop returns the
    identical pair set without matching itself."""
    from deepee_spark.plans.pipeline import Pipeline
    from deepee_spark.sources.tables import StageCatalog

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    near = base.replace("upsilon", "psi")          # 19/21 overlap
    far = "one two three four five six seven eight nine ten"

    def docs(rows):
        return spark.createDataFrame(rows, "url string, text string")

    pipe = Pipeline(spark, StageCatalog(str(tmp_path / "cat")))
    d1 = docs([("u/1", base), ("u/2", far)])
    assert pipe.dedup_drop_against_history(d1, "drop1").count() == 0

    # drop 2: an exact copy, a near copy, an unrelated page, and an
    # in-drop duplicate pair that must NOT be reported here
    d2 = docs([
        ("u/3", base), ("u/4", near), ("u/5", "totally different words"),
        ("u/6", "in drop twin text"), ("u/7", "in drop twin text"),
    ])
    got = {
        (r.url, r.dup_url): r.jaccard
        for r in pipe.dedup_drop_against_history(d2, "drop2").collect()
    }
    assert got[("u/3", "u/1")] == 1.0
    assert ("u/4", "u/1") in got and 0.8 < got[("u/4", "u/1")] < 1.0
    assert all(u not in ("u/6", "u/7") for u, _ in got)
    assert all(d in ("u/1", "u/2") for _, d in got)

    # replay of drop 2: identical result, no self-matching, no growth
    replay = {
        (r.url, r.dup_url): r.jaccard
        for r in pipe.dedup_drop_against_history(d2, "drop2").collect()
    }
    assert replay == got
    cat = pipe.catalog
    assert cat.read(spark, "mh_tokens").count() == 7  # 2 + 5, appended once

    # drop 3 sees drop-2 history too
    d3 = docs([("u/8", "in drop twin text")])
    got3 = {
        (r.url, r.dup_url)
        for r in pipe.dedup_drop_against_history(d3, "drop3").collect()
    }
    assert got3 == {("u/8", "u/6"), ("u/8", "u/7")}


def test_facts_shape_change_requires_fingerprint_bump(spark, tmp_path):
    """r4 verdict task 5: the JSON-LD addition to facts_from shipped
    with a v2->v3 fingerprint bump so resumed warehouses re-ran
    table_facts instead of silently skipping with stale facts. Nothing
    guarded the NEXT facts change — this pins the (facts semantic
    hash, fingerprint version) PAIR: change facts_from's output on the
    canonical corpus and this fails until FINGERPRINT_VERSION in
    plans/pipeline.py (the one version run, run_incremental and
    materialize_graph all fingerprint with) is bumped — at which point
    update BOTH constants below together. Also pins the mechanism: a
    catalog stage current at vN must re-run when only the version
    component changes."""
    import hashlib
    import inspect
    import json
    import re

    import deepee_spark.plans.pipeline as pl
    from deepee_spark.corpus import corpus_df
    from deepee_spark.sources.tables import StageCatalog

    # (a) every fingerprint site carries the SAME version: drive run
    # (every profile), run_incremental and materialize_graph against a
    # catalog that records fingerprints and reports every stage current
    # (so nothing is built or committed)
    class Recorder:
        def __init__(self):
            self.fps: list[str] = []

        def stage(self, spark, name, fp, build, resume=True,
                  partition_by=None):
            self.fps.append(fp)
            return spark.range(0), False, 0.0

        def was_committed(self, name, fp):
            self.fps.append(fp)
            return True

        def read(self, spark, name, snapshot=None):
            return spark.range(0)

    rec = Recorder()
    never_read = spark.range(0)
    for mode in pl.POLICIES:
        pl.Pipeline(spark, rec, checkpoint=mode).run(never_read, "x")
    pl.Pipeline(spark, rec).run_incremental(never_read, "x")
    pl.Pipeline(spark, rec).materialize_graph(never_read, "x")
    assert len(rec.fps) == 9 + 4 + 1 + 1 + 2, rec.fps
    versions = [re.fullmatch(r"x/\w+/v(\d+)", fp).group(1) for fp in rec.fps]
    assert len(set(versions)) == 1, f"version skew across sites: {rec.fps}"
    version = int(versions[0])
    # ...and no stage fingerprint is spelled out past the shared helper
    stages = "|".join(pl.STAGES + ["nodes", "edges"])
    literal = re.findall(rf"/(?:{stages})/v\d", inspect.getsource(pl))
    assert not literal, literal

    # (b) the pinned pair — update together, never separately
    PINNED_VERSION = 3
    PINNED_FACTS_HASH = (
        "c2ec08f72a45e041fd6906f6514a08fe67d69eb3d7a0760fb457d4d012f0f5ee"
    )
    f = pl.facts_from(corpus_df(spark, 40))
    cols = sorted(f.columns)
    rows = sorted(json.dumps([str(r[c]) for c in cols]) for r in f.collect())
    got_hash = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    assert (version, got_hash) == (PINNED_VERSION, PINNED_FACTS_HASH), (
        "facts_from's output (or schema) changed relative to pipeline "
        f"fingerprint v{version}. Bump plans/pipeline.py "
        "FINGERPRINT_VERSION so resumed warehouses re-run the facts "
        "stages, THEN update "
        "PINNED_VERSION and PINNED_FACTS_HASH here together. "
        f"got: ({version}, {got_hash})"
    )

    # (c) mechanism: version bump alone must force a stage re-run
    cat = StageCatalog(str(tmp_path / "wh"))
    docs = corpus_df(spark, 10)
    _, ran1, _ = cat.stage(
        spark, "table_facts", f"corpus:10/table_facts/v{version}",
        lambda: pl.facts_from(docs),
    )
    _, ran2, _ = cat.stage(
        spark, "table_facts", f"corpus:10/table_facts/v{version}",
        lambda: pl.facts_from(docs),
    )
    _, ran3, _ = cat.stage(
        spark, "table_facts", f"corpus:10/table_facts/v{version + 1}",
        lambda: pl.facts_from(docs),
    )
    assert (ran1, ran2, ran3) == (True, False, True)
