"""The KG-construction stage DAG (SURVEY.md §7):

    documents -> extracted -> sentences -> triggers -> arguments
              -> mentions -> linked -> canonical -> triples (+nodes/edges)

Scale design (the part the reference, a single-GPU gallery, never had):
  * documents are repartitioned once by xxhash64(url) before the heavy
    kernel stages; every later stage inherits that uniform distribution —
    trigger->argument is shuffle-free because argument candidates ride on
    the trigger row (the reference's within-sentence trigger x entity
    cross-product, JMEE ee.py:150-172, realized as an explode, SURVEY J6).
  * the html binary column dies at `extracted`; later scans never touch it
    (column pruning verified in tests via ReadSchema).
  * three extraction modalities read html: prose (`extracted`, after
    the url-hash repartition) and the structured-facts union
    (`table_facts` = web tables + JSON-LD, facts_from, straight off
    the unshuffled documents in every profile). Each is its own narrow,
    embarrassingly parallel scan, so the html bytes are read more than
    once; outside 'all' mode the facts are pinned in memory and consumed
    by the triples job rather than snapshotted.
  * linking joins are broadcast (alias dict is a dimension table);
    mention-surface memoization bounds the fuzzy LSH join; AQE +
    salted_join handle head-entity skew in canonicalization.
  * the DAG is declared once and each durability profile is a policy
    over it (Pipeline): a snapshot stage is an atomic commit with
    lineage columns + observed counters, and `run(resume=True)` skips
    it when its latest snapshot matches the input fingerprint (QAEE's
    materialized-intermediate pattern — script_args_qa.sh reuses
    trigger_predictions.json — made systematic).

In production these tables are Iceberg with `days(warc_ts)` /
`bucket(url)` partition transforms; the sandbox catalog emulates the
commit semantics on parquet (sources/tables.py).
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..extract import documents_stage
from ..functions.featurize import featurize_sentences
from ..kernels.bilstm import decode_roles
from ..kernels.dmcnn import decode_triggers
from ..ontology import (
    ENTITY_GAZETTEER,
    ID_TO_EVENT_TYPE,
    ID_TO_ROLE,
)
from ..operators.components import (
    connected_components,
    connected_components_incremental,
)
from ..operators.linking import link_mentions, normalize_surface
from ..segment import CUTOFF, sentences_stage
from ..sources.tables import StageCatalog

STAGES = [
    "documents",
    "extracted",
    "table_facts",
    "sentences",
    "triggers",
    "arguments",
    "linked",
    "canonical",
    "triples",
]

_TRIGGER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("sent_id", T.IntegerType()),
        T.StructField("trigger_pos", T.IntegerType()),
        T.StructField("trigger", T.StringType()),
        T.StructField("event_type_id", T.IntegerType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("score", T.FloatType()),
        T.StructField("token_ids", T.ArrayType(T.IntegerType())),
        T.StructField(
            "mentions",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("pos", T.IntegerType()),
                        T.StructField("surface", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

_ARG_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("sent_id", T.IntegerType()),
        T.StructField("trigger_pos", T.IntegerType()),
        T.StructField("trigger", T.StringType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("arg_pos", T.IntegerType()),
        T.StructField("surface", T.StringType()),
        T.StructField("role", T.StringType()),
        T.StructField("role_score", T.FloatType()),
    ]
)


def _pad_matrix(seqs: pd.Series, length: int = CUTOFF) -> tuple[np.ndarray, np.ndarray]:
    """Pad to the BATCH max length (<= CUTOFF), not the global CUTOFF: mean
    web-sentence length is ~11 tokens, so fixed-width padding wastes ~4x
    kernel FLOPs. Combined with sort-by-length batch formation (W2, EEGCN
    data_utils.py:218-227) batches become near-homogeneous."""
    n = len(seqs)
    lengths = np.fromiter(
        (min(len(s), length) for s in seqs), dtype=np.int64, count=n
    )
    lmax = max(int(lengths.max()) if n else 1, 1)
    ids = np.zeros((n, lmax), dtype=np.int64)
    for i, s in enumerate(seqs):
        li = lengths[i]
        ids[i, :li] = np.asarray(s[:li], dtype=np.int64)
    return ids, lengths


def triggers_from_sentences(featurized: DataFrame) -> DataFrame:
    """M1 kernel over featurized sentences -> trigger rows (argmax != O)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids, lengths = _pad_matrix(pdf["token_ids"])
            b, t, cls, score = decode_triggers(ids, lengths)
            if len(b) == 0:
                continue
            base = pdf.iloc[b].reset_index(drop=True)
            # plain-ndarray indexing: .iloc per hit costs ~10us each, which
            # dominated the whole kernel stage at ~1 hit/sentence
            tok_np = pdf["tokens"].to_numpy()
            toks = [tok_np[int(i)][int(j)] for i, j in zip(b, t)]
            yield pd.DataFrame(
                {
                    "url": base["url"],
                    "warc_ts": base["warc_ts"],
                    "sent_id": base["sent_id"].astype("int32"),
                    "trigger_pos": t.astype("int32"),
                    "trigger": toks,
                    "event_type_id": cls.astype("int32"),
                    "event_type": [ID_TO_EVENT_TYPE[int(c)] for c in cls],
                    "score": score.astype("float32"),
                    "token_ids": base["token_ids"],
                    "mentions": base["mentions"],
                }
            )

    # Ship ONLY what the kernel reads across Arrow — the raw sentence
    # string and lineage columns would double the per-row transfer.
    featurized = featurized.select(
        "url", "warc_ts", "sent_id", "tokens", "token_ids", "mentions"
    )
    # W2 sort-by-length batch formation (EEGCN data_utils.py:218-227; JMEE
    # training.py:11-16): narrow, no shuffle, and each Arrow batch becomes
    # near-uniform in length so _pad_matrix's batch-max padding pays off.
    # (Streaming micro-batches cannot sort — they are small enough not to
    # need the homogenization.)
    if not featurized.isStreaming:
        featurized = featurized.sortWithinPartitions(F.size("tokens"))
    return featurized.mapInPandas(run, schema=_TRIGGER_SCHEMA)


def arguments_from_triggers(triggers: DataFrame) -> DataFrame:
    """M2-analogue kernel: explode each trigger's candidate mentions (the
    within-row cross-product, no shuffle) and score roles in batch."""
    pairs = triggers.select(
        "url",
        "warc_ts",
        "sent_id",
        "trigger_pos",
        "trigger",
        "event_type",
        "event_type_id",
        "token_ids",
        F.explode("mentions").alias("m"),
    ).select(
        "url",
        "warc_ts",
        "sent_id",
        "trigger_pos",
        "trigger",
        "event_type",
        "event_type_id",
        "token_ids",
        F.col("m.pos").alias("arg_pos"),
        F.col("m.surface").alias("surface"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids, lengths = _pad_matrix(pdf["token_ids"])
            ev = pdf["event_type_id"].to_numpy(dtype=np.int64)
            ap = pdf["arg_pos"].to_numpy(dtype=np.int64)
            role_ids, scores = decode_roles(ids, lengths, ev, ap)
            out = pdf[
                [
                    "url",
                    "warc_ts",
                    "sent_id",
                    "trigger_pos",
                    "trigger",
                    "event_type",
                    "arg_pos",
                    "surface",
                ]
            ].copy()
            out["role"] = [ID_TO_ROLE[int(r)] for r in role_ids]
            out["role_score"] = scores.astype("float32")
            yield out

    # same W2 length-sorted batch formation as the trigger kernel
    if not pairs.isStreaming:
        pairs = pairs.sortWithinPartitions(F.size("token_ids"))
    return pairs.mapInPandas(run, schema=_ARG_SCHEMA)


def alias_df(spark: SparkSession) -> DataFrame:
    """Alias dimension table from the ontology gazetteer (J12 lineage)."""
    rows = [
        (alias, eid, 1.0) for alias, (_et, eid) in sorted(ENTITY_GAZETTEER.items())
    ]
    return spark.createDataFrame(rows, ["alias", "entity_id", "prior"])


def mentions_from_arguments(arguments: DataFrame) -> DataFrame:
    return arguments.select(
        F.xxhash64("url", "sent_id", "arg_pos").alias("mention_id"),
        "url",
        "sent_id",
        "arg_pos",
        "surface",
    ).distinct()


def table_facts_from(documents: DataFrame) -> DataFrame:
    """Stage A': WebTables relational extraction — the second triple
    modality beside sentence EE (operators/webtables; reference has no
    table extractor — DeepEE stops at sentence-level EE). Zero-shuffle
    narrow chain over the SAME html the prose extractor reads; the
    crawl timestamp rides through via carry, so no join back to
    documents is needed. Predicates are namespaced 'attr:' HERE so the
    facts union (tables + JSON-LD) stays namespace-disjoint. Output:
    (url, table_idx, surface, pred, obj, day)."""
    from ..operators.webtables import table_triples

    t = table_triples(documents, carry=("warc_ts",))
    return t.select(
        "url",
        "table_idx",
        F.col("subj").alias("surface"),
        F.concat(F.lit("attr:"), F.col("pred")).alias("pred"),
        "obj",
        F.to_date("warc_ts").alias("day"),
    )


def jsonld_facts_from(documents: DataFrame) -> DataFrame:
    """Stage A'': schema.org JSON-LD extraction — the third triple
    modality (operators/structured.jsonld_triples). Same zero-shuffle
    discipline and the same facts schema as table_facts_from (block_idx
    rides in the table_idx slot), predicates namespaced 'ld:'. Blocks
    without an @id get a url-fragment subject, which is NIL under
    link_mentions and drops — only surface-addressable structured data
    reaches the KG (documented trade; at 10^12 docs the @id-less rest
    belongs to a url-node graph, not the entity KG)."""
    from ..operators.structured import jsonld_triples

    t = jsonld_triples(documents, carry=("warc_ts",))
    return t.select(
        "url",
        F.col("block_idx").alias("table_idx"),
        F.col("subj").alias("surface"),
        F.concat(F.lit("ld:"), F.col("pred")).alias("pred"),
        "obj",
        F.to_date("warc_ts").alias("day"),
    )


def facts_from(documents: DataFrame) -> DataFrame:
    """All structured facts on a page: web tables + JSON-LD, one
    namespace-disjoint union consumed by ONE mention pass, ONE linking
    join, ONE canonicalization — adding a modality costs zero extra
    shuffles downstream."""
    return table_facts_from(documents).unionByName(
        jsonld_facts_from(documents)
    )


def _table_mention_id():
    # namespaced so it can never collide with the event-mention hash
    # xxhash64(url, sent_id, arg_pos)
    return F.xxhash64(
        F.lit("tbl"), F.col("url"), F.col("table_idx"), F.col("surface")
    )


def mentions_from_tables(facts: DataFrame) -> DataFrame:
    """(mention_id, surface) rows for table SUBJECT cells — unioned with
    the event-argument mentions so tables and prose share ONE linking
    pass and ONE canonicalization (a surface seen only in an infobox
    still folds into the coreference component its prose aliases
    build)."""
    return facts.select(
        _table_mention_id().alias("mention_id"), "surface"
    ).distinct()


def table_triples_out(
    facts: DataFrame, linked: DataFrame, canonical: DataFrame
) -> DataFrame:
    """Structured facts (tables + JSON-LD) -> final triples: subject
    surfaces resolve through the SAME linked/canonical tables as event
    arguments; predicates arrive already namespaced ('attr:'/'ld:')
    from the facts builders. NIL subjects drop (link_mentions
    contract) — for JSON-LD that includes @id-less url-fragment
    subjects by design."""
    f = facts.withColumn("mention_id", _table_mention_id())
    j = f.join(
        linked.select("mention_id", "entity_id", "link_score"), "mention_id"
    ).join(F.broadcast(canonical), "entity_id")
    return (
        j.select(
            "url",
            F.col("canonical_id").alias("subj"),
            "pred",
            "obj",
            F.col("link_score").alias("confidence"),
            "day",
        )
        .groupBy("url", "subj", "pred", "obj", "day")
        .agg(F.max("confidence").alias("confidence"))
    )


def canonicalize(linked: DataFrame) -> DataFrame:
    """Coreference edges: normalized-surface node <-> linked-entity node;
    connected components collapse alias clusters; canonical id = the
    lexicographically-min entity_id in the component (deterministic)."""
    base = linked.select(
        normalize_surface(F.col("surface")).alias("norm"), "entity_id"
    ).distinct()
    edges = base.select(
        F.xxhash64(F.concat(F.lit("s:"), F.col("norm"))).alias("src"),
        F.xxhash64(F.concat(F.lit("e:"), F.col("entity_id"))).alias("dst"),
    )
    comp = connected_components(edges)
    ent_nodes = base.select("entity_id").distinct().withColumn(
        "node", F.xxhash64(F.concat(F.lit("e:"), F.col("entity_id")))
    )
    # the one canonical-id rule (min entity_id per component) lives in
    # canonical_mapping — batch, incremental, and superseded-id
    # detection all route through it so a tie-break change cannot
    # silently diverge them
    return canonical_mapping(ent_nodes, comp)


def canonical_mapping(ents: DataFrame, labels: DataFrame) -> DataFrame:
    """ents(node, entity_id) ⋈ labels(node, component) → the
    deterministic (entity_id, canonical_id = min entity_id of the
    component) mapping. Pure; both canonicalize_incremental and the
    superseded-id set in canonical_changes derive from it."""
    ent_labeled = ents.join(labels, "node")
    rep = ent_labeled.groupBy("component").agg(
        F.min("entity_id").alias("canonical_id")
    )
    return ent_labeled.join(rep, "component").select(
        "entity_id", "canonical_id"
    )


def triples_from(arguments: DataFrame, linked: DataFrame, canonical: DataFrame) -> DataFrame:
    """Final graph materialization: (url, subj, pred, obj, confidence).

    subj = event-instance node 'EventType#url#sent_id' (one event per
    sentence in the synthetic corpus; at web scale the trigger_pos joins
    the id). Production partitioning: bucket(subj) + days(warc_ts).
    """
    m = mentions_from_arguments(arguments)
    m_linked = m.join(
        linked.select("mention_id", "entity_id"), "mention_id"
    ).join(F.broadcast(canonical), "entity_id")
    args_obj = arguments.join(
        m_linked.select("url", "sent_id", "arg_pos", "canonical_id"),
        ["url", "sent_id", "arg_pos"],
    )
    return args_obj.select(
        "url",
        F.concat_ws(
            "#", F.col("event_type"), F.col("url"), F.col("sent_id").cast("string")
        ).alias("subj"),
        F.concat_ws(":", "event_type", "role").alias("pred"),
        F.col("canonical_id").alias("obj"),
        F.col("role_score").alias("confidence"),
        F.to_date("warc_ts").alias("day"),
    ).groupBy("url", "subj", "pred", "obj", "day").agg(
        F.max("confidence").alias("confidence")
    )


def nodes_from(triples: DataFrame) -> DataFrame:
    """Graph NODE table: one row per distinct node on either side of a
    triple. Event-instance nodes (subj, labeled by their event type) and
    canonical-entity nodes (obj). The union is aggregated in ONE shuffle
    on node identity with map-side partials; per-node day ranges make
    "entities first seen this week" a metadata-only question.

    North-star literal: "final graph materialization into partitioned
    Iceberg triple/node/edge tables"."""
    events = triples.select(
        F.col("subj").alias("node_id"),
        # event-instance ids carry '#'; attr-triple subjects are
        # canonical entity ids
        F.when(F.col("subj").contains("#"), F.lit("event"))
        .otherwise(F.lit("entity"))
        .alias("kind"),
        F.when(
            F.col("subj").contains("#"), F.split("subj", "#").getItem(0)
        )
        .otherwise(F.col("subj"))
        .alias("label"),
        "day",
    )
    entities = triples.select(
        F.col("obj").alias("node_id"),
        # attr-triple objects are literal values, not entities
        F.when(
            F.col("pred").startswith("attr:")
            | F.col("pred").startswith("ld:"),
            F.lit("value"),
        )
        .otherwise(F.lit("entity"))
        .alias("kind"),
        F.col("obj").alias("label"),
        "day",
    )
    return (
        events.unionByName(entities)
        .groupBy("node_id", "kind", "label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_triples"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
        )
    )


def edges_from(triples: DataFrame) -> DataFrame:
    """Graph EDGE table: triples aggregated to one row per distinct
    (subj, pred, obj) with support weight (observation count), distinct
    source count, best confidence, and the active day range. One shuffle
    on the edge key; the single countDistinct runs as a two-phase
    aggregate, no expand. ``pred_type`` (the event type) is the identity
    partition column — bounded by the ontology, so role-scoped graph
    queries prune whole directories."""
    return (
        triples.groupBy("subj", "pred", "obj")
        .agg(
            F.count(F.lit(1)).cast("long").alias("weight"),
            F.countDistinct("url").cast("long").alias("n_urls"),
            F.max("confidence").alias("confidence"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
        )
        .withColumn("pred_type", F.split("pred", ":").getItem(0))
    )


def _with_rank_and_degrees(
    nodes: DataFrame, ranks: DataFrame, edges: DataFrame
) -> DataFrame:
    """nodes + PageRank `rank` (ranks(node, rank)) + out/in degree over
    edges(src, dst); a node missing from either side gets 0."""
    def degree(end: str, name: str) -> DataFrame:
        return edges.groupBy(F.col(end).alias("node_id")).agg(
            F.count(F.lit(1)).cast("long").alias(name)
        )

    return (
        nodes.join(ranks.withColumnRenamed("node", "node_id"), "node_id",
                   "left")
        .join(degree("src", "out_degree"), "node_id", "left")
        .join(degree("dst", "in_degree"), "node_id", "left")
        .select(
            nodes["*"],
            *(
                F.coalesce(c, F.lit(0)).cast("long").alias(c)
                for c in ("rank", "out_degree", "in_degree")
            ),
        )
    )


# v3: facts_from gained JSON-LD triples (round 4) — bumped so a resume
# against a pre-JSON-LD warehouse re-runs instead of silently skipping on
# fingerprint match and emitting triples with no ld: facts (v2 was the
# round-3 web-table bump). run, run_incremental and materialize_graph all
# fingerprint through stage_fingerprint, so one edit bumps every site.
FINGERPRINT_VERSION = 3


def stage_fingerprint(input_fingerprint: str, stage: str) -> str:
    return f"{input_fingerprint}/{stage}/v{FINGERPRINT_VERSION}"


# What each profile materializes per stage (see Pipeline); a stage a
# policy does not name is inline.
_PINS = dict.fromkeys(("table_facts", "linked", "canonical"), "pin")
POLICIES = {
    "all": dict.fromkeys(STAGES, "snapshot"),
    "kernels": {**_PINS, "documents": "snapshot", "sentences": "snapshot",
                "arguments": "snapshot", "triples": "snapshot"},
    "final": {**_PINS, "arguments": "pin", "triples": "snapshot"},
}
# run_incremental: the 'final' pins; triples are appended, not snapshotted
INCREMENTAL_POLICY = {**_PINS, "arguments": "pin"}

# crawl-date partitioning on the final table (the days(warc_ts) Iceberg
# transform, emulated as a parquet partition column): time-range queries
# over the graph prune whole directories
_PARTITION_BY = {"triples": ["day"]}


class Pipeline:
    """Runs the DAG against a documents DataFrame through a StageCatalog.

    The DAG is declared once (_stage_table). ``checkpoint`` names the
    materialization policy run() resolves it under (POLICIES);
    run_incremental uses INCREMENTAL_POLICY:

      stage        all       kernels   final     run_incremental
      documents    snapshot  snapshot  inline    inline
      extracted    snapshot  inline    inline    inline
      table_facts  snapshot  pin       pin       pin
      sentences    snapshot  snapshot  inline    inline
      triggers     snapshot  inline    inline    inline
      arguments    snapshot  snapshot  pin       pin
      linked       snapshot  pin       pin       pin
      canonical    snapshot  pin       pin       pin (canonicalize_incremental)
      triples      snapshot  snapshot  snapshot  append

    snapshot: an atomic StageCatalog commit, made eagerly in DAG order;
    ``resume=True`` skips it when its latest commit matches the input
    fingerprint. pin: localCheckpoint, held in memory for a stage read
    more than once. inline: a lazy DataFrame fused into its consumer's
    job. Pins and inline stages are built only when a stage that runs
    asks for them, so a current snapshot skips its whole upstream; in
    'final' a current `triples` skips the entire job.

    'all' (the default) resumes at every stage. 'kernels' commits only
    the input, the fused extraction->featurize chain (narrow after the
    one url-hash shuffle) and the fused kernels, so a killed run resumes
    past all NumPy compute while `extracted` and `triggers` never
    round-trip through parquet: each commit costs a corpus-size-
    independent ~2.4 s plus a write and read of the data
    (BENCH/BASELINE.md §2-3). 'final' is flow-through, with Spark's
    task/stage retry as the fault model.
    """

    def __init__(self, spark: SparkSession, catalog: StageCatalog,
                 shuffle_parts: int | None = None, checkpoint: str = "all"):
        if checkpoint not in POLICIES:
            raise ValueError(f"unknown checkpoint mode {checkpoint!r}")
        self.spark = spark
        self.catalog = catalog
        self.shuffle_parts = shuffle_parts
        self.checkpoint = checkpoint
        self.ran: list[str] = []
        self.skipped: list[str] = []
        self.stage_seconds: dict[str, float] = {}

    def _stage(self, name: str, fingerprint: str, build, resume: bool,
               partition_by: list[str] | None = None) -> DataFrame:
        df, ran, secs = self.catalog.stage(
            self.spark, name, fingerprint, build, resume, partition_by
        )
        if ran:
            self.stage_seconds[name] = secs
            self.ran.append(name)
        else:
            self.skipped.append(name)
        return df

    def _stage_table(self, documents: DataFrame, canonical_build) -> dict:
        """The DAG, once: stage name -> (input stages, build over their
        DataFrames), keyed in STAGES (topological) order."""
        n_parts = (
            self.shuffle_parts or self.spark.sparkContext.defaultParallelism
        )

        def linked(arguments: DataFrame, facts: DataFrame) -> DataFrame:
            return link_mentions(
                mentions_from_arguments(arguments)
                .select("mention_id", "surface")
                .unionByName(mentions_from_tables(facts)),
                alias_df(self.spark),
            )

        def triples(arguments, linked, canonical, facts) -> DataFrame:
            return triples_from(arguments, linked, canonical).unionByName(
                table_triples_out(facts, linked, canonical)
            )

        return {
            "documents": ((), lambda: documents),
            # the one url-hash shuffle: the prose chain through both
            # kernels is narrow after it
            "extracted": (("documents",), lambda d: documents_stage(
                d.repartition(n_parts, F.xxhash64("url"))
            )),
            "table_facts": (("documents",), facts_from),
            "sentences": (("extracted",),
                          lambda e: featurize_sentences(sentences_stage(e))),
            "triggers": (("sentences",), triggers_from_sentences),
            "arguments": (("triggers",), arguments_from_triggers),
            "linked": (("arguments", "table_facts"), linked),
            "canonical": (("linked",), canonical_build),
            "triples": (
                ("arguments", "linked", "canonical", "table_facts"), triples
            ),
        }

    def _resolve(self, stages: dict, policy: dict, input_fingerprint: str,
                 resume: bool) -> DataFrame:
        """Materialize `stages` under `policy` and return `triples`:
        snapshot stages commit eagerly in DAG order through _stage;
        pinned and inline stages are built when a later build asks."""
        built: dict[str, DataFrame] = {}

        def get(name: str) -> DataFrame:
            if name in built:
                return built[name]
            inputs, build = stages[name]
            how = policy.get(name, "inline")

            def thunk() -> DataFrame:
                return build(*map(get, inputs))

            if how == "snapshot":
                df = self._stage(
                    name, stage_fingerprint(input_fingerprint, name), thunk,
                    resume, partition_by=_PARTITION_BY.get(name),
                )
            elif how == "pin":
                df = thunk().localCheckpoint()
            else:
                df = thunk()
            built[name] = df
            return df

        for name in stages:
            if policy.get(name) == "snapshot":
                get(name)
        return get("triples")

    def run(self, documents: DataFrame, input_fingerprint: str, resume: bool = True) -> DataFrame:
        return self._resolve(
            self._stage_table(documents, canonicalize),
            POLICIES[self.checkpoint], input_fingerprint, resume,
        )

    def run_incremental(
        self, new_documents: DataFrame, input_fingerprint: str
    ) -> DataFrame:
        """Incremental crawl-drop ingestion: run the extraction -> kernel
        -> linking flow over ONLY the new documents and FAST-APPEND their
        triples to the existing table — the day's partitions are written,
        the rest of the 10^12-row table rides along as metadata
        (StageCatalog.append hardlinks the previous snapshot's files).
        This is the daily-operations path; a full run() only happens on
        schema or kernel changes.

        Canonicalization scope: cross-drop. canonicalize_incremental
        maintains a durable components labeling over the accumulated
        alias graph (connected_components_incremental — per-drop cost is
        the drop's edges plus the components it touches, never a rescan
        of the accumulated edge set), so a coreference bridge that only
        EXISTS across drops folds the moment its second half arrives.
        Triples already written under a superseded canonical id are the
        periodic rewrite batch's concern (the confident/unconfident
        rewrite pattern — see streaming/ingest.py's module docstring);
        the changed-mapping set needed to target that rewrite is exactly
        canonicalize_incremental's touched components."""
        fp = stage_fingerprint(input_fingerprint, "triples")
        cat, spark = self.catalog, self.spark
        # history scan, NOT is_current: an append is not idempotent, and
        # a drop replayed after ANY later triples commit (next drop, or
        # rewrite_stale_canonicals) no longer matches the LATEST
        # fingerprint — latest-only checking would re-append every one
        # of its triples as duplicates
        if cat.was_committed("triples", fp):
            self.skipped.append("triples")
            return cat.read(spark, "triples")
        # the lambda looks canonicalize_incremental up when it runs, so
        # an instance-level wrapper of that method still applies
        stages = self._stage_table(
            new_documents,
            lambda linked: self.canonicalize_incremental(
                linked, input_fingerprint
            ),
        )
        delta = self._resolve(
            stages, INCREMENTAL_POLICY, input_fingerprint, resume=False
        )
        t0 = time.time()
        cat.append(delta, "triples", fp, partition_by=_PARTITION_BY["triples"])
        self.stage_seconds["triples+append"] = round(time.time() - t0, 3)
        self.ran.append("triples")
        return cat.read(spark, "triples")

    def canonicalize_incremental(
        self, linked: DataFrame, input_fingerprint: str
    ) -> DataFrame:
        """Cross-drop canonicalization at drop cost.

        Maintains two durable stage tables under the standard
        fingerprint/resume contract:

        - ``canon_labels(node, component)`` — the components labeling of
          the ACCUMULATED surface↔entity alias graph, advanced per drop
          by connected_components_incremental (components the drop never
          touches carry over verbatim; only drop-touched components are
          re-solved, over a drop-sized graph).
        - ``canon_ents(node, entity_id)`` — the entity-node dictionary
          (hash node → entity_id), needed to turn component ids back
          into the deterministic canonical id = min entity_id of the
          component. Entity-dictionary scale, not corpus scale.

        Returns the full (entity_id, canonical_id) mapping — the same
        shape canonicalize() yields, but consistent across every drop
        ingested so far: a surface seen in drop 1 and an entity seen in
        drop 9 land in one component the moment the bridging drop
        arrives, with no global recompute. A resumed (same-fingerprint)
        drop reads both tables back instead of re-advancing them, so
        replay is idempotent."""
        cat, spark = self.catalog, self.spark
        base = (
            linked.select(
                normalize_surface(F.col("surface")).alias("norm"),
                "entity_id",
            )
            .distinct()
            .localCheckpoint()
        )
        fp_labels = f"{input_fingerprint}/canon_labels/v1"
        fp_ents = f"{input_fingerprint}/canon_ents/v1"
        prev = (
            cat.read(spark, "canon_labels").select("node", "component")
            if cat.latest_meta("canon_labels")
            else None
        )
        if cat.latest_meta("canon_ents") is None and cat.latest_meta(
            "linked"
        ):
            # (keyed off canon_ents, the LAST table written: a crash
            # between the two writes replays with canon_labels current
            # but the entity dictionary still owed its seed entities)
            # cold start after full run()s in checkpoint='all' mode: fold
            # the stored linked stage's alias graph into this drop's
            # delta ONCE, so cross-run surface/entity bridges are
            # preserved. One-time O(accumulated linked) cost; every later
            # drop pays only drop + touched components. (checkpoint=
            # 'final'/'kernels' full runs keep no linked table — the
            # labeling then starts from this drop.) Folding into `base`
            # covers edges AND the entity dictionary; `base` is also what
            # a crash-replay re-derives, keeping both writes idempotent.
            seed = (
                cat.read(spark, "linked")
                .select(
                    normalize_surface(F.col("surface")).alias("norm"),
                    "entity_id",
                )
                .distinct()
            )
            base = base.unionByName(seed).distinct().localCheckpoint()
        # was_committed, not is_current: a drop replayed after later
        # drops advanced the tables must skip (re-advancing with this
        # drop's edges is idempotent for CC and union+distinct, but
        # costs a drop-sized solve and a snapshot commit for nothing);
        # reading the LATEST tables back is correct — the mapping is
        # defined as consistent-across-all-drops-so-far
        if cat.was_committed("canon_labels", fp_labels):
            self.skipped.append("canon_labels")
            labels = cat.read(spark, "canon_labels").select(
                "node", "component"
            )
        else:
            edges = base.select(
                F.xxhash64(F.concat(F.lit("s:"), F.col("norm"))).alias(
                    "src"
                ),
                F.xxhash64(
                    F.concat(F.lit("e:"), F.col("entity_id"))
                ).alias("dst"),
            )
            labels = connected_components_incremental(
                prev, edges
            ).localCheckpoint()
            cat.write(labels, "canon_labels", fp_labels)
            self.ran.append("canon_labels")
        if cat.was_committed("canon_ents", fp_ents):
            self.skipped.append("canon_ents")
            ents = cat.read(spark, "canon_ents").select("node", "entity_id")
        else:
            ents_delta = base.select(
                F.xxhash64(F.concat(F.lit("e:"), F.col("entity_id"))).alias(
                    "node"
                ),
                "entity_id",
            ).distinct()
            prev_ents = (
                cat.read(spark, "canon_ents").select("node", "entity_id")
                if cat.latest_meta("canon_ents")
                else None
            )
            ents = (
                ents_delta
                if prev_ents is None
                # union+distinct makes the advance idempotent under
                # replay after a crash between the two table writes
                else prev_ents.unionByName(ents_delta).distinct()
            ).localCheckpoint()
            cat.write(ents, "canon_ents", fp_ents)
            self.ran.append("canon_ents")
        return canonical_mapping(ents, labels)

    def canonical_changes(self) -> DataFrame:
        """(old_canonical_id, new_canonical_id) pairs for EVERY id
        superseded by ANY past advance — the complete set the periodic
        triple-rewrite batch must target.

        Derived from the CURRENT canonical mapping alone: a superseded
        canonical id is itself an entity_id (canonical = min entity_id
        in the component), components only ever MERGE (drops add edges,
        never remove), and connected components already collapse
        transitivity — so every entity_id whose current canonical_id
        differs from itself maps to its FINAL target. No snapshot
        diffing: a current-vs-previous diff would permanently miss
        merges from intermediate drops whenever the rewrite batch runs
        less often than drops land (it is explicitly periodic). The
        frame is functional (one new id per old id) and safe to
        broadcast-apply; it includes member ids that never served as a
        canonical id, which inflate the build side but can never match
        a triple. Empty until some component holds >1 entity."""
        cat, spark = self.catalog, self.spark
        cur = canonical_mapping(
            cat.read(spark, "canon_ents").select("node", "entity_id"),
            cat.read(spark, "canon_labels").select("node", "component"),
        )
        return cur.filter(F.col("entity_id") != F.col("canonical_id")).select(
            F.col("entity_id").alias("old_canonical_id"),
            F.col("canonical_id").alias("new_canonical_id"),
        )

    def rewrite_stale_canonicals(self, input_fingerprint: str) -> DataFrame:
        """The periodic rewrite batch: retarget triples that still carry
        a canonical id superseded by later drops' component merges,
        committing a new triples snapshot. Both reference positions are
        covered — `obj` (event role: triples point at entities there)
        AND `subj` (web-table attr: triples carry the canonical entity
        id as subject; event subjects are event-mention ids, which can
        never collide with entity ids, so the subj join passes them
        through untouched).

        The changed mapping is entity-table-sized (broadcast); the
        triples side is one scan + two narrow rewrites — no shuffle.
        The I/O is a full-table rewrite, which is exactly why this is a
        PERIODIC batch and not part of every drop (with a bucket(obj)
        layout the scan would prune to affected buckets; day
        partitioning doesn't help here because merges touch objects
        across all days). A left-semi pre-check (one scan, no write)
        skips the rewrite when no triple references a superseded id —
        canonical_changes is cumulative, so it stays non-empty after
        the first merge even once every triple is current."""
        cat, spark = self.catalog, self.spark
        fp = f"{input_fingerprint}/triples_rewrite/v1"
        if cat.is_current("triples", fp):
            self.skipped.append("triples_rewrite")
            return cat.read(spark, "triples")
        changed = self.canonical_changes().localCheckpoint()
        triples = cat.read(spark, "triples")
        if changed.limit(1).count() == 0:
            self.skipped.append("triples_rewrite")
            return triples
        stale_hit = triples.join(
            F.broadcast(changed),
            (triples["obj"] == changed["old_canonical_id"])
            | (triples["subj"] == changed["old_canonical_id"]),
            "left_semi",
        )
        if stale_hit.limit(1).count() == 0:
            self.skipped.append("triples_rewrite")
            return triples
        obj_map = changed.select(
            F.col("old_canonical_id").alias("_o_old"),
            F.col("new_canonical_id").alias("_o_new"),
        )
        subj_map = changed.select(
            F.col("old_canonical_id").alias("_s_old"),
            F.col("new_canonical_id").alias("_s_new"),
        )
        rewritten = (
            triples.join(
                F.broadcast(obj_map), triples["obj"] == F.col("_o_old"), "left"
            )
            .withColumn("obj", F.coalesce("_o_new", "obj"))
            .drop("_o_old", "_o_new")
            .join(F.broadcast(subj_map), F.col("subj") == F.col("_s_old"), "left")
            .withColumn("subj", F.coalesce("_s_new", "subj"))
            .drop("_s_old", "_s_new")
        )
        cat.write(rewritten, "triples", fp, partition_by=["day"])
        self.ran.append("triples_rewrite")
        return cat.read(spark, "triples")

    def materialize_links(
        self,
        docs: DataFrame,
        input_fingerprint: str,
        resume: bool = True,
    ) -> DataFrame:
        """Commit the `host_links` table — the (src_host, dst_host,
        n_links) hyperlink graph harvested from the SAME documents scan
        the extraction stage reads (operators/links). Runs as its own
        stage under the standard fingerprint/resume contract: the html
        column is decoded once here, the rollup is one shuffle, and the
        committed table is what host-PageRank-style linking priors read
        — they never touch html again."""
        from ..operators.links import extract_outlinks, host_graph

        return self._stage(
            "host_links",
            f"{input_fingerprint}/host_links/v1",
            lambda: host_graph(extract_outlinks(docs)),
            resume,
        )

    def accumulate_host_links(
        self, delta_docs: DataFrame, input_fingerprint: str
    ) -> DataFrame:
        """Incremental host-link maintenance for crawl drops: the DELTA
        documents' host-pair link counts MERGE into the `host_links`
        counter table (same additive-counter contract as
        accumulate_degrees — union + one keyed groupBy-sum, never a
        rescan of the accumulated table). n_links is additive across
        drops by construction, so incremental accumulation equals the
        full rebuild exactly."""
        from ..operators.links import extract_outlinks, host_graph

        return self.catalog.merge_accumulate(
            self.spark,
            host_graph(extract_outlinks(delta_docs)),
            "host_links",
            keys=["src_host", "dst_host"],
            counters=["n_links"],
            fingerprint=f"{input_fingerprint}/host_links/v1",
        )

    def check_triples_contract(self) -> DataFrame:
        """The stage-commit gate instantiated for the triples table
        (operators/expectations): key fields non-null, confidence in
        [0, 1], predicates within the three namespaces the pipeline
        emits (EventType:Role / attr: / ld:), day present, and a
        non-empty table. A production orchestrator calls this between
        `run()` and downstream publication and aborts on any
        `NOT passed` row."""
        from ..operators.expectations import check_expectations

        t = self.catalog.read(self.spark, "triples")
        return check_expectations(
            t,
            [
                ("not_null", "subj"),
                ("not_null", "pred"),
                ("not_null", "obj"),
                ("not_null", "day"),
                ("in_range", "confidence", 0.0, 1.0),
                ("matches_regex", "pred", r"^([A-Za-z]+:|attr:|ld:)"),
                ("min_rows", 1),
            ],
        )

    def process_crawl_drop(
        self,
        delta_docs: DataFrame,
        input_fingerprint: str,
        min_jaccard: float = 0.5,
    ) -> dict:
        """The daily-operations composition, one call per crawl drop:

          1. frontier_gate — admit only never-seen canonical urls
             (Bloom seen-set; replay-deterministic);
          2. dedup_drop_against_history — flag admitted docs that
             near-duplicate corpus HISTORY (accumulated MinHash index)
             and keep only the novel ones (history survivors);
          3. run_incremental — extraction -> kernels -> linking ->
             cross-drop canonicalization over the survivors, triples
             fast-appended;
          4. accumulate_host_links rides the same novel set (additive
             counter merge; degree counters belong to the graph-
             materialization path).

        Returns {'admitted': df, 'near_dups': df, 'triples': df,
        'n_admitted': int, 'n_near_dup': int}. Every sub-step keeps
        its own fingerprint-idempotent replay contract, so re-running
        a crashed drop is safe end to end. Per-drop cost is drop-sized
        throughout — the accumulated corpus is only ever touched
        through the Bloom bitmap, the band index, and metadata-only
        appends."""
        fp = input_fingerprint
        admitted = self.frontier_gate(delta_docs, fp).localCheckpoint()
        dups = self.dedup_drop_against_history(
            admitted, fp, min_jaccard=min_jaccard
        )
        novel = admitted.join(
            dups.select("url").distinct(), "url", "left_anti"
        ).localCheckpoint()
        triples = self.run_incremental(novel, fp)
        self.accumulate_host_links(novel, fp)
        return {
            "admitted": admitted,
            "near_dups": dups,
            "triples": triples,
            "n_admitted": admitted.count(),
            "n_near_dup": dups.select("url").distinct().count(),
        }

    def dedup_drop_against_history(
        self,
        delta_docs: DataFrame,
        input_fingerprint: str,
        bands: int = 8,
        min_jaccard: float = 0.5,
    ) -> DataFrame:
        """Incremental cross-drop NEAR-dedup: report each new doc that
        near-duplicates anything in the CORPUS HISTORY, probing only
        the accumulated MinHash band index — drop-sized compute, never
        a rescan of history documents (which may no longer exist as
        raw text; the index keeps signatures + token sets only).

        -> (url, dup_url, jaccard): new-vs-history pairs, exact-token
        Jaccard verified against the stored token sets. Within-drop
        duplicates are the batch dedup's job (operators/dedup), not
        this gate's.

        Tables: `mh_bands` (url, band, band_key) and `mh_tokens`
        (url, tok_set), both fast-appended per drop under ONE
        fingerprint. Replay determinism (frontier_gate's rule): when
        this drop's fingerprint already appears in a table's history,
        probes time-travel to the snapshot PRECEDING that commit, so
        a replayed drop reports the identical pair set instead of
        matching itself."""
        from ..operators.dedup import band_rows, minhash_signatures

        cat, spark = self.catalog, self.spark
        fp = f"{input_fingerprint}/mh_index/v1"
        toks = delta_docs.select(
            "url",
            F.array_distinct(
                F.split(F.lower(F.col("text")), r"\s+")
            ).alias("tok_set"),
        ).localCheckpoint()
        banded = band_rows(
            minhash_signatures(toks, "url", "tok_set"), "url", bands
        )

        prior_bands, _ = self._state_before(fp, "mh_bands")
        prior_tokens, _ = self._state_before(fp, "mh_tokens")
        if prior_bands is None or prior_tokens is None:
            dups = spark.createDataFrame(
                [], "url string, dup_url string, jaccard double"
            )
        else:
            # explicit-count url repartition of the drop's band rows
            # (embedding_dup_pairs' rule): candidate pairs and their
            # verification are CPU-heavy but byte-light, so AQE would
            # coalesce them into one task; the distinct and the broadcast
            # joins below keep this partitioning
            cand = (
                banded.repartition(spark.sparkContext.defaultParallelism, "url")
                .join(
                    prior_bands.select(
                        F.col("url").alias("dup_url"), "band", "band_key"
                    ),
                    ["band", "band_key"],
                )
                .filter(F.col("url") != F.col("dup_url"))
                .select("url", "dup_url")
                .distinct()
            )
            dups = (
                cand.join(toks, "url")
                .join(
                    prior_tokens.select(
                        F.col("url").alias("dup_url"),
                        F.col("tok_set").alias("dup_set"),
                    ),
                    "dup_url",
                )
                .withColumn(
                    "jaccard",
                    F.size(F.array_intersect("tok_set", "dup_set"))
                    / F.size(F.array_union("tok_set", "dup_set")),
                )
                .filter(F.col("jaccard") >= min_jaccard)
                .select("url", "dup_url", F.round("jaccard", 6).alias("jaccard"))
            )
        dups = dups.localCheckpoint()  # pin BEFORE the index mutates
        if not cat.was_committed("mh_bands", fp):
            cat.append(banded, "mh_bands", fp)
        if not cat.was_committed("mh_tokens", fp):
            cat.append(toks, "mh_tokens", fp)
        return dups

    def _state_before(
        self, fingerprint: str, table: str
    ) -> tuple[DataFrame | None, bool]:
        """(`table` as it stood before the commit stamped `fingerprint`,
        whether that commit exists). With no such commit that is the
        latest snapshot; None when the table was empty then. A replayed
        drop thus probes exactly the state its first run probed."""
        cat, spark = self.catalog, self.spark
        hist = cat.history(table)
        mine = next(
            (i for i, m in enumerate(hist)
             if m.get("fingerprint") == fingerprint),
            None,
        )
        if mine is None:
            try:
                return cat.read(spark, table), False
            except FileNotFoundError:
                return None, False
        if mine == 0:
            return None, True
        return cat.read(spark, table, snapshot=hist[mine - 1]["snapshot"]), True

    def frontier_gate(
        self,
        delta_docs: DataFrame,
        input_fingerprint: str,
        m_bits: int = 1 << 20,
        k: int = 4,
    ) -> DataFrame:
        """Admit only the crawl drop's NOT-yet-seen urls, then commit
        the updated `url_bloom` bitmap (prior ∪ this drop's urls).

        The gate is the Bloom seen-set (operators/bloom): no false
        negatives, so an already-crawled url is NEVER re-admitted; a
        false positive (textbook rate, ~1% at 10 bits/key) skips a
        genuinely new url — the standard frontier tradeoff, chosen
        over an anti-join against the ever-growing history table. The
        probe side broadcasts the bitmap (m=2^20 -> 32k words); the
        bitmap update is one bit_or merge (StageCatalog.merge_bitmap),
        drop-sized compute like the other incremental paths.

        Replay determinism: the returned `admitted` is LAZY — the
        caller persists it downstream (run_incremental) — while the
        bitmap merge is eager. If the process dies after the merge
        but before the caller's commit, a naive replay would probe
        the post-merge bitmap, see every url of the drop as seen
        (Bloom has no false negatives), and silently lose the drop
        forever. So when this drop's merge fingerprint is already in
        the bitmap's history, verdicts are computed by time travel
        against the snapshot PRECEDING that commit — replays admit
        the identical row set, exactly the admitted-append-before-
        merge ordering stream_frontier_gate gets from its per-epoch
        markers (streaming/ingest.py)."""
        from ..operators.bloom import admit_unseen, bloom_build
        from ..operators.urls import canonical_url

        cat, spark = self.catalog, self.spark
        # the bitmap holds CANONICAL urls (operators/urls: lowercase
        # host, default ports, fragments and tracking params stripped)
        # so re-crawl variants of a seen page are gated too; within-
        # drop canonical duplicates are the extractor's exact-dedup
        # concern, not the frontier's
        keyed = delta_docs.withColumn("_cu", canonical_url(F.col("url")))
        urls = keyed.select(F.col("_cu").alias("v"))
        fp_bloom = f"{input_fingerprint}/url_bloom/v1"
        bitmap, merged = self._state_before(fp_bloom, "url_bloom")
        if bitmap is not None:
            bitmap = bitmap.select("word_idx", "word")
        admitted = admit_unseen(keyed, bitmap, m_bits, k)
        if not merged:
            cat.merge_bitmap(
                spark, bloom_build(urls, "v", m_bits, k), "url_bloom",
                fp_bloom,
            )
        return admitted

    def materialize_graph(
        self,
        triples: DataFrame,
        input_fingerprint: str,
        resume: bool = True,
    ) -> tuple[DataFrame, DataFrame]:
        """Derive + commit the `nodes` and `edges` graph tables from a
        (typically just-committed) triples DataFrame. Post-hoc over the
        triples snapshot in every checkpoint mode, so it costs two
        aggregate-and-write jobs over the final table, never a kernel
        recompute; same fingerprint contract as any stage, so resume
        skips them when current."""
        # the triples version: a facts change moves the derived
        # node/edge sets under the same input fingerprint
        nodes = self._stage(
            "nodes",
            stage_fingerprint(input_fingerprint, "nodes"),
            lambda: nodes_from(triples),
            resume,
            partition_by=["kind"],
        )
        edges = self._stage(
            "edges",
            stage_fingerprint(input_fingerprint, "edges"),
            lambda: edges_from(triples),
            resume,
            partition_by=["pred_type"],
        )
        return nodes, edges

    def accumulate_degrees(
        self, delta_triples: DataFrame, input_fingerprint: str
    ) -> DataFrame:
        """Incremental degree maintenance for crawl drops: the DELTA
        triples' per-node in/out counts are MERGEd into a `node_degrees`
        counter table (StageCatalog.merge_accumulate — union + one keyed
        groupBy-sum), so daily degree stats cost the drop's own compute
        plus a metadata commit, never a rescan of the 10^12-row triple
        table.

        Semantics: these are OBSERVATION (support-weighted) degrees —
        one count per triple row, additive across drops, which is what
        a counter can maintain exactly. enrich_nodes' degrees count
        distinct edges instead; distinctness across drops needs the
        full table and belongs to that periodic batch, like PageRank —
        a global fixpoint never maintained incrementally (the same
        split as canonicalization: local counters stream, global
        properties batch)."""
        deg = (
            delta_triples.select(
                F.col("subj").alias("node_id"),
                F.lit(1).cast("long").alias("out_degree"),
                F.lit(0).cast("long").alias("in_degree"),
            )
            .unionByName(
                delta_triples.select(
                    F.col("obj").alias("node_id"),
                    F.lit(0).cast("long").alias("out_degree"),
                    F.lit(1).cast("long").alias("in_degree"),
                )
            )
            .groupBy("node_id")
            .agg(
                F.sum("out_degree").cast("long").alias("out_degree"),
                F.sum("in_degree").cast("long").alias("in_degree"),
            )
        )
        return self.catalog.merge_accumulate(
            self.spark,
            deg,
            "node_degrees",
            keys=["node_id"],
            counters=["out_degree", "in_degree"],
            fingerprint=f"{input_fingerprint}/node_degrees/v1",
        )

    def enrich_nodes(
        self,
        nodes: DataFrame,
        edges: DataFrame,
        input_fingerprint: str,
        resume: bool = True,
        pagerank_iters: int = 3,
    ) -> DataFrame:
        """Analytics-enriched node table: the materialized `nodes` joined
        with exact-integer PageRank (operators/graph.pagerank_int over
        the subj->obj edge set) and in/out degree, committed as
        `node_stats` under the standard fingerprint contract. PageRank
        is shuffle-order-independent (integer micro-units), so the
        committed table is bit-identical across reruns — resume and
        re-derivation can never disagree. Nodes outside the edge set
        (none today; future ingest paths) keep rank 0.

        One groupBy-dst shuffle per PageRank iteration plus two degree
        aggregates; all joins onto `nodes` are node-count-sized."""
        from deepee_spark.operators.graph import pagerank_int

        def build() -> DataFrame:
            e = edges.select(
                F.col("subj").alias("src"), F.col("obj").alias("dst")
            )
            return _with_rank_and_degrees(
                nodes, pagerank_int(e, iters=pagerank_iters), e
            )

        return self._stage(
            "node_stats",
            f"{input_fingerprint}/node_stats/v1",
            build,
            resume,
            partition_by=["kind"],
        )

    def enrich_nodes_incremental(
        self,
        nodes: DataFrame,
        edges: DataFrame,
        input_fingerprint: str,
        resume: bool = True,
        tol_units: int = 100,
        max_iters: int = 100,
    ) -> DataFrame:
        """Daily-drop variant of enrich_nodes: PageRank WARM-STARTED
        from the previous committed node_stats snapshot
        (operators/graph.pagerank_int_converged — BENCH/BASELINE.md §7:
        9 -> 6 rounds at 300k edges with a 0.1% delta; the saving grows
        with graph scale and each avoided round at 10^12 edges is a
        full edge shuffle).

        Seeding safety: the seed only positions iteration 0 — the
        recurrence runs entirely on the CURRENT edge set, so a stale or
        partial seed costs rounds, never correctness (band-fixpoint
        equivalence is pinned in tests/test_graph.py). Any previous
        node_stats snapshot qualifies as a seed regardless of its
        fingerprint; when none exists this degrades to a cold
        converged run. Unlike enrich_nodes' fixed-iteration
        bit-identical contract, the converged variant commits
        band-exact scores (tol_units micro-units) — documented in the
        table meta via the fingerprint suffix so the two contracts
        never mix under one fingerprint."""
        from deepee_spark.operators.graph import pagerank_int_converged

        fp = f"{input_fingerprint}/node_stats/conv{tol_units}/v1"

        def build() -> DataFrame:
            seed = None
            try:
                prev = self.catalog.read(self.spark, "node_stats")
                if "rank" in prev.columns:
                    seed = prev.select(
                        F.col("node_id").alias("node"), "rank"
                    )
            except FileNotFoundError:
                pass
            e = edges.select(
                F.col("subj").alias("src"), F.col("obj").alias("dst")
            )
            pr, _rounds, _converged = pagerank_int_converged(
                e, seed_ranks=seed, tol_units=tol_units,
                max_iters=max_iters,
            )
            return _with_rank_and_degrees(nodes, pr, e)

        return self._stage(
            "node_stats", fp, build, resume, partition_by=["kind"]
        )
