"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship event-extraction query (real DMCNN-style
NumPy kernel over the documents table). ``queries()`` / ``oracle_sql()``
cover the SURVEY.md §2 operator inventory pairwise against DuckDB.

Cross-engine determinism rules used throughout (so value-hashes match):
  * money/measures aggregated as integer cents/e4 units (BIGINT), never
    float sums (double addition is order-sensitive under parallel agg)
  * DuckDB ``sum(BIGINT)`` returns HUGEINT -> always CAST to BIGINT;
    Spark side casts to long
  * float outputs only from deterministic scalar arithmetic on exact
    inputs (int divisions, ordered left-folds over arrays), then round()
  * every top-k / argmax has a total-order tie-break on a unique key
  * shared string hash: left fold (acc*31 + ascii(char)) % 1_000_000_007
    — identical ordered fold in both dialects
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deepee_spark.ontology import ENTITY_GAZETTEER, ROLE_RULE, ROLE_TO_ID, TRIGGER_LEXICON
from deepee_spark.operators.dedup import str_hash
from deepee_spark.operators.similarity import dot
from deepee_spark.operators.textstats import EN_STOPWORDS, ZH_HINT_RANGE

SF_DEFAULT = "/root/testdata/sf0.001"
MOD = 1_000_000_007

# MinHash parameters (shared literals in both dialects)
MINHASH_K = 8
_MH = [((1103515245 * k + 12345) % MOD, (12345 * k + 1103515245) % MOD) for k in range(MINHASH_K)]

SIMHASH_BITS = 16


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _lexicon_values() -> str:
    rows = ", ".join(f"('{w}', '{t}')" for w, t in sorted(TRIGGER_LEXICON.items()))
    return f"(VALUES {rows}) AS lex(word, lex_event_type)"


def _role_rule_values() -> str:
    rows = ", ".join(
        f"('{ev}', '{et}', '{r}')" for (ev, et), r in sorted(ROLE_RULE.items())
    )
    return f"(VALUES {rows}) AS rr(event_type, entity_type, role)"


# ---------------------------------------------------------------------------
# shared column helpers (Spark side)
# ---------------------------------------------------------------------------

def _tokens(col="text"):
    return F.filter(F.split(F.col(col), " "), lambda t: t != "")


_DOT_SQL = (
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)), (x, y) -> x + y)"
)

_HASH_SQL = (
    "list_reduce(list_prepend(0::BIGINT, list_transform(string_split({col}, ''), "
    "c -> ascii(c)::BIGINT)), (a, b) -> (a * 31 + b) % 1000000007)"
)

_TOKENS_SQL = "list_filter(string_split(text, ' '), t -> t != '')"


def _md5_sql(expr: str) -> str:
    """DuckDB twin of operators/negatives.md5_long48 (unrolled hex
    parse of the first 12 md5 hex chars -> BIGINT; lambda-free)."""
    from deepee_spark.operators.negatives import md5_long48_sql

    return md5_long48_sql(expr)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: DMCNN-kernel event extraction over the sf0.001 documents
    table -> event-type counts (SURVEY.md §7.2)."""
    return _ee_trigger_counts(spark, SF_DEFAULT)


def _ee_trigger_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real kernel path: tokenize -> vocab-id featurization (J1) ->
    mapInPandas DMCNN trigger scorer -> argmax!=O -> counts."""
    import numpy as np
    import pandas as pd

    from deepee_spark.functions.featurize import token_ids
    from deepee_spark.kernels.dmcnn import decode_triggers
    from deepee_spark.ontology import ID_TO_EVENT_TYPE
    from deepee_spark.plans.pipeline import _pad_matrix

    docs = _t(spark, sf_dir, "documents")
    # single-file table -> 1-2 scan partitions; spread before the kernel
    # (the pipeline proper does this once with xxhash64(url))
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    feat = docs.select(
        "doc_id", F.slice(_tokens(), 1, 50).alias("tokens")
    ).filter(F.size("tokens") >= 5)
    feat = feat.withColumn("token_ids", token_ids(F.col("tokens")))

    schema = T.StructType([T.StructField("event_type", T.StringType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids, lengths = _pad_matrix(pdf["token_ids"])
            _b, _t_, cls, _s = decode_triggers(ids, lengths)
            yield pd.DataFrame(
                {"event_type": [ID_TO_EVENT_TYPE[int(c)] for c in cls]}
            )

    hits = feat.mapInPandas(run, schema=schema)
    return hits.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def _ee_trigger_counts_gcn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 graph-kernel path: tokenize -> vocab ids + synthesized SC13
    dependency edges -> mapInPandas multi-order GCN scorer -> argmax != O
    -> counts. Shares ee_trigger_counts' SQL oracle: the lexicon-count
    equivalence holds iff the whole graph stack preserves the argmax."""
    import numpy as np
    import pandas as pd

    from deepee_spark.functions.featurize import token_ids
    from deepee_spark.kernels.gcn import decode_triggers_gcn, densify_adjacency
    from deepee_spark.ontology import ID_TO_EVENT_TYPE

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    toks = F.slice(_tokens(), 1, 50)
    feat = docs.select("doc_id", toks.alias("tokens")).filter(
        F.size("tokens") >= 5
    )
    n = F.size("tokens")
    edges = F.transform(
        F.sequence(F.lit(2), n),
        lambda i: F.struct(
            F.lit("dep").alias("etype"),
            (i - 1).cast("int").alias("src"),  # 0-based: token i -> parent i//2
            (F.floor(i / 2) - 1).cast("int").alias("dst"),
        ),
    )
    feat = feat.select(
        "doc_id",
        token_ids(F.col("tokens")).alias("token_ids"),
        edges.alias("edges"),
    )

    schema = T.StructType([T.StructField("event_type", T.StringType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m = len(pdf)
            lengths = np.fromiter((len(s) for s in pdf["token_ids"]), dtype=np.int64, count=m)
            lmax = max(int(lengths.max()), 1)
            ids = np.zeros((m, lmax), dtype=np.int64)
            for j, s in enumerate(pdf["token_ids"]):
                ids[j, : len(s)] = np.asarray(s, dtype=np.int64)
            a = densify_adjacency(list(pdf["edges"]), lengths, lmax)
            _b, _t_, cls, _s = decode_triggers_gcn(ids, lengths, a)
            yield pd.DataFrame(
                {"event_type": [ID_TO_EVENT_TYPE[int(c)] for c in cls]}
            )

    hits = feat.mapInPandas(run, schema=schema)
    return hits.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def _ee_trigger_counts_graph_variant(
    spark: SparkSession, sf_dir: str, variant: str
) -> DataFrame:
    """M4/M5 kernel paths over the same synthesized SC13 dependency-edge
    dataflow as the M6 query; all three share the lexicon-count oracle —
    it holds iff the whole graph stack preserves the argmax.
    variant: 'gated' (JMEE M5) | 'edge_aware' (EEGCN M4)."""
    import numpy as np
    import pandas as pd

    from deepee_spark.functions.featurize import token_ids
    from deepee_spark.kernels.gcn import (
        decode_triggers_edge_aware,
        decode_triggers_gated,
        densify_adjacency_by_type,
        densify_edge_labels,
    )
    from deepee_spark.ontology import ID_TO_EVENT_TYPE

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    toks = F.slice(_tokens(), 1, 50)
    feat = docs.select("doc_id", toks.alias("tokens")).filter(
        F.size("tokens") >= 5
    )
    n = F.size("tokens")
    edges = F.transform(
        F.sequence(F.lit(2), n),
        lambda i: F.struct(
            F.lit("dep").alias("etype"),
            (i - 1).cast("int").alias("src"),
            (F.floor(i / 2) - 1).cast("int").alias("dst"),
        ),
    )
    feat = feat.select(
        "doc_id",
        token_ids(F.col("tokens")).alias("token_ids"),
        edges.alias("edges"),
    )

    schema = T.StructType([T.StructField("event_type", T.StringType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m = len(pdf)
            lengths = np.fromiter(
                (len(s) for s in pdf["token_ids"]), dtype=np.int64, count=m
            )
            lmax = max(int(lengths.max()), 1)
            ids = np.zeros((m, lmax), dtype=np.int64)
            for j, s in enumerate(pdf["token_ids"]):
                ids[j, : len(s)] = np.asarray(s, dtype=np.int64)
            if variant == "gated":
                adj = densify_adjacency_by_type(list(pdf["edges"]), lengths, lmax)
                _b, _t_, cls, _s = decode_triggers_gated(ids, lengths, adj)
            else:
                lab = densify_edge_labels(list(pdf["edges"]), lengths, lmax)
                _b, _t_, cls, _s = decode_triggers_edge_aware(ids, lengths, lab)
            yield pd.DataFrame(
                {"event_type": [ID_TO_EVENT_TYPE[int(c)] for c in cls]}
            )

    hits = feat.mapInPandas(run, schema=schema)
    return hits.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def _ee_trigger_counts_gated(spark, sf):
    return _ee_trigger_counts_graph_variant(spark, sf, "gated")


def _ee_trigger_counts_edgeaware(spark, sf):
    return _ee_trigger_counts_graph_variant(spark, sf, "edge_aware")


def _ee_trigger_counts_masked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 columnar-mask path: per-(sentence, candidate) rows carrying
    explicit maskL/maskR pooling masks (featurize.part_masks, the
    AD-DMBERT DataFormat.md:54-76 data model) -> mapInPandas masked
    DMCNN scorer -> argmax != O -> counts. Shares ee_trigger_counts'
    SQL oracle: kernel parity (tests/test_kernels.py) plus this query
    pin the mask data path end-to-end."""
    import numpy as np
    import pandas as pd

    from deepee_spark.functions.featurize import part_masks, token_ids
    from deepee_spark.kernels.dmcnn import score_masked_candidates
    from deepee_spark.ontology import ID_TO_EVENT_TYPE

    docs = _t(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    feat = docs.select("doc_id", F.slice(_tokens(), 1, 50).alias("tokens")).filter(
        F.size("tokens") >= 5
    )
    cand = (
        feat.withColumn("token_ids", token_ids(F.col("tokens")))
        .select(
            "token_ids",
            F.explode(
                F.sequence(F.lit(0), F.size("token_ids") - 1)
            ).alias("t"),
        )
        .withColumn("masks", part_masks(F.size("token_ids"), F.col("t")))
        .select(
            "token_ids",
            F.col("masks.maskL").alias("maskL"),
            F.col("masks.maskR").alias("maskR"),
        )
    )

    schema = T.StructType([T.StructField("event_type", T.StringType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m = len(pdf)
            lengths = np.fromiter(
                (len(s) for s in pdf["token_ids"]), dtype=np.int64, count=m
            )
            lmax = max(int(lengths.max()), 1)
            ids = np.zeros((m, lmax), dtype=np.int64)
            ml = np.zeros((m, lmax), dtype=np.float32)
            mr = np.zeros((m, lmax), dtype=np.float32)
            for j in range(m):
                k = lengths[j]
                ids[j, :k] = np.asarray(pdf["token_ids"].iat[j], dtype=np.int64)
                ml[j, :k] = np.asarray(pdf["maskL"].iat[j], dtype=np.float32)
                mr[j, :k] = np.asarray(pdf["maskR"].iat[j], dtype=np.float32)
            probs = score_masked_candidates(ids, lengths, ml, mr)
            cls = probs.argmax(axis=1)
            keep = cls != 0
            yield pd.DataFrame(
                {"event_type": [ID_TO_EVENT_TYPE[int(c)] for c in cls[keep]]}
            )

    hits = cand.mapInPandas(run, schema=schema)
    return hits.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def _lexicon_values_as(alias: str) -> str:
    rows = ", ".join(f"('{w}', '{t}')" for w, t in sorted(TRIGGER_LEXICON.items()))
    return f"(VALUES {rows}) AS {alias}(word, lex_event_type)"


def _role_rule_values_as(alias: str) -> str:
    rows = ", ".join(
        f"('{ev}', '{et}', '{r}')" for (ev, et), r in sorted(ROLE_RULE.items())
    )
    return f"(VALUES {rows}) AS {alias}(event_type, entity_type, role)"


def _gaz_values_as(alias: str) -> str:
    rows = ", ".join(
        f"('{w}', '{et}')" for w, (et, _e) in sorted(ENTITY_GAZETTEER.items())
    )
    return f"(VALUES {rows}) AS {alias}(gword, gtype)"


_EVS_SORTED = sorted(set(TRIGGER_LEXICON.values()))
_ETS_SORTED = sorted({et for (_ev, et) in ROLE_RULE})


def _m10_role_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M10: overlapping-mention multi-hot type vectors -> embedding-sum
    argument kernel (bilstm.encode type_multihot path). Per doc: two
    synthetic mention spans at filler positions 0 and 2 (the WORDS are
    out-of-vocab — the type multihot is the only signal), a
    deterministic event; the kernel must decode role_for(event, type)."""
    import numpy as np
    import pandas as pd

    from deepee_spark.functions.featurize import token_ids, token_type_multihot
    from deepee_spark.kernels.bilstm import decode_roles
    from deepee_spark.ontology import EVENT_TYPE_TO_ID, ID_TO_ROLE

    docs = _t(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.slice(_tokens(), 1, 12).alias("toks")).filter(
        F.size("toks") >= 5
    )
    d = d.repartition(spark.sparkContext.defaultParallelism)
    evs = F.array(*[F.lit(e) for e in _EVS_SORTED])
    ets = F.array(*[F.lit(t) for t in _ETS_SORTED])
    d = d.withColumn(
        "ev", F.element_at(evs, (F.col("doc_id") % len(_EVS_SORTED) + 1).cast("int"))
    ).withColumn(
        "et1", F.element_at(ets, (F.col("doc_id") % len(_ETS_SORTED) + 1).cast("int"))
    ).withColumn(
        "et2",
        F.element_at(ets, ((F.col("doc_id") * 3 + 1) % len(_ETS_SORTED) + 1).cast("int")),
    )
    entities = F.array(
        F.struct(F.lit(0).alias("start"), F.lit(1).alias("end"), F.col("et1").alias("entity_type")),
        F.struct(F.lit(2).alias("start"), F.lit(3).alias("end"), F.col("et2").alias("entity_type")),
    )
    feat = d.select(
        "doc_id",
        "ev",
        token_ids(F.col("toks")).alias("token_ids"),
        token_type_multihot(entities, F.size("toks")).alias("multihot"),
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("arg_pos", T.IntegerType()),
            T.StructField("role", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            m = len(pdf)
            lengths = np.fromiter(
                (len(s) for s in pdf["token_ids"]), dtype=np.int64, count=m
            )
            lmax = max(int(lengths.max()), 1)
            n_ent = len(_ETS_SORTED)
            ids = np.zeros((m, lmax), dtype=np.int64)
            mh = np.zeros((m, lmax, n_ent), dtype=np.float32)
            for j in range(m):
                k = int(lengths[j])
                ids[j, :k] = np.asarray(pdf["token_ids"].iat[j], dtype=np.int64)
                mh[j, :k] = np.array(
                    [list(v) for v in pdf["multihot"].iat[j]], dtype=np.float32
                )
            ev_ids = np.array(
                [EVENT_TYPE_TO_ID[e] for e in pdf["ev"]], dtype=np.int64
            )
            rows = []
            for pos in (0, 2):
                roles, _sc = decode_roles(
                    ids, lengths, ev_ids, np.full(m, pos), type_multihot=mh
                )
                rows.append(
                    pd.DataFrame(
                        {
                            "doc_id": pdf["doc_id"].astype("int64"),
                            "arg_pos": np.int32(pos),
                            "role": [ID_TO_ROLE[int(r)] for r in roles],
                        }
                    )
                )
            yield pd.concat(rows)

    return feat.mapInPandas(run, schema=schema)


_ETS_ARR_SQL = "[" + ", ".join(f"'{t}'" for t in _ETS_SORTED) + "]"
_EVS_ARR_SQL = "[" + ", ".join(f"'{e}'" for e in _EVS_SORTED) + "]"

_M10_SQL = f"""
WITH d AS (
  SELECT doc_id,
         {_EVS_ARR_SQL}[CAST(doc_id % {len(_EVS_SORTED)} + 1 AS INT)] AS ev,
         {_ETS_ARR_SQL}[CAST(doc_id % {len(_ETS_SORTED)} + 1 AS INT)] AS et1,
         {_ETS_ARR_SQL}[CAST((doc_id * 3 + 1) % {len(_ETS_SORTED)} + 1 AS INT)] AS et2
  FROM documents WHERE len(list_slice({_TOKENS_SQL}, 1, 12)) >= 5)
SELECT doc_id, CAST(0 AS INT) AS arg_pos, rrm.role
FROM d JOIN {_role_rule_values_as('rrm')}
  ON rrm.event_type = ev AND rrm.entity_type = et1
UNION ALL
SELECT doc_id, CAST(2 AS INT) AS arg_pos, rrn.role
FROM d JOIN {_role_rule_values_as('rrn')}
  ON rrn.event_type = ev AND rrn.entity_type = et2
"""

BAG_K = 5


def _bag_truncate_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DMCNN bag semantics (tagger_trigger_bag.py:281-319): per event
    type, keep the top-K instances (score desc, id tie-break) and PAD
    the bag to exactly K slots with -1 — as pure expressions."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("user_id"), F.asc("event_id")
    )
    ranked = (
        ev.withColumn("slot", F.row_number().over(w))
        .filter(F.col("slot") <= BAG_K)
        .select("event_type", "slot", F.col("user_id").alias("member_id"))
    )
    slots = (
        ev.select("event_type")
        .distinct()
        .select("event_type", F.explode(F.sequence(F.lit(1), F.lit(BAG_K))).alias("slot"))
    )
    return slots.join(ranked, ["event_type", "slot"], "left").select(
        "event_type",
        F.col("slot").cast("int").alias("slot"),
        F.coalesce("member_id", F.lit(-1)).cast("long").alias("member_id"),
    )


_BAG_SQL = f"""
WITH ranked AS (
  SELECT event_type, user_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, user_id ASC, event_id ASC) AS slot
  FROM events),
slots AS (
  SELECT DISTINCT event_type, CAST(s AS INT) AS slot
  FROM events, range(1, {BAG_K} + 1) AS r(s))
SELECT slots.event_type, slots.slot,
       CAST(COALESCE(ranked.user_id, -1) AS BIGINT) AS member_id
FROM slots LEFT JOIN ranked
  ON slots.event_type = ranked.event_type AND slots.slot = ranked.slot
"""


# ---------------------------------------------------------------------------
# M7/M8 BERT-kernel queries. The corpus for these is CONSTRUCTED from the
# documents table (like _mm_payloads): each doc's tokens are interleaved
# with a deterministic trigger + two gazetteer entities chosen so the
# asked role has exactly one matching entity. Both dialects derive the
# same sentence; the Spark side then runs the full wordpiece -> [CLS] q
# [SEP] s [SEP] -> transformer kernel -> decode path, and the oracle
# recomputes the expected surface relationally.
# ---------------------------------------------------------------------------

_TRIG_WORDS = sorted(TRIGGER_LEXICON)
_GAZ_WORDS = sorted(ENTITY_GAZETTEER)


_TRIG_ARR_SQL = "[" + ", ".join(f"'{w}'" for w in _TRIG_WORDS) + "]"
_GAZ_ARR_SQL = "[" + ", ".join(f"'{w}'" for w in _GAZ_WORDS) + "]"


def _bert_rr_map():
    pairs = []
    for (ev, et), r in sorted(ROLE_RULE.items()):
        pairs += [F.lit(ev + "|" + et), F.lit(r)]
    return F.create_map(*pairs)


def _bert_constructed(spark, sf) -> DataFrame:
    """doc_id, sentence (array<string>), et1, et2 — the constructed QA
    corpus. ev_c/role1_c are construction-side only (the pipeline must
    re-derive them through the M7 kernel)."""
    docs = _t(spark, sf, "documents")
    d = docs.select(
        "doc_id", F.slice(_tokens(), 1, 12).alias("toks")
    ).filter(F.size("toks") >= 5)

    lex_pairs = []
    for w, ev in sorted(TRIGGER_LEXICON.items()):
        lex_pairs += [F.lit(w), F.lit(ev)]
    lex_map = F.create_map(*lex_pairs)
    g_pairs = []
    for w, (et, _e) in sorted(ENTITY_GAZETTEER.items()):
        g_pairs += [F.lit(w), F.lit(et)]
    g_map = F.create_map(*g_pairs)
    rr_map = _bert_rr_map()
    trig_arr = F.array(*[F.lit(w) for w in _TRIG_WORDS])
    gaz_arr = F.array(*[F.lit(w) for w in _GAZ_WORDS])
    gaz_struct = F.array(
        *[
            F.struct(F.lit(w).alias("w"), F.lit(ENTITY_GAZETTEER[w][0]).alias("et"))
            for w in _GAZ_WORDS
        ]
    )

    d = d.withColumn(
        "trig",
        F.element_at(trig_arr, (F.col("doc_id") % len(_TRIG_WORDS) + 1).cast("int")),
    ).withColumn(
        "ent1",
        F.element_at(gaz_arr, (F.col("doc_id") % len(_GAZ_WORDS) + 1).cast("int")),
    )
    d = d.withColumn(
        "base",
        F.concat(F.slice("toks", 1, 4), F.array("trig"), F.slice("toks", 5, 4)),
    )
    d = d.withColumn(
        "ev_c",
        F.element_at(
            lex_map,
            F.element_at(
                F.filter(
                    F.col("base"), lambda t: F.element_at(lex_map, t).isNotNull()
                ),
                1,
            ),
        ),
    )
    d = d.withColumn("et1", F.element_at(g_map, F.col("ent1")))
    d = d.withColumn(
        "role1_c", F.element_at(rr_map, F.concat_ws("|", "ev_c", "et1"))
    )
    # ent2: first (sorted) gazetteer word whose role under ev_c differs —
    # guarantees the asked role matches exactly one sentence entity
    d = d.withColumn(
        "ent2",
        F.element_at(
            F.filter(
                gaz_struct,
                lambda s: F.element_at(
                    rr_map, F.concat(F.col("ev_c"), F.lit("|"), s["et"])
                )
                != F.col("role1_c"),
            ),
            1,
        )["w"],
    )
    d = d.withColumn("et2", F.element_at(g_map, F.col("ent2")))
    return d.select(
        "doc_id",
        "et1",
        "et2",
        F.concat(
            F.col("base"), F.array("ent1"), F.slice("toks", 9, 4), F.array("ent2")
        ).alias("sentence"),
    )


_BERT_CONSTRUCT_SQL = f"""
s0 AS (
  SELECT doc_id, list_slice({_TOKENS_SQL}, 1, 12) AS toks
  FROM documents WHERE len(list_slice({_TOKENS_SQL}, 1, 12)) >= 5),
s1 AS (
  SELECT doc_id, toks,
         {_TRIG_ARR_SQL}[CAST(doc_id % {len(_TRIG_WORDS)} + 1 AS INT)] AS trig,
         {_GAZ_ARR_SQL}[CAST(doc_id % {len(_GAZ_WORDS)} + 1 AS INT)] AS ent1
  FROM s0),
s2 AS (SELECT *, list_concat(list_concat(list_slice(toks, 1, 4), [trig]),
                             list_slice(toks, 5, 8)) AS base FROM s1),
s3 AS (SELECT *, list_filter(base,
         t -> list_contains({_TRIG_ARR_SQL}, t))[1] AS first_trig FROM s2),
s4 AS (SELECT s3.*, lexb.lex_event_type AS ev FROM s3
       JOIN {_lexicon_values_as('lexb')} ON first_trig = lexb.word),
s5 AS (SELECT s4.*, g1.gtype AS et1 FROM s4
       JOIN {_gaz_values_as('g1')} ON ent1 = g1.gword),
s6 AS (SELECT s5.*, rrb.role AS role1 FROM s5
       JOIN {_role_rule_values_as('rrb')}
         ON rrb.event_type = ev AND rrb.entity_type = et1),
s7 AS (SELECT s6.*,
       (SELECT min(g2.gword) FROM {_gaz_values_as('g2')}
        JOIN {_role_rule_values_as('rr2')}
          ON rr2.event_type = s6.ev AND rr2.entity_type = g2.gtype
        WHERE rr2.role != s6.role1) AS ent2
  FROM s6),
sents AS (
  SELECT doc_id, ev, role1, ent1, ent2,
         list_concat(list_concat(list_concat(base, [ent1]),
                     list_slice(toks, 9, 12)), [ent2]) AS sentence
  FROM s7)
"""


def _bert_trigger_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: constructed sentences -> wordpiece (SC7) -> BERT-style tagger
    kernel -> first-subtoken non-O predictions (run_trigger_qa.py:136,150)
    -> counts per event type."""
    import pandas as pd

    from deepee_spark.functions.wordpiece import tokenize_column
    from deepee_spark.kernels.bert import bert_wordpiece_vocab, tag_triggers
    from deepee_spark.ontology import ID_TO_EVENT_TYPE

    d = _bert_constructed(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    d = d.withColumn(
        "tk", tokenize_column(F.concat_ws(" ", "sentence"), bert_wordpiece_vocab())
    )
    feat = d.select(
        F.col("tk.sub_tokens").alias("subs"),
        F.col("tk.orig_to_tok").alias("o2t"),
    )
    schema = T.StructType([T.StructField("event_type", T.StringType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            hits = tag_triggers([list(s) for s in pdf["subs"]])
            evs = []
            for row_hits, o2t in zip(hits, pdf["o2t"]):
                firsts = {int(i) for i in o2t}
                for sub_pos, c, _score in row_hits:
                    if sub_pos in firsts:
                        evs.append(ID_TO_EVENT_TYPE[int(c)])
            yield pd.DataFrame({"event_type": evs})

    hits = feat.mapInPandas(run, schema=schema)
    return hits.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


_BERT_TAGS_SQL = f"""
WITH {_BERT_CONSTRUCT_SQL},
tok AS (SELECT unnest(sentence) AS token FROM sents)
SELECT lexc.lex_event_type AS event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM tok JOIN {_lexicon_values_as('lexc')} ON token = lexc.word
GROUP BY 1
"""


def _qa_qrows(spark: SparkSession, sf_dir: str, with_maps: bool = False) -> DataFrame:
    """Shared QAEE front half (stage 1 of the two-stage J4 flow): M7
    tagger kernel -> per-sentence first predicted trigger -> one
    answerable ('hit') and one unanswerable ('miss') role question per
    doc. Output: (doc_id, event_type, trig_word, subs, kind, role);
    with_maps additionally threads tok_to_orig + orig token arrays for
    decoders that post-process in ORIG-token space (RCEE refinement)."""
    import pandas as pd

    from deepee_spark.functions.wordpiece import tokenize_column
    from deepee_spark.kernels.bert import bert_wordpiece_vocab, tag_triggers
    from deepee_spark.ontology import ID_TO_EVENT_TYPE

    rr_map = _bert_rr_map()
    d = _bert_constructed(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    d = d.withColumn(
        "tk", tokenize_column(F.concat_ws(" ", "sentence"), bert_wordpiece_vocab())
    )
    in_cols = [
        F.col("doc_id"),
        F.col("et1"),
        F.col("et2"),
        F.col("tk.sub_tokens").alias("subs"),
        F.col("tk.orig_to_tok").alias("o2t"),
    ]
    fields = [
        ("doc_id", T.LongType()),
        ("et1", T.StringType()),
        ("et2", T.StringType()),
        ("subs", T.ArrayType(T.StringType())),
        ("trig_word", T.StringType()),
        ("event_type", T.StringType()),
    ]
    if with_maps:
        in_cols += [
            F.col("tk.tok_to_orig").alias("t2o"),
            F.col("tk.orig_tokens").alias("orig"),
        ]
        fields += [
            ("t2o", T.ArrayType(T.IntegerType())),
            ("orig", T.ArrayType(T.StringType())),
        ]
    stage1_in = d.select(*in_cols)
    schema1 = T.StructType([T.StructField(n, t) for n, t in fields])
    out_names = [n for n, _ in fields]

    def run1(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            subs_all = [list(s) for s in pdf["subs"]]
            hits = tag_triggers(subs_all)
            rows = []
            for i in range(len(pdf)):
                firsts = {int(x) for x in pdf["o2t"].iat[i]}
                pick = None
                for sub_pos, c, _sc in hits[i]:
                    if sub_pos in firsts:
                        pick = (sub_pos, int(c))
                        break  # hits are position-ordered: first trigger
                if pick is None:
                    continue
                row = [
                    int(pdf["doc_id"].iat[i]),
                    pdf["et1"].iat[i],
                    pdf["et2"].iat[i],
                    subs_all[i],
                    subs_all[i][pick[0]],
                    ID_TO_EVENT_TYPE[pick[1]],
                ]
                if with_maps:
                    row += [
                        [int(x) for x in pdf["t2o"].iat[i]],
                        list(pdf["orig"].iat[i]),
                    ]
                rows.append(tuple(row))
            yield pd.DataFrame(rows, columns=out_names)

    s1 = stage1_in.mapInPandas(run1, schema1)
    s1 = s1.withColumn(
        "role_hit", F.element_at(rr_map, F.concat_ws("|", "event_type", "et1"))
    ).withColumn(
        "role2", F.element_at(rr_map, F.concat_ws("|", "event_type", "et2"))
    )
    roles_arr = F.array(*[F.lit(r) for r in sorted(ROLE_TO_ID)])
    s1 = s1.withColumn(
        "role_miss",
        F.element_at(
            F.filter(
                roles_arr,
                lambda r: (r != F.col("role_hit")) & (r != F.col("role2")),
            ),
            1,
        ),
    )
    keep = ["doc_id", "event_type", "trig_word", "subs"] + (
        ["t2o", "orig"] if with_maps else []
    )
    return s1.select(
        *keep,
        F.explode(
            F.array(
                F.struct(
                    F.lit("hit").alias("kind"), F.col("role_hit").alias("role")
                ),
                F.struct(
                    F.lit("miss").alias("kind"), F.col("role_miss").alias("role")
                ),
            )
        ).alias("q"),
    ).select(*keep, "q.kind", "q.role")


def _qa_span_args(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 + the QAEE two-stage flow (J4, script_args_qa.sh): stage 1 runs
    the M7 tagger kernel to find each sentence's first trigger; stage 2
    builds role questions from the PREDICTED trigger ([CLS] q [SEP] s
    [SEP], SC16), runs the span-QA kernel and the n-best start/end
    decode, and emits the answer surface ('' = no-answer). Per doc: one
    answerable question (ent1's role) and one unanswerable (a role no
    sentence entity fills)."""
    import pandas as pd

    from deepee_spark.kernels.bert import answer_text, qa_spans, question_tokens

    qrows = _qa_qrows(spark, sf_dir)

    schema2 = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("role", T.StringType()),
            T.StructField("answer", T.StringType()),
        ]
    )

    def run2(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            qs = [
                question_tokens(r, t)
                for r, t in zip(pdf["role"], pdf["trig_word"])
            ]
            sents = [list(s) for s in pdf["subs"]]
            res = qa_spans(qs, sents)
            ans = [
                answer_text(s, lo, hi)
                for s, (lo, hi, _sc, _nu) in zip(sents, res)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "kind": list(pdf["kind"]),
                    "event_type": list(pdf["event_type"]),
                    "role": list(pdf["role"]),
                    "answer": ans,
                }
            )

    return qrows.mapInPandas(run2, schema2)


_QA_SPAN_SQL = f"""
WITH {_BERT_CONSTRUCT_SQL},
final AS (
  SELECT s.doc_id, s.ev, s.role1, s.ent1,
         (SELECT rr3.role FROM {_gaz_values_as('g3')}
          JOIN {_role_rule_values_as('rr3')}
            ON rr3.event_type = s.ev AND rr3.entity_type = g3.gtype
          WHERE g3.gword = s.ent2) AS role2
  FROM sents s)
SELECT doc_id, 'hit' AS kind, ev AS event_type, role1 AS role, ent1 AS answer
FROM final
UNION ALL
SELECT doc_id, 'miss' AS kind, ev AS event_type,
       (SELECT min(r) FROM (VALUES {", ".join("('" + r + "')" for r in sorted(ROLE_TO_ID))}) AS roles(r)
        WHERE r != final.role1 AND r != final.role2) AS role,
       '' AS answer
FROM final
"""


def _qa_question_templates(spark, sf):
    """QAEE's 6-per-role question-template variants (run_args_qa.py:
    181-214: role name / normal query / description query, each with
    and without '... in [trigger]'; [trigger] substituted at
    instance-forming time, :111-112). Fans out trigger-lexicon x
    role-rule x variant 0..5 and assembles the question STRING with
    JVM-side expressions; kernels/bert.question_tokens_variant builds
    the same strings token-wise (pytest pins the two equal)."""
    lex = spark.createDataFrame(
        sorted(TRIGGER_LEXICON.items()), ["word", "event_type"]
    )
    rr = spark.createDataFrame(
        [(ev, et, r) for (ev, et), r in sorted(ROLE_RULE.items())],
        ["event_type", "entity_type", "role"],
    )
    j = lex.join(rr, "event_type").crossJoin(
        spark.range(6).select(F.col("id").cast("int").alias("variant"))
    )
    r = F.lower("role")
    tail = F.concat(F.lit(" in [ "), F.col("word"), F.lit(" ]"))
    normal = F.concat(F.lit("what is the "), r)
    des = F.concat(F.lit("what is the "), r, F.lit(" of the event"))
    question = (
        F.when(F.col("variant") == 0, r)
        .when(F.col("variant") == 1, F.concat(r, tail))
        .when(F.col("variant") == 2, F.concat(normal, F.lit(" ?")))
        .when(F.col("variant") == 3, F.concat(normal, tail, F.lit(" ?")))
        .when(F.col("variant") == 4, F.concat(des, F.lit(" ?")))
        .otherwise(F.concat(des, tail, F.lit(" ?")))
    )
    return j.select(
        "word", "event_type", "entity_type", "role", "variant",
        question.alias("question"),
    )


_QA_TEMPLATES_SQL = f"""
SELECT word, lex_event_type AS event_type, entity_type, role, variant,
       CASE variant
         WHEN 0 THEN lower(role)
         WHEN 1 THEN lower(role) || ' in [ ' || word || ' ]'
         WHEN 2 THEN 'what is the ' || lower(role) || ' ?'
         WHEN 3 THEN 'what is the ' || lower(role) || ' in [ ' || word || ' ] ?'
         WHEN 4 THEN 'what is the ' || lower(role) || ' of the event ?'
         ELSE 'what is the ' || lower(role) || ' of the event in [ ' || word || ' ] ?'
       END AS question
FROM {_lexicon_values()}
JOIN {_role_rule_values()} ON lex_event_type = rr.event_type
CROSS JOIN (VALUES (CAST(0 AS INT)), (1), (2), (3), (4), (5)) AS v(variant)
"""


def _qa_span_args_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QAEE flow with per-doc TEMPLATE-VARIANT SELECTION: each doc
    asks its questions through one of the trigger-ful template forms
    (variant 1/3/5 keyed by doc_id — the trigger-less forms 0/2/4 carry
    no event identity, mirroring why QAEE's '+ in [trigger]' templates
    are the performing ones). The decoded answers are template-
    invariant across 1/3/5; the variant column pins which form ran."""
    import pandas as pd

    from deepee_spark.kernels.bert import (
        answer_text,
        qa_spans,
        question_tokens_variant,
    )

    qrows = _qa_qrows(spark, sf_dir).withColumn(
        "variant",
        F.element_at(
            F.array(F.lit(1), F.lit(3), F.lit(5)),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ),
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("role", T.StringType()),
            T.StructField("variant", T.IntegerType()),
            T.StructField("answer", T.StringType()),
        ]
    )

    def run2(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            qs = [
                question_tokens_variant(r, t, int(v))
                for r, t, v in zip(pdf["role"], pdf["trig_word"], pdf["variant"])
            ]
            sents = [list(s) for s in pdf["subs"]]
            res = qa_spans(qs, sents)
            ans = [
                answer_text(s, lo, hi)
                for s, (lo, hi, _sc, _nu) in zip(sents, res)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "kind": list(pdf["kind"]),
                    "event_type": list(pdf["event_type"]),
                    "role": list(pdf["role"]),
                    "variant": pdf["variant"].astype("int32"),
                    "answer": ans,
                }
            )

    return qrows.mapInPandas(run2, schema)


_QA_VARIANTS_SQL = f"""
WITH {_BERT_CONSTRUCT_SQL},
final AS (
  SELECT s.doc_id, s.ev, s.role1, s.ent1,
         CAST([1, 3, 5][CAST(s.doc_id % 3 + 1 AS INT)] AS INT) AS variant,
         (SELECT rr3.role FROM {_gaz_values_as('g3')}
          JOIN {_role_rule_values_as('rr3')}
            ON rr3.event_type = s.ev AND rr3.entity_type = g3.gtype
          WHERE g3.gword = s.ent2) AS role2
  FROM sents s)
SELECT doc_id, 'hit' AS kind, ev AS event_type, role1 AS role, variant,
       ent1 AS answer
FROM final
UNION ALL
SELECT doc_id, 'miss' AS kind, ev AS event_type,
       (SELECT min(r) FROM (VALUES {", ".join("('" + r + "')" for r in sorted(ROLE_TO_ID))}) AS roles(r)
        WHERE r != final.role1 AND r != final.role2) AS role,
       variant, '' AS answer
FROM final
"""


def _qa_span_args_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RCEE entity refinement inside QA decode (RCEE/QuestionAnswering/
    util.py:230-248): the n-best span is mapped to ORIG-token space and
    snapped to the overlapping entity span — same-start, same-end, or
    an endpoint strictly inside — emitting the FULL entity surface; no
    overlapping entity -> no prediction. Entity mentions here are the
    2-token spans (preceding token + gazetteer word), so refinement
    visibly extends the raw single-token answer; the oracle re-derives
    the refined surface (last base token || ' ' || ent1) relationally."""
    import pandas as pd

    from deepee_spark.kernels.bert import (
        qa_spans,
        question_tokens,
        refine_span,
    )
    from deepee_spark.ontology import ENTITY_GAZETTEER as _GAZ

    qrows = _qa_qrows(spark, sf_dir, with_maps=True)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("role", T.StringType()),
            T.StructField("answer", T.StringType()),
        ]
    )

    def run2(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            qs = [
                question_tokens(r, t)
                for r, t in zip(pdf["role"], pdf["trig_word"])
            ]
            sents = [list(s) for s in pdf["subs"]]
            res = qa_spans(qs, sents)
            ans = []
            for i, (lo, hi, _sc, _nu) in enumerate(res):
                if lo < 0:
                    ans.append("")
                    continue
                t2o = [int(x) for x in pdf["t2o"].iat[i]]
                orig = list(pdf["orig"].iat[i])
                spans = [
                    (max(0, j - 1), j)
                    for j, tok in enumerate(orig)
                    if tok in _GAZ
                ]
                snapped = refine_span(t2o[lo], t2o[hi], spans)
                ans.append(
                    "" if snapped is None
                    else " ".join(orig[snapped[0] : snapped[1] + 1])
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "kind": list(pdf["kind"]),
                    "event_type": list(pdf["event_type"]),
                    "role": list(pdf["role"]),
                    "answer": ans,
                }
            )

    return qrows.mapInPandas(run2, schema)


_QA_REFINED_SQL = f"""
WITH {_BERT_CONSTRUCT_SQL},
final AS (
  SELECT s.doc_id, s.ev, s.role1, s.ent1,
         s.base[len(s.base)] AS prev_tok,
         (SELECT rr3.role FROM {_gaz_values_as('g3')}
          JOIN {_role_rule_values_as('rr3')}
            ON rr3.event_type = s.ev AND rr3.entity_type = g3.gtype
          WHERE g3.gword = s.ent2) AS role2
  FROM s7 s)
SELECT doc_id, 'hit' AS kind, ev AS event_type, role1 AS role,
       prev_tok || ' ' || ent1 AS answer
FROM final
UNION ALL
SELECT doc_id, 'miss' AS kind, ev AS event_type,
       (SELECT min(r) FROM (VALUES {", ".join("('" + r + "')" for r in sorted(ROLE_TO_ID))}) AS roles(r)
        WHERE r != final.role1 AND r != final.role2) AS role,
       '' AS answer
FROM final
"""


# ---------------------------------------------------------------------------
# relational core (TPC-H-flavored Catalyst checks)
# ---------------------------------------------------------------------------

def _q1(spark, sf):
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "1998-09-01")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc100 = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(cents).alias("sum_base_cents"),
            F.sum(cents * (100 - disc100)).alias("revenue_e4"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4,
       COUNT(*) AS n_rows
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def _q5(spark, sf):
    li, o = _t(spark, sf, "lineitem"), _t(spark, sf, "orders")
    c, s = _t(spark, sf, "customer"), _t(spark, sf, "supplier")
    n, r = _t(spark, sf, "nation"), _t(spark, sf, "region")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc100 = F.round(F.col("l_discount") * 100).cast("long")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.groupBy("r_name", "n_name").agg(
        F.sum(cents * (100 - disc100)).alias("revenue_e4"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


_Q5_SQL = """
SELECT r_name, n_name,
       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4,
       COUNT(*) AS n_rows
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def _q_top_orders(spark, sf):
    li = _t(spark, sf, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc100 = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.groupBy("l_orderkey")
        .agg(F.sum(cents * (100 - disc100)).alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), F.asc("l_orderkey"))
        .limit(10)
    )


_Q_TOP_ORDERS_SQL = """
SELECT l_orderkey,
       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4
FROM lineitem GROUP BY l_orderkey
ORDER BY revenue_e4 DESC, l_orderkey ASC LIMIT 10
"""


# ---------------------------------------------------------------------------
# aggregations A*
# ---------------------------------------------------------------------------

def _a1_vocab(spark, sf):
    from deepee_spark.operators.vocab import rank_count_token

    docs = _t(spark, sf, "documents")
    counts = (
        docs.select(F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # exact A1 tie-break (cnt DESC, token ASC) as a TWO-LEVEL rank —
    # no single task ever sees the whole token space (vocab.py)
    return rank_count_token(counts).withColumnRenamed("rk", "id")


_A1_SQL = f"""
WITH tok AS (SELECT unnest({_TOKENS_SQL}) AS token FROM documents),
cnts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token)
SELECT token, CAST(cnt AS BIGINT) AS cnt,
       CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS BIGINT) AS id
FROM cnts
"""


def _a2_bag_argmax(spark, sf):
    ev = _t(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.withColumn("value_cents", cents)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct(
                    F.col("event_id").alias("top_event_id"),
                    F.col("event_type").alias("top_event_type"),
                    F.col("value_cents").alias("top_value_cents"),
                ),
                F.struct(F.col("value_cents"), F.col("event_id")),
            ).alias("b")
        )
        .select("user_id", "b.top_event_id", "b.top_event_type", "b.top_value_cents")
    )


_A2_SQL = """
SELECT user_id, event_id AS top_event_id, event_type AS top_event_type,
       CAST(ROUND(value*100) AS BIGINT) AS top_value_cents
FROM events
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY user_id
  ORDER BY CAST(ROUND(value*100) AS BIGINT) DESC, event_id DESC) = 1
"""


def _a3_prf(spark, sf):
    ev = _t(spark, sf, "events")
    agg = ev.agg(
        F.sum(F.when(F.col("value") > 150, 1).otherwise(0)).cast("long").alias("n_pred"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).cast("long").alias("n_gold"),
        F.sum(
            F.when((F.col("value") > 150) & (F.col("event_type") == "purchase"), 1).otherwise(0)
        ).cast("long").alias("n_correct"),
    )
    return agg.select(
        "n_pred",
        "n_gold",
        "n_correct",
        F.round(F.col("n_correct") / F.col("n_pred"), 6).alias("precision"),
        F.round(F.col("n_correct") / F.col("n_gold"), 6).alias("recall"),
        F.round(
            2 * F.col("n_correct") / (F.col("n_pred") + F.col("n_gold")), 6
        ).alias("f1"),
    )


_A3_SQL = """
WITH c AS (
  SELECT CAST(SUM(CASE WHEN value > 150 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_gold,
         CAST(SUM(CASE WHEN value > 150 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
  FROM events)
SELECT n_pred, n_gold, n_correct,
       ROUND(n_correct / CAST(n_pred AS DOUBLE), 6) AS precision,
       ROUND(n_correct / CAST(n_gold AS DOUBLE), 6) AS recall,
       ROUND(2 * n_correct / CAST(n_pred + n_gold AS DOUBLE), 6) AS f1
FROM c
"""


def _a7_weight(spark, sf):
    docs = _t(spark, sf, "documents")
    lex = F.array(*[F.lit(w) for w in sorted(TRIGGER_LEXICON)])
    return docs.select(
        "doc_id",
        F.when(F.size(F.array_intersect(_tokens(), lex)) > 0, F.lit(5.0))
        .otherwise(F.lit(1.0))
        .alias("weight"),
    )


_A7_SQL = f"""
SELECT doc_id,
       CASE WHEN len(list_intersect({_TOKENS_SQL},
            [{', '.join(repr(w) for w in sorted(TRIGGER_LEXICON))}])) > 0
            THEN 5.0::DOUBLE ELSE 1.0::DOUBLE END AS weight
FROM documents
"""


def _a8_maxlen(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.agg(
        (F.max(F.size(_tokens())) + 12).cast("long").alias("max_len_plus_query")
    )


_A8_SQL = f"""
SELECT CAST(MAX(len({_TOKENS_SQL})) + 12 AS BIGINT) AS max_len_plus_query
FROM documents
"""


# ---------------------------------------------------------------------------
# windows W*
# ---------------------------------------------------------------------------

def _w1_pr_curve(spark, sf):
    from deepee_spark.operators.metrics import ranked_cumsum

    ev = _t(spark, sf, "events").select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("score_cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("gold"),
    )
    total_gold = ev.agg(F.sum("gold").cast("long").alias("tg"))
    # rank + cumulative correct over (score DESC, event_id ASC) as the
    # TWO-LEVEL decomposition (metrics.ranked_cumsum) — the prediction
    # stream never funnels through one task
    curve = ranked_cumsum(
        ev, "score_cents", ["event_id"], ["gold"]
    ).withColumnRenamed("cum_gold", "cum_correct")
    return (
        curve.crossJoin(F.broadcast(total_gold))
        .filter(F.col("rank") % 100 == 0)
        .select(
            "rank",
            "cum_correct",
            F.round(F.col("cum_correct") / F.col("rank"), 6).alias("precision"),
            F.round(F.col("cum_correct") / F.col("tg"), 6).alias("recall"),
        )
    )


_W1_SQL = """
WITH scored AS (
  SELECT event_id, CAST(ROUND(value*100) AS BIGINT) AS score_cents,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS gold
  FROM events),
curve AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_cents DESC, event_id ASC) AS BIGINT) AS rank,
         CAST(SUM(gold) OVER (ORDER BY score_cents DESC, event_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_correct
  FROM scored),
tg AS (SELECT CAST(SUM(gold) AS BIGINT) AS tg FROM scored)
SELECT rank, cum_correct,
       ROUND(cum_correct / CAST(rank AS DOUBLE), 6) AS precision,
       ROUND(cum_correct / CAST(tg AS DOUBLE), 6) AS recall
FROM curve, tg WHERE rank % 100 = 0
"""


def _w3_topk(spark, sf):
    from pyspark.sql import Window as W

    ev = _t(spark, sf, "events")
    w = W.partitionBy("event_type").orderBy(
        F.desc(F.round(F.col("value") * 100).cast("long")), F.asc("event_id")
    )
    return (
        ev.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select(
            "event_type",
            "rank",
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
    )


_W3_SQL = """
SELECT event_type,
       CAST(ROW_NUMBER() OVER (PARTITION BY event_type
            ORDER BY CAST(ROUND(value*100) AS BIGINT) DESC, event_id ASC) AS BIGINT) AS rank,
       event_id, CAST(ROUND(value*100) AS BIGINT) AS value_cents
FROM events
QUALIFY rank <= 5
"""


def _w4_fold(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.withColumn("fold", F.pmod(F.col("event_id"), F.lit(10)).cast("long"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
        )
    )


_W4_SQL = """
SELECT CAST(event_id % 10 AS BIGINT) AS fold, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY 1
"""


def _w5_thresh_sweep(spark, sf):
    ev = _t(spark, sf, "events").select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("score_cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("gold"),
    )
    tg = ev.agg(F.sum("gold").cast("long").alias("tg"))
    # running (n_pred, correct) over (score DESC, event_id ASC) via the
    # two-level ranked_cumsum — no global single-task window (s4/f4
    # pattern); the best-F1 pick is then a plain max(struct) aggregate
    # (partial-agged, parallel): the (f1 DESC, score DESC) maximum, and
    # the event_id tie-break cannot change either projected value.
    from deepee_spark.operators.metrics import ranked_cumsum

    cum = (
        ranked_cumsum(ev, "score_cents", ["event_id"], ["gold"])
        .withColumnRenamed("rank", "n_pred")
        .withColumnRenamed("cum_gold", "correct")
        .crossJoin(F.broadcast(tg))
        .withColumn(
            "f1",
            F.round(2 * F.col("correct") / (F.col("n_pred") + F.col("tg")), 6),
        )
    )
    return cum.agg(
        F.max(F.struct("f1", "score_cents")).alias("_b")
    ).select(
        F.col("_b.score_cents").alias("best_threshold_cents"),
        F.col("_b.f1").alias("best_f1"),
    )


_W5_SQL = """
WITH scored AS (
  SELECT event_id, CAST(ROUND(value*100) AS BIGINT) AS score_cents,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS gold
  FROM events),
tg AS (SELECT CAST(SUM(gold) AS BIGINT) AS tg FROM scored),
cum AS (
  SELECT score_cents, event_id,
         CAST(ROW_NUMBER() OVER (ORDER BY score_cents DESC, event_id ASC) AS BIGINT) AS n_pred,
         CAST(SUM(gold) OVER (ORDER BY score_cents DESC, event_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS correct
  FROM scored)
SELECT score_cents AS best_threshold_cents,
       ROUND(2 * correct / CAST(n_pred + tg AS DOUBLE), 6) AS best_f1
FROM cum, tg
ORDER BY best_f1 DESC, score_cents DESC, event_id ASC LIMIT 1
"""


def _j11_transitions(spark, sf):
    from pyspark.sql import Window as W

    ev = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


_J11_SQL = """
WITH t AS (
  SELECT event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events)
SELECT event_type, next_type, COUNT(*) AS n
FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# joins J*
# ---------------------------------------------------------------------------

def _j1_vocab_lookup(spark, sf):
    vocab = _a1_vocab(spark, sf).filter(F.col("id") <= 20)
    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 50)
    toks = docs.select("doc_id", F.explode(_tokens()).alias("token"))
    joined = toks.join(F.broadcast(vocab.select("token", "id")), "token", "left")
    return (
        joined.withColumn("tid", F.coalesce(F.col("id"), F.lit(0)).cast("long"))
        .groupBy("doc_id", "token", "tid")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


_J1_SQL = f"""
WITH tok_all AS (SELECT unnest({_TOKENS_SQL}) AS token FROM documents),
cnts AS (SELECT token, COUNT(*) AS cnt FROM tok_all GROUP BY token),
vocab AS (
  SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS BIGINT) AS id
  FROM cnts QUALIFY id <= 20),
doc_tok AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token
  FROM documents WHERE doc_id < 50)
SELECT d.doc_id, d.token, CAST(COALESCE(v.id, 0) AS BIGINT) AS tid, COUNT(*) AS n
FROM doc_tok d LEFT JOIN vocab v ON d.token = v.token
GROUP BY 1, 2, 3
"""


def _j9_interval(spark, sf):
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    j = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    )
    return j.groupBy("o_orderpriority").agg(F.count(F.lit(1)).cast("long").alias("n"))


_J9_SQL = """
SELECT o_orderpriority, COUNT(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
GROUP BY 1
"""


def _j10_intersection(spark, sf):
    ev = _t(spark, sf, "events")
    k = F.pmod(F.get_json_object("props", "$.k").cast("long"), F.lit(10))
    pred = ev.filter(F.col("event_type") == "click").select(
        "user_id", k.alias("bucket")
    ).distinct()
    gold = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", k.alias("bucket")
    ).distinct()
    return pred.join(gold, ["user_id", "bucket"]).groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )


_J10_SQL = """
WITH pred AS (
  SELECT DISTINCT user_id, CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS bucket
  FROM events WHERE event_type = 'click'),
gold AS (
  SELECT DISTINCT user_id, CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS bucket
  FROM events WHERE event_type = 'purchase')
SELECT p.bucket, COUNT(*) AS n_common
FROM pred p JOIN gold g ON p.user_id = g.user_id AND p.bucket = g.bucket
GROUP BY 1
"""


def _j5_template_fanout(spark, sf):
    lex = spark.createDataFrame(
        sorted(TRIGGER_LEXICON.items()), ["word", "event_type"]
    )
    rr = spark.createDataFrame(
        [(ev, et, r) for (ev, et), r in sorted(ROLE_RULE.items())],
        ["event_type", "entity_type", "role"],
    )
    j = lex.join(rr, "event_type")
    return j.select(
        "word",
        "event_type",
        "entity_type",
        "role",
        F.concat(
            F.lit("What is the "),
            F.col("role"),
            F.lit(" of the "),
            F.col("event_type"),
            F.lit(" triggered by ["),
            F.col("word"),
            F.lit("]?"),
        ).alias("question"),
    )


_J5_SQL = f"""
SELECT word, lex_event_type AS event_type, entity_type, role,
       'What is the ' || role || ' of the ' || lex_event_type ||
       ' triggered by [' || word || ']?' AS question
FROM {_lexicon_values()}
JOIN {_role_rule_values()} ON lex_event_type = rr.event_type
"""


# ---------------------------------------------------------------------------
# set ops / filters U*, F*
# ---------------------------------------------------------------------------

def _u1_union(spark, sf):
    ev = _t(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    pos = ev.filter(F.col("event_type") == "purchase").select(
        F.lit("pos").alias("part"), cents.alias("value_cents")
    )
    neg = ev.filter(F.col("event_type") == "click").select(
        F.lit("neg").alias("part"), cents.alias("value_cents")
    )
    return pos.unionByName(neg).groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("value_cents").alias("sum_cents"),
    )


_U1_SQL = """
WITH u AS (
  SELECT 'pos' AS part, CAST(ROUND(value*100) AS BIGINT) AS value_cents
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT 'neg' AS part, CAST(ROUND(value*100) AS BIGINT) AS value_cents
  FROM events WHERE event_type = 'click')
SELECT part, COUNT(*) AS n, CAST(SUM(value_cents) AS BIGINT) AS sum_cents
FROM u GROUP BY part
"""


def _u2_transfer(spark, sf):
    o = _t(spark, sf, "orders")
    conf = o.filter(F.col("o_totalprice") > 300)
    qualified = o.filter(
        (F.col("o_totalprice") <= 300)
        & (F.col("o_totalprice") > 200)
        & (F.col("o_orderstatus") == "F")
    )
    new_conf = conf.unionByName(qualified)
    new_unconf = o.join(new_conf.select("o_orderkey"), "o_orderkey", "left_anti")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    a = new_conf.select(F.lit("conf").alias("part"), cents.alias("c"))
    b = new_unconf.select(F.lit("unconf").alias("part"), cents.alias("c"))
    return a.unionByName(b).groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("c").alias("sum_cents")
    )


_U2_SQL = """
WITH new_conf AS (
  SELECT * FROM orders WHERE o_totalprice > 300
  UNION ALL
  SELECT * FROM orders
  WHERE o_totalprice <= 300 AND o_totalprice > 200 AND o_orderstatus = 'F'),
new_unconf AS (
  SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM new_conf)),
u AS (
  SELECT 'conf' AS part, CAST(ROUND(o_totalprice*100) AS BIGINT) AS c FROM new_conf
  UNION ALL
  SELECT 'unconf' AS part, CAST(ROUND(o_totalprice*100) AS BIGINT) AS c FROM new_unconf)
SELECT part, COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS sum_cents FROM u GROUP BY part
"""


def _u3_intersect(spark, sf):
    ev = _t(spark, sf, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    b = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return a.intersect(b)


_U3_SQL = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
"""


def _f4_negative_cap(spark, sf):
    """F4: cap the negative (click) sample at the positive count, taking the
    earliest negatives by (ts, event_id) — DMCNN-style 15x negative capping
    with m=1 at this fixture scale.

    Scale note: the global rank is a TWO-LEVEL window (same pattern as
    _s4_conll_scan): (1) row_number per hour-bucket of ts — parallel across
    buckets, since hour buckets are contiguous ranges of the (ts, event_id)
    sort order; (2) a prefix sum over per-bucket counts (720 rows/month,
    broadcast back). No single task ever sees the full click stream; the
    bucket width is a knob (day/minute) if the hour skews at larger scale."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf, "events")
    pos_cnt = ev.filter(F.col("event_type") == "purchase").agg(
        F.count(F.lit(1)).cast("long").alias("p")
    )
    clicks = ev.filter(F.col("event_type") == "click").withColumn(
        "bucket", F.floor(F.unix_timestamp("ts") / 3600)
    )
    inner_rn = F.row_number().over(
        W.partitionBy("bucket").orderBy("ts", "event_id")
    )
    totals = clicks.groupBy("bucket").agg(F.count(F.lit(1)).alias("bucket_n"))
    prefix = totals.select(
        "bucket",
        F.coalesce(
            F.sum("bucket_n").over(
                W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("bucket_prefix"),
    )
    negs = (
        clicks.withColumn("inner_rn", inner_rn)
        .join(prefix, "bucket")
        .withColumn(
            "rn", (F.col("bucket_prefix") + F.col("inner_rn")).cast("long")
        )
        .crossJoin(pos_cnt)
        .filter(F.col("rn") <= F.col("p"))  # reference uses 15x; m=1 bites here
    )
    return negs.select("event_id")


_F4_SQL = """
WITH p AS (SELECT CAST(COUNT(*) AS BIGINT) AS p FROM events WHERE event_type = 'purchase'),
negs AS (
  SELECT event_id, CAST(ROW_NUMBER() OVER (ORDER BY ts, event_id) AS BIGINT) AS rn
  FROM events WHERE event_type = 'click')
SELECT event_id FROM negs, p WHERE rn <= p.p
"""


# ---------------------------------------------------------------------------
# scalar / array SC*
# ---------------------------------------------------------------------------

def _sc6_digit_norm(spark, sf):
    c = _t(spark, sf, "customer")
    return (
        c.select(
            F.regexp_replace(F.lower("c_name"), "[0-9]", "0").alias("norm_name")
        )
        .groupBy("norm_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


_SC6_SQL = """
SELECT regexp_replace(lower(c_name), '[0-9]', '0', 'g') AS norm_name, COUNT(*) AS n
FROM customer GROUP BY 1
"""


def _sc9_pad(spark, sf):
    docs = _t(spark, sf, "documents")
    padded = F.slice(
        F.concat(_tokens(), F.array_repeat(F.lit("<PAD>"), 20)), 1, 20
    )
    return docs.select(
        "doc_id",
        F.size(padded).cast("long").alias("padded_len"),
        F.element_at(padded, 1).alias("first_tok"),
        F.element_at(padded, 20).alias("tok_20"),
    )


_SC9_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_slice(list_concat({_TOKENS_SQL},
             list_transform(range(20), x -> '<PAD>')), 1, 20) AS padded
  FROM documents)
SELECT doc_id, CAST(len(padded) AS BIGINT) AS padded_len,
       padded[1] AS first_tok, padded[20] AS tok_20
FROM t
"""


def _sc10_relpos(spark, sf):
    docs = _t(spark, sf, "documents")
    n = F.least(F.size(_tokens()), F.lit(20))
    anchor = F.pmod(F.col("doc_id"), F.lit(10))
    rel = F.transform(
        F.sequence(F.lit(0), n - 1), lambda i: i - anchor + F.lit(79)
    )
    return docs.select(
        "doc_id",
        F.aggregate(rel, F.lit(0).cast("long"), lambda a, x: a + x).alias("rel_sum"),
        F.element_at(rel, 1).cast("long").alias("rel_first"),
    )


_SC10_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_transform(range(0, least(len({_TOKENS_SQL}), 20)),
                        i -> i - (doc_id % 10) + 79) AS rel
  FROM documents)
SELECT doc_id,
       CAST(list_reduce(list_prepend(0, rel), (a, x) -> a + x) AS BIGINT) AS rel_sum,
       CAST(rel[1] AS BIGINT) AS rel_first
FROM t
"""


def _sc12_lexwin(spark, sf):
    docs = _t(spark, sf, "documents")
    toks = _tokens()
    n = F.size(toks)
    anchor = F.pmod(F.col("doc_id"), n).cast("int")  # 0-based anchor

    def at(one_based):
        return F.when(
            (one_based >= 1) & (one_based <= n), F.element_at(toks, one_based)
        ).otherwise(F.lit("<PAD>"))

    return docs.select(
        "doc_id",
        at(anchor).alias("prev_tok"),
        at(anchor + 1).alias("center_tok"),
        at(anchor + 2).alias("next_tok"),
    )


_SC12_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks,
         CAST(doc_id % len({_TOKENS_SQL}) AS BIGINT) AS anchor
  FROM documents)
SELECT doc_id,
       CASE WHEN anchor >= 1 AND anchor <= len(toks) THEN toks[anchor] ELSE '<PAD>' END AS prev_tok,
       CASE WHEN anchor+1 >= 1 AND anchor+1 <= len(toks) THEN toks[anchor+1] ELSE '<PAD>' END AS center_tok,
       CASE WHEN anchor+2 >= 1 AND anchor+2 <= len(toks) THEN toks[anchor+2] ELSE '<PAD>' END AS next_tok
FROM t
"""


# ---------------------------------------------------------------------------
# training-data pipeline ops: dedup / similarity / text analysis
# ---------------------------------------------------------------------------

def _dedup_exact(spark, sf):
    from deepee_spark.operators.dedup import exact_duplicates

    docs = _t(spark, sf, "documents")
    return exact_duplicates(docs, "doc_id", "text").withColumnRenamed(
        "keep_id", "keep_doc_id"
    )


_DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_md5, COUNT(*) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
FROM documents GROUP BY 1
"""


def _minhash_sig(spark, sf):
    from deepee_spark.operators.dedup import minhash_signatures

    docs = _t(spark, sf, "documents").select("doc_id", _tokens().alias("toks"))
    return minhash_signatures(docs, "doc_id", "toks", k=MINHASH_K)


_MINHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({_TOKENS_SQL})) AS token FROM documents),
hashed AS (
  SELECT doc_id, {_HASH_SQL.format(col='token')} AS h FROM tok)
SELECT doc_id,
{', '.join(f'       CAST(MIN(({a}::BIGINT * h + {b}) % 1000000007) AS BIGINT) AS sig{k}' for k, (a, b) in enumerate(_MH))}
FROM hashed GROUP BY doc_id
"""


def _simhash(spark, sf):
    from deepee_spark.operators.dedup import simhash

    docs = _t(spark, sf, "documents").select("doc_id", _tokens().alias("toks"))
    return simhash(docs, "doc_id", "toks")


_SIMHASH_SQL = f"""
WITH tok AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents),
hashed AS (SELECT doc_id, {_HASH_SQL.format(col='token')} AS h FROM tok),
agg AS (
  SELECT doc_id,
{', '.join(f'         SUM(((h >> {j}) & 1) * 2 - 1) AS s{j}' for j in range(SIMHASH_BITS))}
  FROM hashed GROUP BY doc_id)
SELECT doc_id,
       CAST({' + '.join(f'(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)' for j in range(SIMHASH_BITS))} AS BIGINT) AS simhash
FROM agg
"""


def _simhash_pairs(spark, sf):
    """SimHash Hamming-ball pairs (operators/dedup.simhash_dup_pairs,
    Manku et al. WWW'07 blocking): fingerprints agreeing on >= 1 of 4
    bit blocks meet in buckets; exact xor+bit_count distance keeps
    pairs <= hamming 2. Rolled up to (hamming, n_pairs) — the dup-rate
    histogram a curation run reads — so the contract row count stays
    bounded while every pair still flows through the blocked join."""
    from deepee_spark.operators.dedup import simhash_dup_pairs

    pairs = simhash_dup_pairs(
        _simhash(spark, sf), "doc_id", "simhash", max_hamming=2
    )
    return pairs.groupBy("hamming").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


_SIMHASH_PAIRS_SQL = f"""
WITH sims AS ({_SIMHASH_SQL}),
banded AS (
  SELECT doc_id, simhash, blk,
         (simhash >> (blk * 4)) & 15 AS blk_val
  FROM sims, unnest(range(0, 4)) AS t(blk)),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
         x.simhash AS sh_a, y.simhash AS sh_b
  FROM banded x JOIN banded y
    ON x.blk = y.blk AND x.blk_val = y.blk_val
   AND x.doc_id < y.doc_id),
pairs AS (
  SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
  FROM cand
  WHERE bit_count(xor(sh_a, sh_b)) <= 2)
SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY hamming
"""


def _ngram_jaccard(spark, sf):
    """Token-trigram Jaccard within (lang, length-bucket) blocks
    (operators/dedup.ngram_jaccard_pairs). The oracle hashes each
    shingle string; hashes never reach the output, so the two agree
    unless a 64-bit collision occurs."""
    from deepee_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf, "documents").select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / 100).cast("long").alias("bucket"),
        _tokens().alias("toks"),
    )
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "toks", ["lang", "bucket"], n=3, min_jaccard=0.03
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard"
    )


def _dedup_containment(spark, sf):
    """Asymmetric shingle containment (operators/dedup.
    containment_pairs) within (lang, source) blocks — the partial-
    duplication sweep symmetric Jaccard can't do: a short page wholly
    quoted in a long one scores 1.0 containment at low Jaccard (the
    sf0.01 corpus contains exactly such a pair). Integer e6 fractions:
    BIGINT-exact cross-engine, no rounding convention needed."""
    from deepee_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf, "documents").select(
        "doc_id", "lang", "source", _tokens().alias("toks")
    )
    return containment_pairs(
        docs,
        "doc_id",
        "toks",
        ["lang", "source"],
        n=3,
        min_containment_e6=50_000,
    )


_DEDUP_CONTAINMENT_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, source,
         list_distinct(list_transform(
           range(1, greatest(len({_TOKENS_SQL}) - 2, 1) + 1),
           i -> {_TOKENS_SQL}[i] || '_' || {_TOKENS_SQL}[i+1] || '_' || {_TOKENS_SQL}[i+2]
         )) AS shingles
  FROM documents
  -- token-count guard (matches containment_pairs): short docs with
  -- few distinct shingles are the fully-quoted case, keep them
  WHERE len({_TOKENS_SQL}) >= 3),
f AS (SELECT * FROM d),
scored AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS inter,
         CAST(len(a.shingles) AS BIGINT) AS n_a,
         CAST(len(b.shingles) AS BIGINT) AS n_b
  FROM f a JOIN f b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
SELECT id_a, id_b, inter, n_a, n_b,
       CAST((1000000 * inter) // n_a AS BIGINT) AS cont_a_in_b_e6,
       CAST((1000000 * inter) // n_b AS BIGINT) AS cont_b_in_a_e6
FROM scored
WHERE GREATEST((1000000 * inter) // n_a, (1000000 * inter) // n_b) >= 50000
"""


_NGRAM_JACCARD_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, CAST(FLOOR(n_chars / 100) AS BIGINT) AS bucket,
         list_distinct(list_transform(
           range(1, greatest(len({_TOKENS_SQL}) - 2, 1) + 1),
           i -> hash({_TOKENS_SQL}[i] || '_' || {_TOKENS_SQL}[i+1] || '_' || {_TOKENS_SQL}[i+2])
         )) AS shingles
  FROM documents),
f AS (SELECT * FROM d WHERE len(shingles) >= 3)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(len(list_intersect(a.shingles, b.shingles)) /
             CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE), 6) AS jaccard
FROM f a JOIN f b
  ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE ROUND(len(list_intersect(a.shingles, b.shingles)) /
      CAST(len(list_distinct(list_concat(a.shingles, b.shingles))) AS DOUBLE), 6) >= 0.03
"""


def _ann_cosine_topk(spark, sf):
    from deepee_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf, "embeddings")
    return brute_force_topk(
        emb.filter(F.col("vec_id") < 5), emb, "vec_id", "embedding", 64, k=3
    )


def _sparse_retrieval_topk(spark, sf):
    """Inverted-index sparse retrieval (operators/similarity.
    sparse_topk): the first five documents as queries against the full
    corpus, integer-exact linear-IDF scoring, df>390 terms pruned
    before the term join (the stopword/skew cap; the synthetic corpus
    has a ~30-term vocabulary with df clustered at 370-400, so 390
    prunes roughly half — a real cut, not a vacuous one). Self-matches
    rank first by construction — kept; determinism is the contract."""
    from deepee_spark.operators.similarity import sparse_topk

    docs = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("id"), _tokens().alias("tokens")
    )
    qs = (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 5)
        .select(F.col("doc_id").alias("q_id"), _tokens().alias("tokens"))
    )
    return sparse_topk(docs, qs, k=5, max_df=390)


_SPARSE_RETRIEVAL_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents),
postings AS (
  SELECT doc_id AS doc, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM postings
  GROUP BY term HAVING COUNT(*) <= 390),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
idf AS (SELECT term, (1000000 * n.n_docs) // df AS idf_e6 FROM dfreq, n),
q AS (SELECT DISTINCT doc_id AS q_id, term FROM toks WHERE doc_id < 5),
scored AS (
  SELECT q.q_id, p.doc,
         CAST(SUM(p.tf * idf.idf_e6) AS BIGINT) AS score_e6
  FROM q JOIN idf USING (term) JOIN postings p USING (term)
  GROUP BY q.q_id, p.doc),
r AS (
  SELECT q_id, doc, score_e6,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY score_e6 DESC, doc) AS BIGINT) AS rank
  FROM scored)
SELECT q_id, rank, doc, score_e6 FROM r WHERE rank <= 5
"""


def _ann_rrf_fused(spark, sf):
    """Reciprocal-rank fusion (operators/similarity.rrf_fuse) of two
    retrieval paths over the same queries — normalized cosine and raw
    dot-product rankings disagree exactly where candidate norms vary,
    so the fused order differs from both inputs. Integer 1e9 div
    (60+rank) scoring makes the fusion BIGINT-exact cross-engine."""
    from pyspark.sql import Window as W

    from deepee_spark.operators.similarity import rrf_fuse

    emb = _t(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )
    pairs = q.crossJoin(c).filter(F.col("q_id") != F.col("c_id"))
    cos = dot(F.col("q_emb"), F.col("c_emb"), 64) / (
        F.sqrt(dot(F.col("q_emb"), F.col("q_emb"), 64))
        * F.sqrt(dot(F.col("c_emb"), F.col("c_emb"), 64))
    )
    scored = pairs.select(
        "q_id",
        "c_id",
        F.round(cos, 6).alias("cosine"),
        F.round(dot(F.col("q_emb"), F.col("c_emb"), 64), 6).alias("dotv"),
    )
    wc = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    wd = W.partitionBy("q_id").orderBy(F.desc("dotv"), F.asc("c_id"))
    r1 = (
        scored.withColumn("rank", F.row_number().over(wc).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("q_id", "c_id", "rank")
    )
    r2 = (
        scored.withColumn("rank", F.row_number().over(wd).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("q_id", "c_id", "rank")
    )
    return rrf_fuse(r1.unionByName(r2), k_rrf=60, topk=5)


_ANN_RRF_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
scored AS (
  SELECT q_id, c_id,
         ROUND({_DOT_SQL.format(a='q_emb', b='c_emb')} /
               (sqrt({_DOT_SQL.format(a='q_emb', b='q_emb')}) *
                sqrt({_DOT_SQL.format(a='c_emb', b='c_emb')})), 6) AS cosine,
         ROUND({_DOT_SQL.format(a='q_emb', b='c_emb')}, 6) AS dotv
  FROM q, c WHERE q_id != c_id),
r1 AS (
  SELECT q_id, c_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
  FROM scored QUALIFY rank <= 10),
r2 AS (
  SELECT q_id, c_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dotv DESC, c_id) AS rank
  FROM scored QUALIFY rank <= 10),
pooled AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2),
fused AS (
  SELECT q_id, c_id,
         CAST(SUM(1000000000 // (60 + rank)) AS BIGINT) AS rrf_score_e9,
         CAST(COUNT(*) AS BIGINT) AS n_lists
  FROM pooled GROUP BY q_id, c_id)
SELECT q_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY rrf_score_e9 DESC, c_id) AS BIGINT) AS rank_fused,
       c_id, rrf_score_e9, n_lists
FROM fused
QUALIFY rank_fused <= 5
"""


_ANN_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings),
scored AS (
  SELECT q_id, c_id,
         ROUND({_DOT_SQL.format(a='q_emb', b='c_emb')} /
               (sqrt({_DOT_SQL.format(a='q_emb', b='q_emb')}) *
                sqrt({_DOT_SQL.format(a='c_emb', b='c_emb')})), 6) AS cosine
  FROM q, c WHERE q_id != c_id)
SELECT q_id, CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS BIGINT) AS rank,
       c_id, cosine
FROM scored QUALIFY rank <= 3
"""


def _lsh_hyperplane(spark, sf):
    from deepee_spark.operators.similarity import hyperplane_bucket

    emb = _t(spark, sf, "embeddings")
    return emb.groupBy(
        hyperplane_bucket(F.col("embedding"), 64).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


_LSH_PLANE_TERM = (
    "(CASE WHEN list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 65), "
    "j -> embedding[j]::DOUBLE * ((({p} * 73856093 + j * 19349663) % 2000 - 1000)::DOUBLE / 1000.0)"
    ")), (x, y) -> x + y) > 0 THEN {bit} ELSE 0 END)"
)
_LSH_SQL = f"""
WITH b AS (
  SELECT CAST({' + '.join(_LSH_PLANE_TERM.format(p=p, bit=1 << p) for p in range(8))} AS BIGINT) AS bucket
  FROM embeddings)
SELECT bucket, COUNT(*) AS n FROM b GROUP BY bucket
"""


def _lang_id(spark, sf):
    from deepee_spark.operators.textstats import lang_id

    return lang_id(_t(spark, sf, "documents")).groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


# textstats rules: `\s+` tokens (tokens_of), the 10-word EN_STOPWORDS
# list, the CJK share of ZH_HINT_RANGE characters; a ratio over zero
# tokens is NULL in both engines
_WS_TOKENS_SQL = r"list_filter(string_split_regex(text, '\s+'), t -> t != '')"
_EN_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"

_LANG_SQL = f"""
WITH t AS (
  SELECT lang, text, {_WS_TOKENS_SQL} AS toks FROM documents)
SELECT lang,
       CASE WHEN len(list_filter(string_split(text, ''),
                  c -> c >= '{ZH_HINT_RANGE[0]}' AND c <= '{ZH_HINT_RANGE[1]}')) /
                 CAST(greatest(length(text), 1) AS DOUBLE) > 0.2 THEN 'zh'
            WHEN len(list_filter(toks, x -> list_contains({_EN_STOP_SQL}, x))) /
                 CAST(len(toks) AS DOUBLE) >= 0.05 THEN 'en'
            ELSE 'other' END AS pred_lang,
       COUNT(*) AS n
FROM t GROUP BY 1, 2
"""


def _quality_score(spark, sf):
    from deepee_spark.operators.textstats import quality_features

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return quality_features(docs).drop("text")


_QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, text, {_WS_TOKENS_SQL} AS toks FROM documents),
m AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(list_reduce(list_prepend(0::BIGINT, list_transform(toks, x -> length(x)::BIGINT)),
              (a, b) -> a + b) AS BIGINT) AS total_chars,
         CAST(len(list_filter(toks, x -> list_contains({_EN_STOP_SQL}, x))) AS BIGINT) AS n_stop,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) /
           CAST(greatest(length(text), 1) AS DOUBLE) AS punct
  FROM t)
SELECT doc_id, n_tokens,
       ROUND(total_chars / CAST(n_tokens AS DOUBLE), 6) AS mean_token_len,
       ROUND(n_stop / CAST(n_tokens AS DOUBLE), 6) AS stopword_ratio,
       ROUND(punct, 6) AS punct_ratio,
       ROUND(0.01 * n_tokens + 0.1 * (total_chars / CAST(n_tokens AS DOUBLE))
             - 0.5 * (n_stop / CAST(n_tokens AS DOUBLE)) - 2.0 * punct, 6) AS quality
FROM m
"""


def _token_counts(spark, sf):
    from deepee_spark.operators.textstats import token_counts

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return token_counts(docs).drop("text")


_TOKEN_COUNTS_SQL = rf"""
SELECT doc_id, CAST(len({_WS_TOKENS_SQL}) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^\sa-zA-Z0-9]')) AS BIGINT) AS re_tokens
FROM documents
"""


def _doc_fingerprint(spark, sf):
    from deepee_spark.operators.textstats import fingerprint

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return fingerprint(docs).drop("text")


_FINGERPRINT_SQL = f"""
SELECT doc_id, {_HASH_SQL.format(col='text')} AS fingerprint FROM documents
"""


def _text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. 2021 A1) over
    the documents table: duplicate-token fraction and most-common-bigram
    fraction, with deterministic (count desc, bigram asc) mode
    tie-break so the DuckDB twin picks the same bigram. Distributed as
    explode -> partial-agged count -> per-doc top-1 window."""
    from deepee_spark.operators.textstats import repetition_features

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_features(docs)


_REPETITION_SQL = f"""
WITH t AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
base AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct, toks FROM t),
bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM t WHERE len(toks) >= 2),
cnt AS (
  SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
top AS (
  SELECT doc_id, bigram AS top_bigram, c AS top_bigram_n
  FROM (SELECT doc_id, bigram, c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, bigram ASC) AS rk
        FROM cnt) WHERE rk = 1)
SELECT b.doc_id, b.n_tokens,
       ROUND(1 - b.n_distinct / CAST(greatest(b.n_tokens, 1) AS DOUBLE), 6)
         AS dup_token_frac,
       t.top_bigram,
       CASE WHEN b.n_tokens < 2 THEN 0.0
            ELSE ROUND(COALESCE(t.top_bigram_n, 0)
                       / CAST(b.n_tokens - 1 AS DOUBLE), 6) END
         AS top_bigram_frac,
       (ROUND(1 - b.n_distinct / CAST(greatest(b.n_tokens, 1) AS DOUBLE), 6)
          <= 0.6
        AND (COALESCE(t.top_bigram_n, 0) < 2
             OR (CASE WHEN b.n_tokens < 2 THEN 0.0
                      ELSE ROUND(COALESCE(t.top_bigram_n, 0)
                                 / CAST(b.n_tokens - 1 AS DOUBLE), 6) END)
               <= 0.18)) AS keep
FROM base b LEFT JOIN top t USING (doc_id)
"""


def _synth_raw_urls(docs: DataFrame) -> DataFrame:
    """Deterministic crawl-style raw URLs, one per doc: 6 noise variants
    (mixed-case host, default ports, utm/ref tracking params, fragments,
    trailing slash) keyed by doc_id % 6, path key doc_id % 50 so
    canonical collisions exist."""
    k = (F.col("doc_id") % 50).cast("string")
    base = F.concat(F.lit("://"), F.col("source"), F.lit(".example.com"))
    v = F.col("doc_id") % 6
    raw = (
        F.when(
            v == 0,
            F.concat(F.lit("https://"), F.upper("source"),
                     F.lit(".Example.COM:443/p/"), k),
        )
        .when(v == 1, F.concat(F.lit("https"), base, F.lit("/p/"), k, F.lit("/")))
        .when(
            v == 2,
            F.concat(F.lit("https"), base, F.lit("/p/"), k,
                     F.lit("?utm_source=feed")),
        )
        .when(v == 3, F.concat(F.lit("https"), base, F.lit("/p/"), k, F.lit("#frag")))
        .when(
            v == 4,
            F.concat(F.lit("https"), base, F.lit("/p/"), k,
                     F.lit("?id=7&utm_medium=x")),
        )
        .otherwise(
            F.concat(F.lit("http"), base, F.lit(":80/p/"), k,
                     F.lit("?ref=tw&x=1"))
        )
    )
    return docs.select("doc_id", raw.alias("url"))


def _url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + per-host crawl stats over synthesized raw
    URLs (_synth_raw_urls); the Spark side canonicalizes with the real
    regexp chain (operators/urls.py), while the oracle derives each
    variant's expected canonical ANALYTICALLY — a regex bug on the
    Spark side cannot reproduce on the SQL side."""
    from deepee_spark.operators.urls import url_host_stats

    docs = _t(spark, sf_dir, "documents")
    return url_host_stats(_synth_raw_urls(docs).select("url"))


def _url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast LEFT ANTI blocklist filter over the same synthesized
    raw URLs: three blocked hosts (sources src3/src7/src11), surviving
    pages counted per host AFTER canonicalization. Oracle is analytic
    (NOT IN on lower(source)); the Spark side exercises host_of + the
    broadcast anti-join + the canonical regexp chain."""
    from deepee_spark.operators.urls import (canonical_url,
                                             filter_blocked_hosts, host_of)

    docs = _t(spark, sf_dir, "documents")
    blocked = spark.createDataFrame(
        [("src3.example.com",), ("src7.example.com",), ("src11.example.com",)],
        ["host"],
    )
    kept = filter_blocked_hosts(_synth_raw_urls(docs), blocked)
    return kept.groupBy(host_of(F.col("url")).alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.countDistinct(canonical_url(F.col("url"))).alias("n_canonical"),
    )


_URL_BLOCKLIST_SQL = """
WITH u AS (
  SELECT doc_id % 6 AS v, CAST(doc_id % 50 AS VARCHAR) AS k,
         lower(source) || '.example.com' AS host
  FROM documents
  WHERE lower(source) NOT IN ('src3', 'src7', 'src11')),
canon AS (
  SELECT host,
         CASE v
           WHEN 4 THEN 'https://' || host || '/p/' || k || '?id=7'
           WHEN 5 THEN 'http://' || host || '/p/' || k || '?x=1'
           ELSE 'https://' || host || '/p/' || k
         END AS canonical
  FROM u)
SELECT host, CAST(COUNT(*) AS BIGINT) AS n_pages,
       COUNT(DISTINCT canonical) AS n_canonical
FROM canon GROUP BY host
"""


_URL_HOST_SQL = """
WITH u AS (
  SELECT doc_id % 6 AS v, CAST(doc_id % 50 AS VARCHAR) AS k,
         lower(source) || '.example.com' AS host
  FROM documents),
canon AS (
  SELECT host,
         CASE v
           WHEN 4 THEN 'https://' || host || '/p/' || k || '?id=7'
           WHEN 5 THEN 'http://' || host || '/p/' || k || '?x=1'
           ELSE 'https://' || host || '/p/' || k
         END AS canonical
  FROM u)
SELECT host, CAST(COUNT(*) AS BIGINT) AS n_pages,
       COUNT(DISTINCT canonical) AS n_canonical,
       ROUND(1 - COUNT(DISTINCT canonical) / CAST(COUNT(*) AS DOUBLE), 6)
         AS dup_frac
FROM canon GROUP BY host
"""


def _pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII count + redaction over deterministic synthetic text: 4
    variants keyed by doc_id % 4 (email+ip / two emails / phone /
    clean). The Spark side runs the real regexp detectors
    (operators/pii.py); the oracle constructs counts and the redacted
    string ANALYTICALLY, so a detector bug cannot reproduce in SQL."""
    from deepee_spark.operators.pii import pii_stats

    docs = _t(spark, sf_dir, "documents")
    a = (F.col("doc_id") % 97).cast("string")
    b = (F.col("doc_id") % 7).cast("string")
    ip = F.concat(F.lit("10."), (F.col("doc_id") % 200).cast("string"),
                  F.lit(".3."), (F.col("doc_id") % 250).cast("string"))
    ph = F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")
    v = F.col("doc_id") % 4
    raw = (
        F.when(v == 0, F.concat(F.lit("Reach user"), a, F.lit("@mail"), b,
                                F.lit(".example.org or "), ip, F.lit(" now")))
        .when(v == 1, F.concat(F.lit("cc x"), a, F.lit("@ex.org and y"), a,
                               F.lit("@ex.org please")))
        .when(v == 2, F.concat(F.lit("call +1-555-"), ph, F.lit(" today")))
        .otherwise(F.concat(F.lit("no contact info here "),
                            F.col("doc_id").cast("string")))
    )
    out = pii_stats(docs.select("doc_id", raw.alias("text")))
    return out.select("doc_id", "n_emails", "n_ipv4", "n_phones",
                      "pii_total", "redacted")


_PII_SQL = """
WITH u AS (
  SELECT doc_id, doc_id % 4 AS v FROM documents)
SELECT doc_id,
       CAST(CASE v WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 0 END AS BIGINT)
         AS n_emails,
       CAST(CASE v WHEN 0 THEN 1 ELSE 0 END AS BIGINT) AS n_ipv4,
       CAST(CASE v WHEN 2 THEN 1 ELSE 0 END AS BIGINT) AS n_phones,
       CAST(CASE v WHEN 0 THEN 2 WHEN 1 THEN 2 WHEN 2 THEN 1 ELSE 0 END
            AS BIGINT) AS pii_total,
       CASE v
         WHEN 0 THEN 'Reach <EMAIL> or <IP> now'
         WHEN 1 THEN 'cc <EMAIL> and <EMAIL> please'
         WHEN 2 THEN 'call <PHONE> today'
         ELSE 'no contact info here ' || doc_id
       END AS redacted
FROM u
"""


def _paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style corpus-wide paragraph frequency filter over
    synthetic multi-paragraph docs: a per-source boilerplate block (on
    doc_id % 3 == 0 only, ~8 docs/source at sf0.01), a pair paragraph
    shared by exactly 2 docs (kept: sits ON the max_docs=2 threshold),
    a topic digest shared by ~n/10 docs (dropped), and the unique real
    text (kept). Oracle replays the same frequency logic on paragraph
    strings in SQL — the Spark side additionally exercises the
    xxhash64 narrow-key plan."""
    from deepee_spark.operators.paragraphs import paragraph_dedup

    docs = _t(spark, sf_dir, "documents")
    boiler = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit("subscribe to "), F.col("source"), F.lit(" newsletter")),
    )
    pair = F.concat(F.lit("pair block "),
                    F.floor(F.col("doc_id") / 2).cast("string"))
    topic = F.concat(F.lit("topic "), (F.col("doc_id") % 10).cast("string"),
                     F.lit(" weekly digest"))
    raw = F.concat_ws("\n\n", boiler, pair, topic, F.col("text"))
    out = paragraph_dedup(
        docs.select("doc_id", raw.alias("text")), max_docs=2
    )
    return out.select("doc_id", "text", "n_paras_kept")


_PARA_SQL = """
WITH src AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN 'subscribe to ' || source || ' newsletter' || chr(10) || chr(10)
              ELSE '' END
         || 'pair block ' || CAST(doc_id // 2 AS VARCHAR) || chr(10) || chr(10)
         || 'topic ' || CAST(doc_id % 10 AS VARCHAR) || ' weekly digest'
         || chr(10) || chr(10) || text AS raw
  FROM documents),
parts AS (
  SELECT doc_id, string_split(raw, chr(10) || chr(10)) AS ps FROM src),
paras AS (
  SELECT doc_id, unnest(range(len(ps))) AS pos, unnest(ps) AS para FROM parts),
np AS (SELECT * FROM paras WHERE para != ''),
freq AS (
  SELECT para, COUNT(DISTINCT doc_id) AS n_docs FROM np GROUP BY para)
SELECT doc_id,
       string_agg(p.para, chr(10) || chr(10) ORDER BY p.pos) AS text,
       CAST(COUNT(*) AS BIGINT) AS n_paras_kept
FROM np p JOIN freq f USING (para)
WHERE f.n_docs <= 2
GROUP BY doc_id
"""


def _substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022, keep-first): per-doc
    count/fraction of 8-token windows whose rolling hash occurs >= 2
    times corpus-wide (operators/substrings.substring_dup_stats).
    One shuffle on the window hash, integer fraction output."""
    from deepee_spark.operators.substrings import substring_dup_stats

    return substring_dup_stats(
        _t(spark, sf_dir, "documents"), "doc_id", "text", w=8
    ).select(
        F.col("id").alias("doc_id"), "n_windows", "n_dup_windows",
        "dup_frac_e6",
    )


_SUBSTR_OCC_SQL = f"""
tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
th AS (
  SELECT doc_id,
         list_transform(toks, t -> {_HASH_SQL.format(col='t')}) AS th,
         greatest(len(toks) - 7, 0) AS n_win
  FROM tok),
occ AS (
  SELECT doc_id, i AS pos,
         list_reduce(list_prepend(0::BIGINT, th[i:i+7]),
                     (a, b) -> (a * 131 + b) % 1000000007) AS whash
  FROM th, UNNEST(generate_series(1, n_win)) AS g(i)),
marked AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY whash) AS n_occ,
         ROW_NUMBER() OVER (PARTITION BY whash ORDER BY doc_id, pos) AS rk
  FROM occ),
rem AS (SELECT doc_id, pos FROM marked WHERE n_occ >= 2 AND rk > 1)
"""

def _winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (operators/substrings.winnow_fingerprints,
    MOSS SIGMOD'03): leftmost-min of every 4 consecutive 8-token window
    hashes — the position-aware partial-overlap sketch at 1/4 the index
    size of full window hashing. Doc-partitioned selection window; the
    oracle reuses the shared occurrence CTE plus a struct window MIN."""
    from deepee_spark.operators.substrings import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    out = winnow_fingerprints(docs, "doc_id", "text", w=8, g=4)
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("pos").cast("long").alias("pos"),
        F.col("fp").cast("long").alias("fp"),
    )


_WINNOW_SQL = f"""
WITH {_SUBSTR_OCC_SQL},
nw AS (SELECT doc_id, n_win FROM th),
sel AS (
  SELECT o.doc_id,
         MIN(struct_pack(whash := o.whash, pos := o.pos)) OVER (
           PARTITION BY o.doc_id ORDER BY o.pos
           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
         o.pos AS start_pos, nw.n_win
  FROM occ o JOIN nw ON nw.doc_id = o.doc_id)
SELECT DISTINCT doc_id,
       CAST((m).pos AS BIGINT) AS pos,
       CAST((m).whash AS BIGINT) AS fp
FROM sel WHERE start_pos <= n_win - 3
"""


_SUBSTR_DEDUP_SQL = f"""
WITH {_SUBSTR_OCC_SQL}
SELECT t.doc_id,
       CAST(t.n_win AS BIGINT) AS n_windows,
       CAST(COALESCE(r.c, 0) AS BIGINT) AS n_dup_windows,
       CAST(CASE WHEN t.n_win > 0
                 THEN (COALESCE(r.c, 0) * 1000000) // t.n_win
                 ELSE 0 END AS BIGINT) AS dup_frac_e6
FROM th t
LEFT JOIN (SELECT doc_id, COUNT(*) AS c FROM rem GROUP BY doc_id) r
  USING (doc_id)
"""


def _substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal token spans the keep-first exact-substring rewrite would
    cut: removable 8-token windows merged gaps-and-islands per doc
    (operators/substrings.substring_dup_spans)."""
    from deepee_spark.operators.substrings import substring_dup_spans

    return substring_dup_spans(
        _t(spark, sf_dir, "documents"), "doc_id", "text", w=8
    ).select(F.col("id").alias("doc_id"), "start_pos", "end_pos")


_SUBSTR_SPANS_SQL = f"""
WITH {_SUBSTR_OCC_SQL},
lagged AS (
  SELECT doc_id, pos, pos + 7 AS e,
         LAG(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_e
  FROM rem),
isl AS (
  SELECT doc_id, pos, e,
         SUM(CASE WHEN pos > COALESCE(prev_e, -1) + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM lagged)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS start_pos,
       CAST(MAX(e) AS BIGINT) AS end_pos
FROM isl GROUP BY doc_id, island
"""


def _doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus document frequency + IDF per token (min_df=2):
    array_distinct before the explode, partial-agged count, corpus size
    via broadcast cross join (operators/textstats.doc_frequency)."""
    from deepee_spark.operators.textstats import doc_frequency

    return doc_frequency(
        _t(spark, sf_dir, "documents").select("text"), min_df=2
    )


_DOC_FREQ_SQL = f"""
WITH t AS (
  SELECT list_distinct({_TOKENS_SQL}) AS toks FROM documents),
d AS (
  SELECT unnest(toks) AS token FROM t),
n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents),
c AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM d GROUP BY token
  HAVING COUNT(*) >= 2)
SELECT token, df, ROUND(ln(n.n_docs / df), 6) AS idf FROM c, n
"""


def _a10_loss_reductions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 loss reductions: stable softmax cross-entropy per row, then
    mean/sum — logits synthesized deterministically from doc_id so the
    oracle replays the exact arithmetic (operators/metrics.
    loss_reductions; reference train loops reduce CE the same way)."""
    from deepee_spark.operators.metrics import loss_reductions

    d = F.col("doc_id")
    scored = _t(spark, sf_dir, "documents").select(
        F.array(
            (d * 7 % 11) / 10.0,
            (d * 13 % 17) / 10.0,
            (d * 3 % 23) / 100.0,
        ).alias("logits"),
        (d % 3).alias("label"),
    )
    return loss_reductions(scored)


_A10_SQL = """
WITH l AS (
  SELECT doc_id % 3 AS label,
         [((doc_id*7)%11)/10.0, ((doc_id*13)%17)/10.0,
          ((doc_id*3)%23)/100.0] AS lg
  FROM documents),
m AS (SELECT label, lg, greatest(lg[1], lg[2], lg[3]) AS mx FROM l),
ce AS (
  SELECT ln(exp(lg[1]-mx) + exp(lg[2]-mx) + exp(lg[3]-mx)) + mx
         - lg[CAST(label AS INT) + 1] AS c
  FROM m)
SELECT CAST(COUNT(*) AS BIGINT) AS n_examples,
       ROUND(AVG(c), 6) AS mean_loss, ROUND(SUM(c), 6) AS sum_loss
FROM ce
"""


def _m9_selector_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 selector weighting: softmax over the whole example set of
    score**alpha (AD-DMBERT train.py:134-136), scores synthesized
    deterministically in (0, 1] from doc_id; two broadcast aggregates,
    no window (operators/selector.selector_weights)."""
    from deepee_spark.operators.selector import selector_weights

    scored = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (((F.col("doc_id") * 7 % 13) + 1) / 13.0).alias("score"),
    )
    return selector_weights(scored, alpha=2.0).select(
        "doc_id", "score", "weight"
    )


_M9_SQL = """
WITH s AS (
  SELECT doc_id, ((doc_id * 7 % 13) + 1) / 13.0 AS score FROM documents),
t AS (SELECT doc_id, score, pow(score, 2.0) AS tt FROM s),
m AS (SELECT MAX(tt) AS mx FROM t),
e AS (SELECT doc_id, score, exp(tt - mx) AS ee FROM t, m),
z AS (SELECT SUM(ee) AS zz FROM e)
SELECT doc_id, score, ROUND(ee / zz, 9) AS weight FROM e, z
"""


def _w6_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 epoch shuffle: deterministic pseudo-random epoch position +
    shard per doc, keyed by (doc_id, seed) through the diffused rolling
    hash — the scalable shuffled-shards form (no global sort); write
    path is repartition(shard) + sortWithinPartitions(epoch_pos)
    (operators/shuffle.epoch_shuffle)."""
    from deepee_spark.operators.shuffle import epoch_shuffle

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return epoch_shuffle(docs, "doc_id", seed=7, n_shards=8)


_W6_SQL = f"""
SELECT doc_id,
       ({_HASH_SQL.format(col="CAST(doc_id AS VARCHAR) || ':7'")})
         * 2654435761 % 1000000007 AS epoch_pos,
       ({_HASH_SQL.format(col="CAST(doc_id AS VARCHAR) || ':7'")})
         * 2654435761 % 1000000007 % 8 AS shard
FROM documents
"""


def _curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel (plans/curation.py): quality screen ->
    Gopher repetition rules -> exact dedup -> stratified sample, with
    per-stage survivor counts. The oracle replays every stage
    cumulatively in SQL (dedup survivors grouped on the text itself;
    the Spark side groups on md5 — identical absent a collision)."""
    from deepee_spark.plans.curation import curation_funnel

    docs = _t(spark, sf_dir, "documents")
    rates = spark.createDataFrame(
        [("en", 500), ("zh", 300)], ["stratum", "permille"]
    )
    return curation_funnel(docs, rates, quality_min=0.9,
                           default_permille=200)


def _unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM quality proxy: per-doc mean ln p(token)
    under the corpus's own unigram distribution
    (operators/textstats.unigram_logprob)."""
    from deepee_spark.operators.textstats import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"))


_FUNNEL_SQL = f"""
WITH qual AS (
  SELECT d.* FROM documents d
  JOIN ({_QUALITY_SQL}) q USING (doc_id)
  WHERE q.quality >= 0.9),
rep AS (
  SELECT q2.* FROM qual q2
  JOIN ({_REPETITION_SQL}) r USING (doc_id)
  WHERE r.keep),
ded AS (
  SELECT r2.* FROM rep r2
  JOIN (SELECT MIN(doc_id) AS doc_id FROM rep GROUP BY text) s
    USING (doc_id)),
samp AS (
  SELECT * FROM ded
  WHERE ({_HASH_SQL.format(col='CAST(doc_id AS VARCHAR)')})
          * 2654435761 % 1000000007 % 1000
        < (CASE lang WHEN 'en' THEN 500 WHEN 'zh' THEN 300 ELSE 200 END))
SELECT 'input' AS stage, CAST(0 AS BIGINT) AS stage_idx,
       (SELECT COUNT(*) FROM documents)::BIGINT AS n_rows
UNION ALL SELECT 'quality', 1, (SELECT COUNT(*) FROM qual)
UNION ALL SELECT 'repetition', 2, (SELECT COUNT(*) FROM rep)
UNION ALL SELECT 'exact_dedup', 3, (SELECT COUNT(*) FROM ded)
UNION ALL SELECT 'sample', 4, (SELECT COUNT(*) FROM samp)
"""


_UNIGRAM_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents),
lm AS (
  SELECT token, COUNT(*)::DOUBLE AS cnt FROM tok GROUP BY token),
tot AS (SELECT SUM(cnt) AS total FROM lm),
lp AS (SELECT token, ln(cnt / total) AS logp FROM lm, tot)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(AVG(logp), 6) AS mean_logp
FROM tok JOIN lp USING (token)
GROUP BY doc_id
"""


def _stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sampling: en at 200 permille, zh at
    500, everything else at the 100 default. A pure broadcast-join +
    filter — zero shuffle on the corpus side; the bucket is the shared
    rolling hash of the doc_id string, so the oracle replays the exact
    decision per row (operators/sampling.stratified_sample)."""
    from deepee_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    rates = spark.createDataFrame(
        [("en", 200), ("zh", 500)], ["stratum", "permille"]
    )
    out = stratified_sample(docs, "doc_id", "lang", rates,
                            default_permille=100)
    return out.select("doc_id", "lang", "sample_bucket")


_STRAT_SAMPLE_SQL = f"""
WITH b AS (
  SELECT doc_id, lang,
         ({_HASH_SQL.format(col='CAST(doc_id AS VARCHAR)')})
           * 2654435761 % 1000000007 % 1000 AS sample_bucket
  FROM documents)
SELECT doc_id, lang, sample_bucket
FROM b
WHERE sample_bucket < (CASE lang WHEN 'en' THEN 200 WHEN 'zh' THEN 500
                       ELSE 100 END)
"""


DECON_N = 8  # benchmark-overlap gram width (GPT-3/Llama data-card range)


def _kg_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture allocation + realized sample (operators/sampling.
    mixture_rates -> stratified_sample): a 40%-of-corpus row budget
    split across sources proportional to n_chars quality mass, then
    sampled with the shared deterministic hash — per source the
    allocation inputs, the integer permille, and the realized count,
    all engine-replayable."""
    from deepee_spark.operators.sampling import (
        mixture_rates,
        stratified_sample,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    budget = docs.count() * 2 // 5
    rates = mixture_rates(docs, "source", "n_chars", budget)
    sampled = (
        stratified_sample(
            docs, "doc_id", "source", rates.select("stratum", "permille")
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sampled"))
    )
    return (
        rates.join(
            sampled, rates["stratum"] == sampled["source"], "left"
        )
        .select(
            "stratum",
            "n_rows",
            "mass",
            "permille",
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias(
                "n_sampled"
            ),
        )
    )


_KG_MIXTURE_SQL = f"""
WITH per AS (
  SELECT source AS stratum, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(n_chars) AS BIGINT) AS mass
  FROM documents GROUP BY source),
tot AS (
  SELECT SUM(mass) AS total,
         (SELECT COUNT(*) * 2 // 5 FROM documents) AS budget
  FROM per),
rates AS (
  -- HUGEINT product: budget * mass passes 2^63 at the corpus scale
  -- the Spark side guards with DECIMAL(38,0)
  SELECT stratum, n_rows, mass,
         CAST(LEAST(1000,
                    (1000 * ((CAST(tot.budget AS HUGEINT) * mass)
                             // tot.total))
                    // n_rows) AS BIGINT) AS permille
  FROM per, tot),
samp AS (
  SELECT d.source AS stratum, CAST(COUNT(*) AS BIGINT) AS n_sampled
  FROM documents d JOIN rates r ON r.stratum IS NOT DISTINCT FROM d.source
  WHERE ({{h}}) * 2654435761 % 1000000007 % 1000 < r.permille
  GROUP BY d.source)
SELECT r.stratum, r.n_rows, r.mass, r.permille,
       CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled
FROM rates r LEFT JOIN samp s USING (stratum)
""".format(h=_HASH_SQL.format(col="CAST(doc_id AS VARCHAR)"))


def _decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing >=1 token 8-gram
    with the eval set (here the deterministic doc_id%97==3 slice of the
    same table — suites are tiny, so the distinct eval grams broadcast
    and the corpus side never shuffles; only matched rows reach the
    per-doc aggregate). operators/contamination.ngram_contamination."""
    from deepee_spark.operators.contamination import ngram_contamination

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    eval_docs = docs.filter(F.col("doc_id") % 97 == 3)
    # the crawl side is the WHOLE table: verbatim benchmark copies in
    # the crawl are the main thing this pass exists to catch, so the
    # eval slice flags itself (plus any organic overlap)
    return ngram_contamination(docs, eval_docs, "doc_id", "text",
                               n=DECON_N)


_DECON_GRAMS = f"""
  SELECT doc_id, array_to_string(ts[i : i + {DECON_N - 1}], ' ') AS gram
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t != '') AS ts
        FROM documents) t,
       UNNEST(range(1, len(ts) - {DECON_N} + 2)) AS u(i)
"""

_DECON_SQL = f"""
WITH g AS ({_DECON_GRAMS}),
e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 3)
SELECT g.doc_id, CAST(COUNT(DISTINCT g.gram) AS BIGINT) AS n_hits
FROM g JOIN e USING (gram)
GROUP BY g.doc_id
"""


def _stream_first_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState dedup operator under a HARD oracle:
    documents stream in as a file source, the stateful operator emits
    first-occurrence rows per (source, text-hash), and the result is
    projected to the ORDER-STABLE set (key, fingerprint) — arrival
    order decides which url wins, but the deduped set itself is
    deterministic, so DuckDB can replay it as SELECT DISTINCT. The
    fingerprint is the shared engine-replicable rolling hash
    (operators/dedup.str_hash ↔ _HASH_SQL)."""
    import os
    import tempfile

    from pyspark.sql.streaming.state import GroupStateTimeout

    from deepee_spark.streaming.stateful import (
        OUT_SCHEMA,
        STATE_SCHEMA,
        _dedup_group,
    )

    docs_path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(docs_path).schema
    # the file source wants a DIRECTORY; stage the (read-only) table
    # file into one via hardlink, copy on cross-device
    src_dir = tempfile.mkdtemp(prefix="stream_first_crawl_src_")
    staged = os.path.join(src_dir, "documents.parquet")
    try:
        os.link(docs_path, staged)
    except OSError:
        import shutil

        shutil.copy2(docs_path, staged)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    keyed = src.select(
        F.col("source").alias("key"),
        str_hash(F.col("text")).alias("fingerprint"),
        F.col("doc_id").cast("string").alias("url"),
    )
    dedup = keyed.groupBy("key").applyInPandasWithState(
        _dedup_group,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out_dir = tempfile.mkdtemp(prefix="stream_first_crawl_")
    q = (
        dedup.writeStream.format("parquet")
        .option("path", out_dir)
        .option(
            "checkpointLocation",
            tempfile.mkdtemp(prefix="stream_first_crawl_ck_"),
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.schema(OUT_SCHEMA)
        .parquet(out_dir)
        .select("key", F.col("fingerprint").cast("long").alias("fingerprint"))
        .distinct()
    )


_STREAM_FIRST_SQL = f"""
SELECT DISTINCT source AS key,
       CAST({_HASH_SQL.format(col='text')} AS BIGINT) AS fingerprint
FROM documents
"""


def _event_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triples-shaped projection of the events table (user --event_type-->
    item), so the pipeline's graph materialization operators get a hard
    relational oracle on driver data."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast("string").alias("url"),
        F.concat(F.lit("user#"), F.col("user_id")).alias("subj"),
        F.col("event_type").alias("pred"),
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("obj"),
        F.col("value").alias("confidence"),
        F.to_date("ts").alias("day"),
    )


_EVENT_TRIPLES_SQL = """
  SELECT CAST(event_id AS VARCHAR) AS url,
         'user#' || CAST(user_id AS VARCHAR) AS subj,
         event_type AS pred,
         'item#' || json_extract_string(props, '$.k') AS obj,
         value AS confidence,
         CAST(ts AS DATE) AS day
  FROM events
"""


def _kg_node_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline graph NODE table (plans/pipeline.nodes_from) over the
    event-triples projection: one shuffle, map-side partials, per-node
    day ranges."""
    from deepee_spark.plans.pipeline import nodes_from

    out = nodes_from(_event_triples(spark, sf_dir))
    # day columns go out as strings: the driver canonicalizer is
    # dtype-sensitive and DuckDB DATEs surface as pandas datetimes
    return out.withColumn(
        "first_day", F.col("first_day").cast("string")
    ).withColumn("last_day", F.col("last_day").cast("string"))


_KG_NODES_SQL = f"""
WITH t AS ({_EVENT_TRIPLES_SQL}),
sides AS (
  SELECT subj AS node_id, 'event' AS kind,
         string_split(subj, '#')[1] AS label, day FROM t
  UNION ALL
  SELECT obj AS node_id, 'entity' AS kind, obj AS label, day FROM t)
SELECT node_id, kind, label, CAST(COUNT(*) AS BIGINT) AS n_triples,
       CAST(MIN(day) AS VARCHAR) AS first_day,
       CAST(MAX(day) AS VARCHAR) AS last_day
FROM sides GROUP BY node_id, kind, label
"""


def _kg_edge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline graph EDGE table (plans/pipeline.edges_from) over the
    event-triples projection: support weight, distinct sources, best
    confidence, day range, pred_type partition column."""
    from deepee_spark.plans.pipeline import edges_from

    out = edges_from(_event_triples(spark, sf_dir))
    return out.withColumn(
        "first_day", F.col("first_day").cast("string")
    ).withColumn("last_day", F.col("last_day").cast("string"))


_KG_EDGES_SQL = f"""
WITH t AS ({_EVENT_TRIPLES_SQL})
SELECT subj, pred, obj,
       CAST(COUNT(*) AS BIGINT) AS weight,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_urls,
       MAX(confidence) AS confidence,
       CAST(MIN(day) AS VARCHAR) AS first_day,
       CAST(MAX(day) AS VARCHAR) AS last_day,
       string_split(pred, ':')[1] AS pred_type
FROM t GROUP BY subj, pred, obj
"""


# directed bipartite KG edge projection used by the graph-analytics ops:
# user#<id> --(any event)--> item#<k>
_KG_EDGE_PROJ_SQL = """
SELECT DISTINCT 'user#' || CAST(user_id AS VARCHAR) AS src,
       'item#' || json_extract_string(props, '$.k') AS dst
FROM events
"""


def _kg_edge_proj(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit("user#"), F.col("user_id")).alias("src"),
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("dst"),
    ).distinct()


def _kg_co_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-neighbor entity similarity (operators/graph.co_neighbors):
    pairs of user nodes that interacted with the same item, with the
    shared-item count. Hub items are fanout-capped BEFORE the self-join
    at 10^12-triple scale; uncapped here so the oracle is exact.

    The quadratic stage runs on NARROW keys — long user ids and
    xxhash64'd item keys — and the display labels are concatenated onto
    the 24x-smaller aggregated output, not the pair explosion: measured
    2.4x faster than self-joining the label strings at sf0.1 (26.6M
    intermediate pairs). Pair canonicalization is therefore numeric
    (a < b on the int id), mirrored in the oracle."""
    from deepee_spark.operators.graph import co_neighbors

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        F.col("user_id").cast("long").alias("src"),
        F.xxhash64(F.get_json_object("props", "$.k")).alias("dst"),
    )
    return co_neighbors(e).select(
        F.concat(F.lit("user#"), F.col("a")).alias("a"),
        F.concat(F.lit("user#"), F.col("b")).alias("b"),
        "n_shared",
    )


_KG_CO_NEIGHBORS_SQL = """
WITH e AS (
  SELECT DISTINCT user_id AS u, json_extract_string(props, '$.k') AS i
  FROM events)
SELECT 'user#' || CAST(a.u AS VARCHAR) AS a,
       'user#' || CAST(b.u AS VARCHAR) AS b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM e a JOIN e b ON a.i = b.i AND a.u < b.u
GROUP BY a.u, b.u
"""


def _kg_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity (operators/graph.neighbor_jaccard)
    between user nodes, as an exact integer fraction (jaccard_e6 =
    (1e6*|∩|) div |∪|) — no float division to drift between engines.
    Same narrow-key discipline as kg_co_neighbors; top-1000 by
    (jaccard_e6, a, b) keeps the driver payload bounded while still
    exercising the full quadratic stage."""
    from deepee_spark.operators.graph import neighbor_jaccard

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        F.col("user_id").cast("long").alias("src"),
        F.xxhash64(F.get_json_object("props", "$.k")).alias("dst"),
    )
    out = neighbor_jaccard(e).select(
        F.concat(F.lit("user#"), F.col("a")).alias("a"),
        F.concat(F.lit("user#"), F.col("b")).alias("b"),
        "n_shared",
        "deg_a",
        "deg_b",
        "jaccard_e6",
    )
    return out.orderBy(
        F.desc("jaccard_e6"), "a", "b"
    ).limit(1000)


_KG_NEIGHBOR_JACCARD_SQL = """
WITH e AS (
  SELECT DISTINCT user_id AS u, json_extract_string(props, '$.k') AS i
  FROM events),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY u),
pairs AS (
  SELECT a.u AS ua, b.u AS ub, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM e a JOIN e b ON a.i = b.i AND a.u < b.u
  GROUP BY a.u, b.u)
SELECT 'user#' || CAST(ua AS VARCHAR) AS a,
       'user#' || CAST(ub AS VARCHAR) AS b,
       n_shared, da.deg AS deg_a, db.deg AS deg_b,
       (1000000 * n_shared) // (da.deg + db.deg - n_shared) AS jaccard_e6
FROM pairs
JOIN deg da ON da.u = ua
JOIN deg db ON db.u = ub
ORDER BY jaccard_e6 DESC,
         'user#' || CAST(ua AS VARCHAR),
         'user#' || CAST(ub AS VARCHAR)
LIMIT 1000
"""


def _kg_functional_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-predicate conflict detection: for predicates declared
    single-valued ('signup' here — one signup item per user), surface
    subjects asserting more than one distinct object. The consistency
    check that runs right after latest-fact merge in a KG build; one
    shuffle on (subj, pred) with a two-phase distinct count."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    )
    t = ev.select(
        F.concat(F.lit("user#"), F.col("user_id")).alias("subj"),
        F.col("event_type").alias("pred"),
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("obj"),
    )
    return (
        t.groupBy("subj", "pred")
        .agg(F.countDistinct("obj").cast("long").alias("n_obj"))
        .filter(F.col("n_obj") > 1)
    )


_KG_FUNCTIONAL_CONFLICTS_SQL = """
SELECT 'user#' || CAST(user_id AS VARCHAR) AS subj,
       event_type AS pred,
       CAST(COUNT(DISTINCT 'item#' || json_extract_string(props, '$.k'))
            AS BIGINT) AS n_obj
FROM events WHERE event_type = 'signup'
GROUP BY user_id, event_type
HAVING COUNT(DISTINCT json_extract_string(props, '$.k')) > 1
"""


_FUSION_CLAIMS_SQL = """
SELECT source, fact, value FROM (
  SELECT 'u#' || CAST(user_id AS VARCHAR) AS source,
         'item#' || json_extract_string(props, '$.k') AS fact,
         event_type AS value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id, json_extract_string(props, '$.k')
           ORDER BY ts, event_id) AS rn
  FROM events) WHERE rn = 1
"""


def _fusion_claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared claim synthesis for the fusion queries: each user is a
    source asserting, per item, the value of its EARLIEST event there
    (one claim per source per fact — the truth-discovery input shape).
    Earliest = min (ts, event_id), a per-(source, fact) window."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("u#"), F.col("user_id")).alias("source"),
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("fact"),
        F.col("event_type").alias("value"),
        "ts",
        "event_id",
    )
    w = W.partitionBy("source", "fact").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", "fact", "value")
    )


def _kg_fact_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth discovery (operators/fusion.fuse_claims): 3 rounds of
    integer source-reliability voting over the per-user earliest-event
    claims; per (fact, value) the micro-unit confidence and the winner
    flag. The fusion stage a multi-source KG build runs after
    canonicalization; the DuckDB twin is the same recurrence unrolled
    (reference emits per-extractor outputs only — fusion is the
    web-scale composition layer on top; cf. SURVEY §2 A2 bag argmax
    for the single-source analogue)."""
    from deepee_spark.operators.fusion import fuse_claims

    return fuse_claims(_fusion_claims(spark, sf_dir), iters=3)


def _kg_source_trust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dual of kg_fact_fusion: per-source reliability after the
    same 3 rounds (operators/fusion.source_trust)."""
    from deepee_spark.operators.fusion import source_trust

    return source_trust(_fusion_claims(spark, sf_dir), iters=3)


def _kg_fact_fusion_sql() -> str:
    from deepee_spark.operators.fusion import fusion_oracle_sql

    return fusion_oracle_sql(_FUSION_CLAIMS_SQL, iters=3)


def _kg_source_trust_sql() -> str:
    from deepee_spark.operators.fusion import trust_oracle_sql

    return trust_oracle_sql(_FUSION_CLAIMS_SQL, iters=3)


def _kg_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (operators/sketches.kmv_distinct): per
    predicate, the k-minimum-values sketch of the distinct subject set
    and its integer cardinality estimate. The sketch state (kth_hash)
    and the estimate are pure BIGINT over the shared diffused rolling
    hash, so the DuckDB twin reproduces them bit-for-bit — the one
    distinct-count sketch with a hard cross-engine oracle (HLL isn't)."""
    from deepee_spark.operators.sketches import kmv_distinct

    ev = _t(spark, sf_dir, "events")
    t = ev.select(
        F.col("event_type").alias("pred"),
        F.concat(F.lit("user#"), F.col("user_id")).alias("subj"),
    )
    return kmv_distinct(t, ["pred"], "subj", k=64)


_KG_DISTINCT_SKETCH_SQL = f"""
WITH hashed AS (SELECT DISTINCT event_type AS pred,
       ({_HASH_SQL.format(col="'user#' || CAST(user_id AS VARCHAR)")}
        * 2654435761) % 1000000007 AS h
FROM events),
ranked AS (
  SELECT pred, h,
         ROW_NUMBER() OVER (PARTITION BY pred ORDER BY h) AS rn
  FROM hashed)
SELECT pred,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(MAX(h) AS BIGINT) AS kth_hash,
       CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
                 ELSE (63 * CAST(1000000007 AS BIGINT)) // MAX(h)
            END AS BIGINT) AS distinct_est
FROM ranked WHERE rn <= 64
GROUP BY pred
"""


def _kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (operators/graph.triangle_count, degree-
    oriented wedge enumeration) over the co-purchase projection: items
    purchased together by >= 2 distinct users form an edge."""
    from deepee_spark.operators.graph import co_neighbors, triangle_count

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    item_user = ev.select(
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("src"),
        F.concat(F.lit("user#"), F.col("user_id")).alias("dst"),
    )
    copurchase = (
        co_neighbors(item_user)
        .filter(F.col("n_shared") >= 2)
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    return triangle_count(copurchase)


_KG_TRIANGLES_SQL = """
WITH iu AS (
  SELECT DISTINCT 'item#' || json_extract_string(props, '$.k') AS item,
         'user#' || CAST(user_id AS VARCHAR) AS u
  FROM events WHERE event_type = 'purchase'),
pairs AS (
  SELECT a.item AS lo, b.item AS hi
  FROM iu a JOIN iu b ON a.u = b.u AND a.item < b.item
  GROUP BY a.item, b.item HAVING COUNT(*) >= 2),
tri AS (
  SELECT p1.lo AS a, p1.hi AS b, p2.hi AS c
  FROM pairs p1
  JOIN pairs p2 ON p2.lo = p1.hi
  JOIN pairs p3 ON p3.lo = p1.lo AND p3.hi = p2.hi),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY node
"""


def _kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank in exact integer micro-units (operators/
    graph.pagerank_int) over the bipartite KG edges. Integer arithmetic
    makes the result independent of shuffle order, so the unrolled-CTE
    DuckDB oracle hash-matches bit-for-bit — a float PageRank could
    never get a hard cross-engine oracle."""
    from deepee_spark.operators.graph import pagerank_int

    return pagerank_int(_kg_edge_proj(spark, sf_dir), iters=3)


def _kg_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration HITS hubs/authorities (operators/graph.hits_int)
    over the bipartite user→item KG edges — users score as hubs, items
    as authorities, the web-native centrality pair next to
    kg_pagerank. Max-normalized exact-BIGINT recurrence, so the
    unrolled-CTE DuckDB oracle hash-matches bit-for-bit."""
    from deepee_spark.operators.graph import hits_int

    return hits_int(_kg_edge_proj(spark, sf_dir), iters=3)


def _kg_wl_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weisfeiler-Lehman structural fingerprints (operators/graph.
    wl_fingerprints) over the user→item KG edges: nodes with identical
    2-hop neighborhood structure share a fingerprint — the mirror-site
    / link-farm-template grouping key. md5 relabeling over canonically
    sorted neighbor multisets, so the DuckDB twin hash-matches."""
    from deepee_spark.operators.graph import wl_fingerprints

    return wl_fingerprints(_kg_edge_proj(spark, sf_dir), iters=2)


def _kg_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall harmonic centrality (operators/graph.hyperball_harmonic,
    Boldi & Vigna 2013) over the REVERSED user→item edges — incoming-
    distance harmonic, the web-scale centrality estimator: per-node HLL
    ball counters max-merged along edges, increments div-t accumulated
    in exact BIGINT, so the unrolled DuckDB twin hash-matches."""
    from deepee_spark.operators.graph import hyperball_harmonic

    rev = _kg_edge_proj(spark, sf_dir).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return hyperball_harmonic(rev, radius=3)


_KG_EDGE_PROJ_REV_SQL = """
SELECT DISTINCT 'item#' || json_extract_string(props, '$.k') AS src,
       'user#' || CAST(user_id AS VARCHAR) AS dst
FROM events
"""


def _kg_transe_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TransE link prediction (operators/kgembed, Bordes et al. 2013):
    for every (user, event-type) query, the 3 candidate items with the
    lowest L1 embedding energy e_s + e_p - e_o — the embedding-based
    sibling of kg_link_prediction's RA index. Embeddings are
    deterministic constructed integers (frozen-weights rule), so the
    energies and ranking hash-match the DuckDB twin exactly."""
    from deepee_spark.operators.kgembed import transe_rank_objects

    ev = _t(spark, sf_dir, "events")
    sp = ev.select(
        F.concat(F.lit("user#"), F.col("user_id")).alias("subj"),
        F.concat(F.lit("rel:"), F.col("event_type")).alias("pred"),
    )
    cand = ev.select(
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("obj")
    )
    return transe_rank_objects(sp, cand, top_k=3)


def _kg_neighborhood_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph neighborhood function N(t) (operators/graph.
    hyperball_neighborhood — ANF/HyperBall lineage): corpus-wide
    reachable-set mass per radius over the user→item edges; the
    effective-diameter / average-distance statistic every web-graph
    measurement starts from. Exact-BIGINT per-node estimates, summed —
    hash-matches the unrolled twin."""
    from deepee_spark.operators.graph import hyperball_neighborhood

    return hyperball_neighborhood(_kg_edge_proj(spark, sf_dir), radius=3)


_KG_TRANSE_SP_SQL = """
SELECT 'user#' || CAST(user_id AS VARCHAR) AS subj,
       'rel:' || event_type AS pred
FROM events
"""

_KG_TRANSE_CAND_SQL = """
SELECT 'item#' || json_extract_string(props, '$.k') AS obj FROM events
"""


def _kg_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-weighted PageRank (operators/graph.pagerank_int_weighted):
    rank mass splits proportionally to observation counts — the natural
    rank over the rollup's weighted edges. Exact BIGINT recurrence,
    unrolled-CTE oracle."""
    from deepee_spark.operators.graph import pagerank_int_weighted

    ev = _t(spark, sf_dir, "events")
    e = (
        ev.select(
            F.concat(F.lit("user#"), F.col("user_id")).alias("src"),
            F.concat(
                F.lit("item#"), F.get_json_object("props", "$.k")
            ).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
    )
    return pagerank_int_weighted(e, iters=3)


_KG_WEDGES_SQL = """
SELECT 'user#' || CAST(user_id AS VARCHAR) AS src,
       'item#' || json_extract_string(props, '$.k') AS dst,
       CAST(COUNT(*) AS BIGINT) AS weight
FROM events GROUP BY 1, 2
"""


def _kg_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS to 3 hops (operators/graph.bfs_distances) over
    the undirected expansion of the KG edges, seeded at every 50th user
    node. Integer hop distances -> exact oracle."""
    from deepee_spark.operators.graph import bfs_distances

    ev = _t(spark, sf_dir, "events")
    seeds = (
        ev.filter(F.col("user_id") % 50 == 0)
        .select(F.concat(F.lit("user#"), F.col("user_id")).alias("node"))
        .distinct()
    )
    return bfs_distances(_kg_edge_proj(spark, sf_dir), seeds, max_hops=3)


_KG_BFS_SEEDS_SQL = """
SELECT DISTINCT 'user#' || CAST(user_id AS VARCHAR) AS node
FROM events WHERE user_id % 50 = 0
"""


def _corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted bottom-k sampling (operators/sampling.
    weighted_bottom_k): 20 documents per language, inclusion odds
    proportional to n_chars — the quality-biased training-subset
    draw, reproducible across engines because priority is the integer
    (1e9*hash) div weight over the shared rolling hash."""
    from deepee_spark.operators.sampling import weighted_bottom_k

    docs = _t(spark, sf_dir, "documents").select(
        "lang",
        F.concat(F.lit("doc#"), F.col("doc_id")).alias("key"),
        F.col("n_chars").cast("long").alias("wt"),
    )
    return weighted_bottom_k(
        docs, "key", "wt", k=20, strata_cols=["lang"]
    ).select("lang", "key", "wt", "priority", "sample_rank")


_CORPUS_WEIGHTED_SAMPLE_SQL = f"""
WITH pos AS (
  SELECT lang, 'doc#' || CAST(doc_id AS VARCHAR) AS key,
         CAST(n_chars AS BIGINT) AS wt,
         CAST((1000000000 *
               ((({_HASH_SQL.format(col="'doc#' || CAST(doc_id AS VARCHAR)")})
                 * 2654435761) % 1000000007)) // n_chars AS BIGINT)
           AS priority
  FROM documents WHERE n_chars > 0),
r AS (
  SELECT lang, key, wt, priority,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY priority, key)
              AS BIGINT) AS sample_rank
  FROM pos)
SELECT lang, key, wt, priority, sample_rank FROM r WHERE sample_rank <= 20
"""


def _kg_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded weighted shortest paths (operators/graph.sssp_hops)
    over the directed interaction graph (purchase user->item, view
    item->user), edge weight = interaction count, from every 50th
    user. Bellman-Ford frontier rounds; the shared hops=4 cap makes
    the pre-/post-convergence state identical in both engines."""
    from deepee_spark.operators.graph import sssp_hops

    ev = _t(spark, sf_dir, "events")
    fwd = ev.filter(F.col("event_type") == "purchase").select(
        F.concat(F.lit("user#"), F.col("user_id")).alias("src"),
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("dst"),
    )
    back = ev.filter(F.col("event_type") == "view").select(
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("src"),
        F.concat(F.lit("user#"), F.col("user_id")).alias("dst"),
    )
    edges = (
        fwd.unionByName(back)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    seeds = (
        ev.filter(F.col("user_id") % 50 == 0)
        .select(F.concat(F.lit("user#"), F.col("user_id")).alias("node"))
        .distinct()
    )
    return sssp_hops(edges, seeds, hops=4)


def _kg_sssp_sql() -> str:
    from deepee_spark.operators.graph import sssp_oracle_sql

    return sssp_oracle_sql(
        "SELECT src, dst, COUNT(*) AS w FROM ("
        " SELECT 'user#' || CAST(user_id AS VARCHAR) AS src,"
        " 'item#' || json_extract_string(props, '$.k') AS dst"
        " FROM events WHERE event_type = 'purchase'"
        " UNION ALL"
        " SELECT 'item#' || json_extract_string(props, '$.k') AS src,"
        " 'user#' || CAST(user_id AS VARCHAR) AS dst"
        " FROM events WHERE event_type = 'view') GROUP BY src, dst",
        "SELECT DISTINCT 'user#' || CAST(user_id AS VARCHAR) AS node"
        " FROM events WHERE user_id % 50 = 0",
        hops=4,
    )


def _kg_politeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl politeness schedule (operators/urls.
    politeness_schedule): fetch_at_i = max(ts_i, fetch_at_{i-1} + 5s)
    per host, computed as a running-max window unroll — one exchange
    on host, no recursion, exact BIGINT seconds. The oracle steps the
    defining recurrence itself through a recursive CTE (a different
    algorithm), so an unroll bug cannot reproduce on the SQL side."""
    from deepee_spark.operators.urls import politeness_schedule

    ev = _t(spark, sf_dir, "events")
    req = ev.select(
        F.concat(F.lit("host"), F.col("user_id") % 20).alias("host"),
        F.concat(
            F.lit("https://host"),
            F.col("user_id") % 20,
            F.lit("/e/"),
            F.col("event_id"),
        ).alias("url"),
        F.unix_timestamp("ts").cast("long").alias("ts_s"),
    )
    return politeness_schedule(req, gap_s=5)


def _kg_politeness_sql() -> str:
    from deepee_spark.operators.urls import politeness_oracle_sql

    return politeness_oracle_sql(
        "SELECT 'host' || CAST(user_id % 20 AS VARCHAR) AS host,"
        " 'https://host' || CAST(user_id % 20 AS VARCHAR) || '/e/' ||"
        " CAST(event_id AS VARCHAR) AS url,"
        " CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events",
        gap_s=5,
    )


def _kg_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (operators/graph.scc) over a
    DIRECTED interaction graph: purchase edges point user->item and
    view edges point item->user for every third user, so the fixture
    has one-way sources (users who only buy), singleton SCCs, and a
    mutual-reachability core. Label-peeling FW-BW — node-sized label
    state, never the quadratic reachability closure (that object is
    oracle-side only, where sf0.01 keeps it small)."""
    from deepee_spark.operators.graph import scc

    ev = _t(spark, sf_dir, "events")
    fwd = ev.filter(F.col("event_type") == "purchase").select(
        F.concat(F.lit("user#"), F.col("user_id")).alias("src"),
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("dst"),
    )
    back = ev.filter(
        (F.col("event_type") == "view") & (F.col("user_id") % 3 == 0)
    ).select(
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("src"),
        F.concat(F.lit("user#"), F.col("user_id")).alias("dst"),
    )
    return scc(fwd.unionByName(back))


def _kg_scc_sql() -> str:
    from deepee_spark.operators.graph import scc_oracle_sql

    return scc_oracle_sql(
        "SELECT 'user#' || CAST(user_id AS VARCHAR) AS src,"
        " 'item#' || json_extract_string(props, '$.k') AS dst"
        " FROM events WHERE event_type = 'purchase'"
        " UNION ALL"
        " SELECT 'item#' || json_extract_string(props, '$.k') AS src,"
        " 'user#' || CAST(user_id AS VARCHAR) AS dst"
        " FROM events WHERE event_type = 'view' AND user_id % 3 = 0"
    )


def _kg_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (operators/temporal.funnel): earliest
    view -> click -> purchase chain per user with strict time order;
    stepwise filtered min-aggs, no event-stream window."""
    from deepee_spark.operators.temporal import funnel

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("etype"),
        F.unix_timestamp("ts").cast("long").alias("tsec"),
    )
    return funnel(
        ev, ["user_id"], "etype", "tsec", ["view", "click", "purchase"]
    )


_KG_FUNNEL_SQL = """
WITH ev AS (
  SELECT user_id, event_type AS p,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS tsec
  FROM events),
s1 AS (
  SELECT user_id, MIN(tsec) AS t_1 FROM ev WHERE p = 'view'
  GROUP BY user_id),
s2 AS (
  SELECT s1.user_id, s1.t_1,
         MIN(CASE WHEN e.p = 'click' AND e.tsec > s1.t_1
                  THEN e.tsec END) AS t_2
  FROM s1 LEFT JOIN ev e ON e.user_id = s1.user_id
  GROUP BY s1.user_id, s1.t_1),
s3 AS (
  SELECT s2.user_id, s2.t_1, s2.t_2,
         MIN(CASE WHEN e.p = 'purchase' AND e.tsec > s2.t_2
                  THEN e.tsec END) AS t_3
  FROM s2 LEFT JOIN ev e ON e.user_id = s2.user_id
  GROUP BY s2.user_id, s2.t_1, s2.t_2)
SELECT user_id, t_1, t_2, t_3,
       CAST((CASE WHEN t_1 IS NOT NULL THEN 1 ELSE 0 END)
          + (CASE WHEN t_2 IS NOT NULL THEN 1 ELSE 0 END)
          + (CASE WHEN t_3 IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS steps_completed
FROM s3
"""


def _kg_bgp_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive BGP query (operators/bgp.bgp_match) over the event
    KG: {(?u, purchase, ?i), (?u, click, ?i)} — users who purchased
    AND clicked the same item; literals push down, joins key on the
    shared variables."""
    from deepee_spark.operators.bgp import bgp_match

    ev = _t(spark, sf_dir, "events")
    triples = ev.select(
        F.concat(F.lit("user#"), F.col("user_id")).alias("subj"),
        F.col("event_type").alias("pred"),
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("obj"),
    )
    return bgp_match(
        triples, [("?u", "purchase", "?i"), ("?u", "click", "?i")]
    )


_KG_BGP_SQL = """
WITH t AS (
  SELECT DISTINCT 'user#' || CAST(user_id AS VARCHAR) AS subj,
         event_type AS pred,
         'item#' || json_extract_string(props, '$.k') AS obj
  FROM events)
SELECT DISTINCT a.subj AS u, a.obj AS i
FROM t a JOIN t b ON b.subj = a.subj AND b.obj = a.obj
WHERE a.pred = 'purchase' AND b.pred = 'click'
"""


def _kg_rule_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-atom rule mining (operators/graph.predicate_implications):
    p(x,y) => r(x,y) support/confidence over the event-type KG —
    schema discovery (does purchase imply click?)."""
    from deepee_spark.operators.graph import predicate_implications

    ev = _t(spark, sf_dir, "events")
    triples = ev.select(
        F.concat(F.lit("user#"), F.col("user_id")).alias("subj"),
        F.col("event_type").alias("pred"),
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("obj"),
    )
    return predicate_implications(triples, min_support=2)


_KG_RULES_SQL = """
WITH t AS (
  SELECT DISTINCT 'user#' || CAST(user_id AS VARCHAR) AS subj,
         event_type AS pred,
         'item#' || json_extract_string(props, '$.k') AS obj
  FROM events),
np AS (SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_p FROM t GROUP BY pred),
joint AS (
  SELECT a.pred AS p, b.pred AS r, CAST(COUNT(*) AS BIGINT) AS support
  FROM t a JOIN t b ON a.subj = b.subj AND a.obj = b.obj
  WHERE a.pred != b.pred
  GROUP BY a.pred, b.pred
  HAVING COUNT(*) >= 2)
SELECT j.p, j.r, np.n_p, j.support,
       CAST((1000000 * j.support) // np.n_p AS BIGINT) AS confidence_e6
FROM joint j JOIN np ON np.pred = j.p
"""


def _kg_taxonomy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ancestor materialization (operators/graph.transitive_closure)
    over a deterministic part-category taxonomy: node k's parent is
    k DIV 8, a forest ~log8(N) deep. Path-doubling closure — every
    (node, ancestor, shortest-dist) pair; the downstream KG use is
    taxonomy/type inference ("all ancestors of X" as a table). The
    DuckDB twin is a genuinely different algorithm (step-wise recursive
    CTE vs min-plus doubling)."""
    from deepee_spark.operators.graph import transitive_closure

    part = _t(spark, sf_dir, "part")
    edges = part.select(
        F.col("p_partkey").cast("long").alias("src"),
        (F.col("p_partkey").cast("long") / 8).cast("long").alias("dst"),
    ).filter(F.col("dst") >= 1)
    return transitive_closure(edges, max_depth=16)


_KG_CLOSURE_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT CAST(p_partkey AS BIGINT) AS src,
         CAST(p_partkey // 8 AS BIGINT) AS dst
  FROM part WHERE p_partkey // 8 >= 1 AND p_partkey // 8 <> p_partkey),
r(src, dst, dist) AS (
  SELECT src, dst, 1 AS dist FROM e
  UNION
  SELECT r.src, e.dst, r.dist + 1 FROM r JOIN e ON r.dst = e.src
  WHERE r.dist < 16
)
SELECT src, dst, CAST(MIN(dist) AS BIGINT) AS dist FROM r
WHERE src <> dst GROUP BY src, dst
"""


def _kg_distant_supervision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distant supervision (operators/distant.distant_supervision):
    click contexts aligned with the purchase KB — KB pairs label
    positives, absent pairs become hash-downsampled 'NA' negatives
    (deterministic: retried tasks regenerate the same sample)."""
    from deepee_spark.operators.distant import distant_supervision

    ev = _t(spark, sf_dir, "events")
    contexts = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").cast("string").alias("ctx_id"),
        F.concat(F.lit("user#"), F.col("user_id")).alias("subj"),
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("obj"),
    )
    kb = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.concat(F.lit("user#"), F.col("user_id")).alias("subj"),
            F.lit("purchase").alias("pred"),
            F.concat(
                F.lit("item#"), F.get_json_object("props", "$.k")
            ).alias("obj"),
        )
        .distinct()
    )
    return distant_supervision(contexts, kb, na_keep_permille=200)


_KG_DISTANT_SQL = f"""
WITH contexts AS (
  SELECT CAST(event_id AS VARCHAR) AS ctx_id,
         'user#' || CAST(user_id AS VARCHAR) AS subj,
         'item#' || json_extract_string(props, '$.k') AS obj
  FROM events WHERE event_type = 'click'),
kb AS (
  SELECT DISTINCT 'user#' || CAST(user_id AS VARCHAR) AS subj,
         'purchase' AS pred,
         'item#' || json_extract_string(props, '$.k') AS obj
  FROM events WHERE event_type = 'purchase'),
labeled AS (
  SELECT c.ctx_id, c.subj, c.obj, k.pred
  FROM contexts c LEFT JOIN kb k
    ON k.subj = c.subj AND k.obj = c.obj)
SELECT ctx_id, subj, obj, pred FROM labeled WHERE pred IS NOT NULL
UNION ALL
SELECT ctx_id, subj, obj, 'NA' AS pred FROM labeled
WHERE pred IS NULL
  AND ({_HASH_SQL.format(col="ctx_id || '|' || subj || '|' || obj")}
       * 2654435761) % 1000000007 % 1000 < 200
"""


def _skew_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key skew report (operators/skew.hot_key_report): exact
    top-10 user_ids by event count with integer corpus share — the
    pre-salting diagnosis; TakeOrderedAndProject, never a global
    sort."""
    from deepee_spark.operators.skew import hot_key_report

    return hot_key_report(
        _t(spark, sf_dir, "events").select(
            F.col("user_id").cast("long").alias("user_id")
        ),
        ["user_id"],
        top_k=10,
    )


_SKEW_HOT_KEYS_SQL = """
WITH c AS (
  SELECT CAST(user_id AS BIGINT) AS user_id,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM events GROUP BY user_id),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM events),
r AS (
  SELECT user_id, n_rows,
         CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, user_id ASC)
              AS BIGINT) AS rank
  FROM c)
SELECT user_id, n_rows,
       CAST((1000000 * n_rows) // t.total AS BIGINT) AS share_e6,
       rank
FROM r, t WHERE rank <= 10
"""


def _kg_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KMV rollup (operators/sketches.kmv_sketch_parts +
    kmv_merge): per-day sketches of each predicate's distinct users,
    merged into the period estimate WITHOUT rescanning raw data —
    pytest proves the merge identity (== direct sketch bitwise)."""
    from deepee_spark.operators.sketches import kmv_merge, kmv_sketch_parts

    ev = _t(spark, sf_dir, "events")
    t = ev.select(
        F.col("event_type").alias("pred"),
        F.to_date("ts").cast("string").alias("day"),
        F.concat(F.lit("user#"), F.col("user_id")).alias("subj"),
    )
    parts = kmv_sketch_parts(t, ["pred"], "day", "subj", k=64)
    return kmv_merge(parts, ["pred"], k=64)


_KG_SKETCH_MERGE_SQL = f"""
WITH hashed AS (SELECT DISTINCT event_type AS pred,
       CAST(ts AS DATE) AS day,
       ({_HASH_SQL.format(col="'user#' || CAST(user_id AS VARCHAR)")}
        * 2654435761) % 1000000007 AS h
FROM events),
part_ranked AS (
  SELECT pred, day, h,
         ROW_NUMBER() OVER (PARTITION BY pred, day ORDER BY h) AS rn
  FROM hashed),
parts AS (SELECT DISTINCT pred, h FROM part_ranked WHERE rn <= 64),
merged AS (
  SELECT pred, h,
         ROW_NUMBER() OVER (PARTITION BY pred ORDER BY h) AS rn
  FROM parts)
SELECT pred,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(MAX(h) AS BIGINT) AS kth_hash,
       CAST(CASE WHEN COUNT(*) < 64 THEN COUNT(*)
                 ELSE (63 * CAST(1000000007 AS BIGINT)) // MAX(h)
            END AS BIGINT) AS distinct_est
FROM merged WHERE rn <= 64
GROUP BY pred
"""


def _kg_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog cardinality (operators/sketches.hll_distinct):
    per-predicate distinct-subject estimate from m=64 max-rank
    registers over the 48-bit md5 hash with the integer-exact
    estimator (harmonic mean carried as the BIGINT sum of 2^(43-reg);
    one integer division at the end), so the DuckDB twin is
    bit-identical. KMV (kg_distinct_sketch) is exact below k and the
    default; HLL is the scale path where even k hash values stop
    resolving (the 48-bit space holds to ~2.8e14 distincts) —
    registers are bounded state (<= m rows/key) whatever the input."""
    from deepee_spark.operators.sketches import hll_distinct

    ev = _t(spark, sf_dir, "events")
    t = ev.select(
        F.col("event_type").alias("pred"),
        F.concat(F.lit("user#"), F.col("user_id")).alias("subj"),
    )
    return hll_distinct(t, ["pred"], "subj")


def _kg_hll_distinct_sql() -> str:
    from deepee_spark.operators.negatives import md5_long48_sql
    from deepee_spark.operators.sketches import hll_oracle_sql

    src = (
        "SELECT event_type AS pred, "
        f"{md5_long48_sql(chr(39) + 'user#' + chr(39) + ' || CAST(user_id AS VARCHAR)')}"
        " AS h FROM events"
    )
    return hll_oracle_sql(src, ["pred"])


def _kg_dangling_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep (operators/validation.
    dangling_references): purchase triples whose endpoint is missing
    from the node registry (items with k > 95 unregistered — the
    schema-violation fixture's gap, seen from the FK side)."""
    from deepee_spark.operators.validation import dangling_references

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    triples = ev.select(
        F.concat(F.lit("user#"), F.col("user_id")).alias("subj"),
        F.col("event_type").alias("pred"),
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("obj"),
    ).distinct()
    users = ev.select(
        F.concat(F.lit("user#"), F.col("user_id")).alias("node")
    ).distinct()
    items = (
        ev.select(
            F.get_json_object("props", "$.k").cast("long").alias("k")
        )
        .distinct()
        .filter(F.col("k") <= 95)
        .select(F.concat(F.lit("item#"), F.col("k")).alias("node"))
    )
    return dangling_references(triples, users.unionByName(items))


_KG_DANGLING_SQL = """
WITH ev AS (
  SELECT 'user#' || CAST(user_id AS VARCHAR) AS subj,
         event_type AS pred,
         'item#' || json_extract_string(props, '$.k') AS obj,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         user_id
  FROM events WHERE event_type = 'purchase'),
triples AS (SELECT DISTINCT subj, pred, obj FROM ev),
nodes AS (
  SELECT DISTINCT 'user#' || CAST(user_id AS VARCHAR) AS node FROM ev
  UNION
  SELECT DISTINCT 'item#' || CAST(k AS VARCHAR) FROM ev WHERE k <= 95)
SELECT t.subj, t.pred, t.obj,
       CASE WHEN s.node IS NULL AND o.node IS NULL THEN 'both'
            WHEN s.node IS NULL THEN 'subj'
            ELSE 'obj' END AS missing
FROM triples t
LEFT JOIN nodes s ON s.node = t.subj
LEFT JOIN nodes o ON o.node = t.obj
WHERE s.node IS NULL OR o.node IS NULL
"""


def _text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality proxy (operators/textstats.bigram_logprob):
    per-doc mean add-one-smoothed bigram log-probability under the
    corpus's own counts — word ORDER now matters, one notch past
    text_unigram_logprob."""
    from deepee_spark.operators.textstats import bigram_logprob

    return bigram_logprob(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )


_BIGRAM_SQL = f"""
WITH tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
  WHERE len({_TOKENS_SQL}) >= 2),
big AS (
  SELECT doc_id, t[i] AS a, t[i + 1] AS b
  FROM tok, UNNEST(generate_series(1, len(t) - 1)) AS g(i)),
uni AS (
  SELECT u.a, CAST(COUNT(*) AS DOUBLE) AS c_a
  FROM (SELECT unnest({_TOKENS_SQL}) AS a FROM documents) u
  GROUP BY u.a),
v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM uni),
bgc AS (
  SELECT a, b, CAST(COUNT(*) AS DOUBLE) AS c_ab FROM big GROUP BY a, b)
SELECT big.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(ln((bgc.c_ab + 1) / (uni.c_a + v.v))), 6) AS mean_logp
FROM big
JOIN bgc USING (a, b)
JOIN uni USING (a), v
GROUP BY big.doc_id
"""


def _kg_cluster_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise clustering P/R/F1 for canonicalization quality
    (operators/metrics.pairwise_cluster_prf): exact pair counts from
    C(n,2) sums over aggregated sizes — never materialized pairs; a
    deterministic disagreement fixture (mod-7 pred vs mod-5 gold over
    distinct users)."""
    from deepee_spark.operators.metrics import pairwise_cluster_prf

    assign = (
        _t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            (F.col("user_id") % 7).cast("long").alias("pred_cluster"),
            (F.col("user_id") % 5).cast("long").alias("gold_class"),
        )
    )
    return pairwise_cluster_prf(assign)


def _kg_cluster_bcubed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed clustering P/R/F1 (operators/metrics.bcubed_prf) on the
    same mod-7 pred vs mod-5 gold disagreement fixture as
    kg_cluster_prf — the per-mention metric next to the pairwise one,
    all cell-collapsed integer arithmetic (no per-mention rows past
    the first agg)."""
    from deepee_spark.operators.metrics import bcubed_prf

    assign = (
        _t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            (F.col("user_id") % 7).cast("long").alias("pred_cluster"),
            (F.col("user_id") % 5).cast("long").alias("gold_class"),
        )
    )
    return bcubed_prf(assign)


_KG_CLUSTER_BCUBED_SQL = """
WITH a AS (SELECT DISTINCT user_id FROM events),
cells AS (
  SELECT user_id % 7 AS p, user_id % 5 AS g, COUNT(*) AS m
  FROM a GROUP BY user_id % 7, user_id % 5),
psz AS (SELECT p, SUM(m) AS np FROM cells GROUP BY p),
gsz AS (SELECT g, SUM(m) AS ng FROM cells GROUP BY g),
agg AS (
  SELECT CAST(SUM(c.m) AS BIGINT) AS n_mentions,
         CAST(SUM(c.m * ((1000000 * c.m) // psz.np)) AS BIGINT) AS sp,
         CAST(SUM(c.m * ((1000000 * c.m) // gsz.ng)) AS BIGINT) AS sg
  FROM cells c JOIN psz ON psz.p = c.p JOIN gsz ON gsz.g = c.g),
pr AS (
  SELECT n_mentions,
         CAST(CASE WHEN n_mentions > 0 THEN sp // n_mentions ELSE 0 END
              AS BIGINT) AS b3_precision_e6,
         CAST(CASE WHEN n_mentions > 0 THEN sg // n_mentions ELSE 0 END
              AS BIGINT) AS b3_recall_e6
  FROM agg)
SELECT n_mentions, b3_precision_e6, b3_recall_e6,
       CAST(CASE WHEN b3_precision_e6 + b3_recall_e6 > 0
                 THEN (2 * b3_precision_e6 * b3_recall_e6)
                      // (b3_precision_e6 + b3_recall_e6)
                 ELSE 0 END AS BIGINT) AS b3_f1_e6
FROM pr
"""


_KG_CLUSTER_PRF_SQL = """
WITH a AS (
  SELECT DISTINCT user_id FROM events),
m AS (
  SELECT user_id % 7 AS p, user_id % 5 AS g FROM a),
pp AS (SELECT SUM(n * (n - 1) // 2) AS pred_pairs
       FROM (SELECT COUNT(*) AS n FROM m GROUP BY p)),
gp AS (SELECT SUM(n * (n - 1) // 2) AS gold_pairs
       FROM (SELECT COUNT(*) AS n FROM m GROUP BY g)),
tp AS (SELECT SUM(n * (n - 1) // 2) AS tp_pairs
       FROM (SELECT COUNT(*) AS n FROM m GROUP BY p, g))
SELECT CAST(COALESCE(tp_pairs, 0) AS BIGINT) AS tp_pairs,
       CAST(COALESCE(pred_pairs, 0) AS BIGINT) AS pred_pairs,
       CAST(COALESCE(gold_pairs, 0) AS BIGINT) AS gold_pairs,
       CAST(CASE WHEN pred_pairs > 0
                 THEN 1000000 * tp_pairs // pred_pairs ELSE 0 END
            AS BIGINT) AS precision_e6,
       CAST(CASE WHEN gold_pairs > 0
                 THEN 1000000 * tp_pairs // gold_pairs ELSE 0 END
            AS BIGINT) AS recall_e6,
       CAST(CASE WHEN pred_pairs + gold_pairs > 0
                 THEN 2000000 * tp_pairs // (pred_pairs + gold_pairs)
                 ELSE 0 END AS BIGINT) AS f1_e6
FROM tp, pp, gp
"""


def _kg_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk-style walk corpus (operators/walks.
    random_walks) over the undirected KG expansion: hash-picked next
    hops so a retried partition regenerates identical walks; per-step
    joins against the persisted neighbor index."""
    from deepee_spark.operators.walks import random_walks

    e = _kg_edge_proj(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return random_walks(sym, walks_per_node=1, length=3)


def _kg_random_walks_sql() -> str:
    from deepee_spark.operators.negatives import md5_long48_sql
    from deepee_spark.operators.walks import random_walks_oracle_sql

    sym = (
        f"SELECT src, dst FROM ({_KG_EDGE_PROJ_SQL}) "
        "UNION ALL "
        f"SELECT dst AS src, src AS dst FROM ({_KG_EDGE_PROJ_SQL})"
    )
    return random_walks_oracle_sql(
        sym, md5_long48_sql, walks_per_node=1, length=3
    )


def _kg_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order node2vec-style walks (operators/walks.
    node2vec_walks, p=2 q=3) over the same undirected KG expansion as
    kg_random_walks: integer-scaled return/triangle/outward weights,
    interval-picked by the deterministic content hash, so the biased
    corpus is retry-stable and engine-checkable. The oracle unrolls
    the same selection with window cumsums per step."""
    from deepee_spark.operators.walks import node2vec_walks

    e = _kg_edge_proj(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return node2vec_walks(sym, p=2, q=3, walks_per_node=1, length=3)


def _kg_node2vec_walks_sql() -> str:
    from deepee_spark.operators.negatives import md5_long48_sql
    from deepee_spark.operators.walks import node2vec_walks_oracle_sql

    sym = (
        f"SELECT src, dst FROM ({_KG_EDGE_PROJ_SQL}) "
        "UNION ALL "
        f"SELECT dst AS src, src AS dst FROM ({_KG_EDGE_PROJ_SQL})"
    )
    return node2vec_walks_oracle_sql(
        sym, md5_long48_sql, p=2, q=3, walks_per_node=1, length=3
    )


def _kg_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context, n) training pairs (operators/walks.
    skipgram_pairs) over the deterministic walk corpus — the embedding
    trainer's input, weighted by co-occurrence count. Spark explodes
    context offsets then equi-joins (hash join on narrow keys); the
    DuckDB twin runs the |step diff| range self-join the Spark side
    deliberately avoids."""
    from deepee_spark.operators.walks import skipgram_pairs

    return skipgram_pairs(_kg_random_walks(spark, sf_dir), window=2)


def _kg_skipgram_pairs_sql() -> str:
    from deepee_spark.operators.walks import skipgram_pairs_oracle_sql

    return skipgram_pairs_oracle_sql(_kg_random_walks_sql(), window=2)


def _kg_outlink_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host link graph (operators/links): html pages constructed
    deterministically from doc_id (one cross-site + one same-host
    link each) go through the REAL decode -> regex <a> harvest ->
    resolution -> host rollup path; the oracle computes the expected
    host pairs analytically — if the regex/resolution/rollup drops or
    fabricates anything, counts diverge."""
    from deepee_spark.operators.links import extract_outlinks, host_graph

    d = _t(spark, sf_dir, "documents")
    docs = d.select(
        F.concat(
            F.lit("https://host"), (F.col("doc_id") % 41).cast("string"),
            F.lit(".test/d/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.encode(
            F.concat(
                F.lit("<html><body><p>x</p><a href='https://host"),
                ((F.col("doc_id") * 13 + 7) % 41).cast("string"),
                F.lit(".test/r/"), F.col("doc_id").cast("string"),
                F.lit("'>ref</a><a href='/next/"),
                (F.col("doc_id") + 1).cast("string"),
                F.lit("'>n</a></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    )
    return host_graph(extract_outlinks(docs))


_KG_OUTLINKS_SQL = """
SELECT 'host' || CAST(doc_id % 41 AS VARCHAR) || '.test' AS src_host,
       'host' || CAST((doc_id * 13 + 7) % 41 AS VARCHAR) || '.test'
         AS dst_host,
       CAST(COUNT(*) AS BIGINT) AS n_links
FROM documents
WHERE (doc_id % 41) <> ((doc_id * 13 + 7) % 41)
GROUP BY 1, 2
"""


def _kg_anchor_aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text alias dictionary (operators/links.anchor_aliases)
    over the same constructed pages as kg_outlink_hosts, with anchors
    carrying digits ('Entity <d%13>' / 'Next <d>') — exercising the
    full regex harvest + SC6 surface normalization + (surface, host)
    rollup; the oracle builds the expected dictionary analytically."""
    from deepee_spark.operators.links import (
        anchor_aliases,
        extract_outlinks,
    )

    d = _t(spark, sf_dir, "documents")
    docs = d.select(
        F.concat(
            F.lit("https://host"), (F.col("doc_id") % 41).cast("string"),
            F.lit(".test/d/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.encode(
            F.concat(
                F.lit("<html><body><a href='https://host"),
                ((F.col("doc_id") * 13 + 7) % 41).cast("string"),
                F.lit(".test/r'>Entity "),
                (F.col("doc_id") % 13).cast("string"),
                F.lit("</a><a href='/n'>Next "),
                F.col("doc_id").cast("string"),
                F.lit("</a></body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
    )
    return anchor_aliases(extract_outlinks(docs), min_count=2)


_KG_ALIASES_SQL = """
WITH links AS (
  SELECT 'entity ' || regexp_replace(CAST(doc_id % 13 AS VARCHAR),
                                     '[0-9]', '0', 'g') AS surface,
         'host' || CAST((doc_id * 13 + 7) % 41 AS VARCHAR) || '.test'
           AS dst_host
  FROM documents
  UNION ALL
  SELECT 'next ' || regexp_replace(CAST(doc_id AS VARCHAR),
                                   '[0-9]', '0', 'g') AS surface,
         'host' || CAST(doc_id % 41 AS VARCHAR) || '.test' AS dst_host
  FROM documents)
SELECT surface, dst_host, CAST(COUNT(*) AS BIGINT) AS n
FROM links GROUP BY surface, dst_host HAVING COUNT(*) >= 2
"""


def _crawl_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-crawl scheduling (operators/refresh): per-URL change-rate
    estimation from the events table read as a fetch log (content hash
    = event_type), Cho/Garcia-Molina-style smoothed rate x staleness
    priority. Per-url window + one groupBy; integer-exact counts, two
    float ops — hash-identical to the DuckDB twin."""
    from deepee_spark.operators.refresh import refresh_priorities

    obs = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("u"), (F.col("user_id") % 200).cast("string")).alias(
            "url"
        ),
        F.col("ts").alias("fetch_ts"),
        F.col("event_type").alias("content_hash"),
        F.col("event_id").alias("obs_id"),
    )
    return refresh_priorities(obs, "2026-09-01 00:00:00")


_CRAWL_REFRESH_OBS_SQL = """
SELECT 'u' || CAST(user_id % 200 AS VARCHAR) AS url,
       ts AS fetch_ts, event_type AS content_hash, event_id AS obs_id
FROM events
"""


def _shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) shard placement (operators/sharding): every
    document assigned to one of 8 index shards by argmax of an
    overflow-safe quadratic mixer on the 2^31-1 ring — bit-identical
    across engines, zero-shuffle fold plan, minimal-remap on shard-count
    change (pinned in pytest). Oracle: same mixer via a rank window."""
    from deepee_spark.operators.sharding import assign_shards

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return assign_shards(docs, 8)


def _kg_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain collapse via pointer doubling (operators/
    redirects): a functional redirect graph is synthesized from the
    distinct user_id%100 values — 4-hop chains down to each multiple
    of 5, plus a 5-cycle over 95..99 — and resolved in O(log chain)
    self-join rounds. Oracle: DuckDB recursive-CTE one-hop walker with
    a hop cap. The other canonical log-step graph primitive beside
    components.py's star contraction."""
    from deepee_spark.operators.redirects import resolve_redirects

    hs = (
        _t(spark, sf_dir, "events")
        .select((F.col("user_id") % 100).alias("h"))
        .distinct()
    )
    node = lambda c: F.concat(F.lit("n"), c.cast("string"))  # noqa: E731
    edges = hs.filter((F.col("h") >= 95) | (F.col("h") % 5 != 0)).select(
        node(F.col("h")).alias("src"),
        F.when(F.col("h") >= 95, node(F.lit(95) + (F.col("h") - 94) % 5))
        .otherwise(node(F.col("h") - 1))
        .alias("dst"),
    )
    return resolve_redirects(edges, doublings=4)


_KG_REDIRECTS_EDGES_SQL = """
SELECT 'n' || CAST(h AS VARCHAR) AS src,
       CASE WHEN h >= 95 THEN 'n' || CAST(95 + (h - 94) % 5 AS VARCHAR)
            ELSE 'n' || CAST(h - 1 AS VARCHAR) END AS dst
FROM (SELECT DISTINCT user_id % 100 AS h FROM events)
WHERE h >= 95 OR h % 5 <> 0
"""


def _crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling crawl-budget allocation (operators/budget):
    per-host demand = event count per user_id%50 host, global budget
    = 3/5 of total demand, exact max-min fair level via the two-level
    prefix-sum closed form (per-host rank/prefix windows partitioned by
    demand band; the only unpartitioned window runs over the ~64
    band-total rows — plan-gated in tests). Oracle: global-window
    DuckDB twin with identical integer math."""
    from deepee_spark.operators.budget import water_fill

    ev = _t(spark, sf_dir, "events")
    demands = ev.groupBy(
        F.concat(F.lit("h"), (F.col("user_id") % 50).cast("string")).alias("host")
    ).agg(F.count(F.lit(1)).cast("long").alias("demand"))
    return water_fill(demands)


_CRAWL_BUDGET_DEMANDS_SQL = """
SELECT 'h' || CAST(user_id % 50 AS VARCHAR) AS host,
       CAST(COUNT(*) AS BIGINT) AS demand
FROM events GROUP BY 1
"""


def _passage_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W/S sliding passage chunking (operators/chunking): 32-token
    windows, stride 24, clamped tail — the corpus-to-context-window
    op. Generalizes the reference's fixed max-length sentence cutting
    (DMCNN_Tensorflow/Dataset_CutOut.py truncation) to overlapping
    coverage. Zero-shuffle posexplode plan."""
    from deepee_spark.operators.chunking import passage_windows

    return passage_windows(
        _t(spark, sf_dir, "documents"), window=32, stride=24
    )


def _robots_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt crawl admission (operators/robots): per-host robots
    bodies are synthesized from the events table (mixed-case
    directives, comments, carve-out Allow under a Disallow tree), URLs
    from event rows; the REAL line parser + longest-prefix/Allow-wins
    join decide admission. Oracle re-parses the same bodies in DuckDB.
    (Reference starts from collected corpora — this is the upstream
    admission gate a Common-Crawl-style build needs.)"""
    from deepee_spark.operators.robots import parse_robots, robots_decisions

    ev = _t(spark, sf_dir, "events")
    hosts = (
        ev.select((F.col("user_id") % 20).alias("hid"))
        .distinct()
        .select(
            F.concat(F.lit("h"), F.col("hid").cast("string"), F.lit(".example")).alias(
                "host"
            ),
            F.concat(
                F.lit("User-agent: *\n"),
                F.when(F.col("hid") % 2 == 0, F.lit("Disallow: /p")).otherwise(
                    F.lit("DISALLOW: /p")
                ),
                (F.col("hid") % 7).cast("string"),
                F.lit("/\nAllow: /p"),
                (F.col("hid") % 7).cast("string"),
                F.lit("/keep/  # carve-out\nDisallow: /q"),
                (F.col("hid") % 3).cast("string"),
                F.lit("\nDisallow:\n"),
            ).alias("robots"),
        )
    )
    urls = ev.filter(F.col("event_id") < 4000).select(
        F.concat(
            F.lit("http://h"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".example/p"),
            (F.col("event_id") % 9).cast("string"),
            F.lit("/"),
            F.when(F.col("event_id") % 2 == 0, F.lit("keep/")).otherwise(F.lit("")),
            F.lit("f"),
            F.col("event_id").cast("string"),
            F.lit(".html"),
        ).alias("url")
    )
    return robots_decisions(urls, parse_robots(hosts))


def _robots_admission_sql() -> str:
    from deepee_spark.operators.robots import robots_oracle_sql

    urls_sql = """
SELECT 'http://h' || CAST(user_id % 20 AS VARCHAR) || '.example/p'
       || CAST(event_id % 9 AS VARCHAR) || '/'
       || CASE WHEN event_id % 2 = 0 THEN 'keep/' ELSE '' END
       || 'f' || CAST(event_id AS VARCHAR) || '.html' AS url
FROM events WHERE event_id < 4000"""
    robots_sql = """
SELECT 'h' || CAST(hid AS VARCHAR) || '.example' AS host,
       'User-agent: *' || chr(10)
       || CASE WHEN hid % 2 = 0 THEN 'Disallow: /p' ELSE 'DISALLOW: /p' END
       || CAST(hid % 7 AS VARCHAR) || '/' || chr(10)
       || 'Allow: /p' || CAST(hid % 7 AS VARCHAR) || '/keep/  # carve-out' || chr(10)
       || 'Disallow: /q' || CAST(hid % 3 AS VARCHAR) || chr(10)
       || 'Disallow:' || chr(10) AS robots
FROM (SELECT DISTINCT user_id % 20 AS hid FROM events)"""
    return robots_oracle_sql(urls_sql, robots_sql)


def _dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/dsir, Xie et al. 2023): every
    document scored by sum(cnt[b] * (log p_target(b) - log p_raw(b)))
    over hashed unigram+bigram buckets. The target slice is a
    deterministic 1/17 sample standing in for the user's domain corpus.
    The bucket model is 256 rows — broadcast at any corpus size; the
    only corpus shuffle is the per-doc aggregate. Float logs follow the
    repo's 6dp-round oracle convention (unigram_logprob precedent)."""
    from deepee_spark.operators.dsir import (
        bucket_logratio,
        hashed_feature_counts,
        importance_weights,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dc = hashed_feature_counts(docs)
    # pin: dc feeds the target slice, the raw totals AND the final
    # per-doc weighting — three consumers of one explode+agg
    dc = dc.localCheckpoint()
    target = dc.join(
        docs.filter(F.col("doc_id") % 17 == 0).select("doc_id"), "doc_id"
    )
    lr = bucket_logratio(target, dc)
    return importance_weights(dc, lr)


def _dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection (operators/dsir.gumbel_topk): Gumbel-top-k
    resampling over the importance weights — sampling-without-
    replacement ∝ exp(logw), with the Gumbel draws derived from a doc-id
    hash so both engines pick the identical 100 docs. TakeOrdered
    top-k, never a global sort."""
    from deepee_spark.operators.dsir import gumbel_topk

    return gumbel_topk(_dsir_weights(spark, sf_dir), k=100)


# Fixed merge table for the BPE inference (encode) query: applied in
# order, building multi-char pieces ('ta'->'tab'->'tabl'->'table') so
# the chained greedy application is actually exercised.
_BPE_FIXED_MERGES = [
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("a", "l"), ("v", "al"),
]


def _bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING (operators/bpe.segment_words) — the inference half
    of the tokenizer: a fixed learned merge table applied in order to
    the corpus vocabulary, each rule one greedy-leftmost pure-Catalyst
    fold. Runs on the (word, cnt) vocab, not the corpus rows, so the
    cost is bounded by distinct word forms at any corpus size. The
    oracle replays the same merges through the learner oracle's
    run-parity application blocks."""
    from deepee_spark.operators.bpe import segment_words

    return segment_words(
        _t(spark, sf_dir, "documents"), _BPE_FIXED_MERGES
    ).select("word", "cnt", F.concat_ws(" ", "pieces").alias("pieces"))


def _bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus BPE merge learning (operators/bpe.learn_merges): 6
    iterations of most-frequent-adjacent-pair over the documents word
    vocabulary, deterministic (n DESC, left, right) tie-break, greedy
    leftmost merge application as a pure-Catalyst fold — no UDF, no
    collect. The reference consumes pre-built vocabularies (e.g.
    DMCNN_Tensorflow/Dataset_CutOut.py builds word maps; BERT models
    ship vocab.txt); this is the upstream tokenizer-training half a
    100 TB pipeline needs. Oracle: window-function greedy-merge twin,
    6 chained CTE blocks."""
    from deepee_spark.operators.bpe import learn_merges

    return learn_merges(_t(spark, sf_dir, "documents"), steps=6)


def _kg_web_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-table relational extraction (operators/webtables.
    table_triples): HTML pages carrying one <table> per user —
    header (event, etype, k), one row per event, fragments ordered by
    zero-padded event_id so the page bytes are engine-independent —
    go through the REAL regex table/row/cell parse + entity-attribute
    triple interpretation. The oracle derives the expected triples
    analytically from the events table: if the parse drops, fabricates,
    or misaligns a single cell, the hashes diverge. (Reference has no
    table extractor — DeepEE stops at sentence EE; this is the
    WebTables-style relational companion a Common-Crawl KG build runs
    beside it.)"""
    from deepee_spark.operators.webtables import table_triples

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    frag = F.concat(
        F.lit("<tr><td>e"),
        F.lpad(F.col("event_id").cast("string"), 8, "0"),
        F.lit("</td><td>"),
        F.col("event_type"),
        F.lit("</td><td>"),
        F.get_json_object("props", "$.k"),
        F.lit("</td></tr>"),
    )
    pages = (
        ev.select(F.col("user_id"), frag.alias("frag"))
        .groupBy("user_id")
        .agg(F.array_join(F.sort_array(F.collect_list("frag")), "").alias("body"))
        .select(
            F.concat(F.lit("u#"), F.col("user_id").cast("string")).alias("url"),
            F.concat(
                F.lit("<table><tr><th>event</th><th>etype</th><th>k</th></tr>"),
                F.col("body"),
                F.lit("</table>"),
            ).alias("html"),
        )
    )
    return table_triples(pages).select("url", "subj", "pred", "obj")


_KG_WEB_TABLES_SQL = """
WITH ev AS (
  SELECT 'u#' || CAST(user_id AS VARCHAR) AS url,
         'e' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS subj,
         event_type,
         json_extract_string(props, '$.k') AS k
  FROM events WHERE user_id < 30)
SELECT url, subj, 'etype' AS pred, event_type AS obj FROM ev
UNION ALL
SELECT url, subj, 'k' AS pred, k AS obj FROM ev
"""


def _kg_bloom_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier Bloom gate (operators/bloom): the seen-set bitmap
    is built over the event item keys and probed with candidate keys
    from the documents table — (candidate, possibly_seen) with NO false
    negatives by construction. Both engines compute the identical
    md5-arithmetic bitmap, so verdicts (including the false positives)
    hash-match exactly."""
    from deepee_spark.operators.bloom import bloom_build, bloom_probe

    m, k = 1 << 16, 4
    ev = _t(spark, sf_dir, "events")
    seen = ev.select(
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("v")
    )
    docs = _t(spark, sf_dir, "documents")
    probes = docs.select(
        F.concat(
            F.lit("item#"), (F.col("doc_id") % 500).cast("string")
        ).alias("v")
    )
    return bloom_probe(
        bloom_build(seen, "v", m_bits=m, k=k), probes, "v", m_bits=m, k=k
    )


def _kg_bloom_frontier_sql() -> str:
    from deepee_spark.operators.bloom import bloom_probe_oracle_sql

    return bloom_probe_oracle_sql(
        "SELECT 'item#' || json_extract_string(props, '$.k') AS v"
        " FROM events",
        "SELECT 'item#' || CAST(doc_id % 500 AS VARCHAR) AS v"
        " FROM documents",
        1 << 16,
        4,
    )


# Public-suffix rules for the domain queries: a deterministic synthetic
# PSL slice covering every rule type (plain, wildcard, exception) — the
# production dimension would be the published publicsuffix.org snapshot.
_PSL_RULES = [
    "com", "org", "net", "io", "uk", "co.uk", "gov.uk", "github.io",
    "*.ck", "!www.ck",
]

# Hosts synthesized from doc_id so both engines derive the identical
# corpus: one arm per matching regime (plain 1/2-label suffixes,
# wildcard, exception, apex-suffix host, unknown TLD -> default rule).
_DOMAIN_HOST_CASE = """CASE CAST({d} % 7 AS INT)
  WHEN 0 THEN 'www.site' || CAST({d} % 97 AS {str_t}) || '.com'
  WHEN 1 THEN 'blog.site' || CAST({d} % 97 AS {str_t}) || '.co.uk'
  WHEN 2 THEN 'site' || CAST({d} % 97 AS {str_t}) || '.github.io'
  WHEN 3 THEN 'a.b.site' || CAST({d} % 97 AS {str_t}) || '.org'
  WHEN 4 THEN 'site' || CAST({d} % 97 AS {str_t}) || '.wat.ck'
  WHEN 5 THEN 'www.ck'
  ELSE 'weird.site' || CAST({d} % 97 AS {str_t}) || '.unknowntld'
END"""


def _domain_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    case = _DOMAIN_HOST_CASE.format(d="doc_id", str_t="STRING")
    return _t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.expr(case).alias("host")
    )


def _psl_rules_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([(r,) for r in _PSL_RULES], "rule: string")


def _domain_registrable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain (eTLD+1) rollup (operators/domains.apply_psl):
    publicsuffix.org longest-match semantics — plain, wildcard and
    exception rules plus the default '*' — via K broadcast joins, so
    the corpus never shuffles for the match itself; the only shuffle is
    the final rollup aggregate. The per-publisher grouping key every
    curation quota/dedup policy (RefinedWeb/FineWeb/CCNet, all public)
    hangs off."""
    from deepee_spark.operators.domains import apply_psl

    d = apply_psl(_domain_hosts(spark, sf_dir), _psl_rules_df(spark))
    return d.groupBy(
        "public_suffix",
        F.coalesce("registrable_domain", F.lit("(apex)")).alias(
            "registrable_domain"
        ),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))


def _domain_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style per-publisher cap (operators/domains.domain_quota):
    keep the best 3 docs per registrable domain by (n_chars DESC,
    doc_id ASC). The window is domain-partitioned — parallel across the
    publisher space, no global ordering anywhere; apex-suffix rows
    (NULL domain) pass through by contract."""
    from deepee_spark.operators.domains import apply_psl, domain_quota

    d = apply_psl(_domain_hosts(spark, sf_dir), _psl_rules_df(spark))
    kept = domain_quota(
        d, quota=3, score_col="n_chars", id_col="doc_id"
    )
    return kept.select(
        "doc_id",
        F.coalesce("registrable_domain", F.lit("(apex)")).alias(
            "registrable_domain"
        ),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


def _domain_oracle_cte() -> str:
    """Shared DuckDB CTE chain: host synthesis + PSL longest-match via
    LIKE label-boundary suffix tests (the oracle does not need the
    broadcast-join shape, only identical semantics)."""
    case = _DOMAIN_HOST_CASE.format(d="doc_id", str_t="VARCHAR")
    rules = ", ".join(f"('{r}')" for r in _PSL_RULES)
    return f"""
rules(rule) AS (VALUES {rules}),
hosts AS (SELECT doc_id, n_chars, {case} AS host FROM documents),
lab AS (SELECT doc_id, n_chars, host,
               string_split(host, '.') AS ls,
               len(string_split(host, '.')) AS n
        FROM hosts),
pm AS (SELECT l.host, MAX(len(string_split(r.rule, '.'))) AS plen
       FROM (SELECT DISTINCT host FROM lab) l
       JOIN rules r ON r.rule NOT LIKE '!%' AND r.rule NOT LIKE '*.%'
        AND (l.host = r.rule OR l.host LIKE '%.' || r.rule)
       GROUP BY l.host),
wm AS (SELECT l.host,
              MAX(len(string_split(substring(r.rule, 3), '.')) + 1) AS wlen
       FROM (SELECT DISTINCT host, n FROM lab) l
       JOIN rules r ON r.rule LIKE '*.%'
        AND l.host LIKE '%.' || substring(r.rule, 3)
        AND l.n >= len(string_split(substring(r.rule, 3), '.')) + 1
       GROUP BY l.host),
em AS (SELECT l.host,
              MAX(len(string_split(substring(r.rule, 2), '.')) - 1) AS elen
       FROM (SELECT DISTINCT host FROM lab) l
       JOIN rules r ON r.rule LIKE '!%'
        AND (l.host = substring(r.rule, 2)
             OR l.host LIKE '%.' || substring(r.rule, 2))
       GROUP BY l.host),
res AS (SELECT l.doc_id, l.n_chars, l.host, l.ls, l.n,
               COALESCE(em.elen,
                        GREATEST(COALESCE(pm.plen, 1),
                                 COALESCE(wm.wlen, 1), 1)) AS pslen
        FROM lab l
        LEFT JOIN pm ON pm.host = l.host
        LEFT JOIN wm ON wm.host = l.host
        LEFT JOIN em ON em.host = l.host),
dom AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
               array_to_string(ls[n - pslen + 1 : n], '.') AS public_suffix,
               CASE WHEN n > pslen
                    THEN array_to_string(ls[n - pslen : n], '.')
                    ELSE '(apex)' END AS registrable_domain
        FROM res)
"""


_DOMAIN_REGISTRABLE_SQL = (
    "WITH " + _domain_oracle_cte() + """
SELECT public_suffix, registrable_domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM dom GROUP BY 1, 2
"""
)

_DOMAIN_QUOTA_SQL = (
    "WITH " + _domain_oracle_cte() + """,
ranked AS (SELECT doc_id, registrable_domain, n_chars,
                  ROW_NUMBER() OVER (PARTITION BY registrable_domain
                                     ORDER BY n_chars DESC, doc_id) AS rk
           FROM dom)
SELECT doc_id, registrable_domain, n_chars
FROM ranked WHERE registrable_domain = '(apex)' OR rk <= 3
"""
)


def _kg_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl scheduling capstone — three op families composed: the
    link harvest's host graph (operators/links) feeds exact-integer
    host PageRank (operators/graph.pagerank_int), and each host's
    candidate urls are ranked top-3 by a deterministic priority
    (host-partitioned window — parallel across hosts). The oracle
    nests the unrolled-CTE pagerank twin inside the same window."""
    from pyspark.sql import Window as W

    from deepee_spark.operators.graph import pagerank_int

    hg = _kg_outlink_hosts(spark, sf_dir)
    rank = pagerank_int(
        hg.select(
            F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
        ),
        iters=3,
    )
    d = _t(spark, sf_dir, "documents")
    host = F.concat(
        F.lit("host"), (F.col("doc_id") % 41).cast("string"), F.lit(".test")
    )
    cand = d.select(
        host.alias("host"),
        F.concat(
            F.lit("https://host"), (F.col("doc_id") % 41).cast("string"),
            F.lit(".test/d/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        "doc_id",
    )
    j = cand.join(
        rank.select(
            F.col("node").alias("host"), F.col("rank").alias("host_rank")
        ),
        "host",
        "left",
    ).withColumn("host_rank", F.coalesce("host_rank", F.lit(0)).cast("long"))
    w = W.partitionBy("host").orderBy(F.col("doc_id").asc())
    return (
        j.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("host", "url", "host_rank", "rk")
    )


def _kg_crawl_schedule_sql() -> str:
    from deepee_spark.operators.graph import pagerank_oracle_sql

    edges = (
        "SELECT 'host' || CAST(doc_id % 41 AS VARCHAR) || '.test' AS src,"
        " 'host' || CAST((doc_id * 13 + 7) % 41 AS VARCHAR) || '.test'"
        " AS dst FROM documents"
        " WHERE (doc_id % 41) <> ((doc_id * 13 + 7) % 41)"
    )
    pr = pagerank_oracle_sql(edges, iters=3)
    return f"""
WITH cand AS (
  SELECT 'host' || CAST(doc_id % 41 AS VARCHAR) || '.test' AS host,
         'https://host' || CAST(doc_id % 41 AS VARCHAR) || '.test/d/'
           || CAST(doc_id AS VARCHAR) AS url,
         doc_id
  FROM documents),
ranked AS (
  SELECT c.host, c.url,
         CAST(COALESCE(pr.rank, 0) AS BIGINT) AS host_rank,
         CAST(ROW_NUMBER() OVER (PARTITION BY c.host ORDER BY c.doc_id)
              AS BIGINT) AS rk
  FROM cand c LEFT JOIN ({pr}) pr ON pr.node = c.host)
SELECT host, url, host_rank, rk FROM ranked WHERE rk <= 3
"""


def _kg_cms_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimates (operators/sketches.cms_build/
    cms_estimate) over event item-key OCCURRENCES, probed with the
    doc_id%600 candidate set — present keys estimate >= truth, absent
    keys mostly 0, and every cell/estimate is md5-replayable so the
    twin matches exactly (sketch triad: KMV cardinality, Bloom
    membership, CMS frequency)."""
    from deepee_spark.operators.sketches import cms_build, cms_estimate

    w, d = 1 << 12, 4
    ev = _t(spark, sf_dir, "events")
    occurrences = ev.select(
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("v")
    )
    docs = _t(spark, sf_dir, "documents")
    probes = docs.select(
        F.concat(
            F.lit("item#"), (F.col("doc_id") % 600).cast("string")
        ).alias("v")
    )
    return cms_estimate(
        cms_build(occurrences, "v", width=w, depth=d),
        probes, "v", width=w, depth=d,
    )


def _kg_cms_frequencies_sql() -> str:
    from deepee_spark.operators.sketches import cms_estimate_oracle_sql

    return cms_estimate_oracle_sql(
        "SELECT 'item#' || json_extract_string(props, '$.k') AS v"
        " FROM events",
        "SELECT 'item#' || CAST(doc_id % 600 AS VARCHAR) AS v"
        " FROM documents",
        1 << 12,
        4,
    )


def _kg_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic centrality (operators/graph.
    harmonic_centrality): landmark estimator of SUM(1/d) via per-seed
    BFS from every-50th-user seeds, 1e6 div dist integer scores."""
    from deepee_spark.operators.graph import harmonic_centrality

    ev = _t(spark, sf_dir, "events")
    seeds = (
        ev.filter(F.col("user_id") % 50 == 0)
        .select(F.concat(F.lit("user#"), F.col("user_id")).alias("node"))
        .distinct()
    )
    return harmonic_centrality(
        _kg_edge_proj(spark, sf_dir), seeds, max_hops=3
    )


def _kg_fact_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal fact resolution: for every (subj, pred) keep the most
    recent assertion by (ts, url) — the standard latest-wins merge when
    re-crawls re-assert facts about the same entity. Partitioned window
    (one shuffle on (subj, pred)); epoch-seconds long so both engines
    compare identical integers."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    t = ev.select(
        F.concat(F.lit("user#"), F.col("user_id")).alias("subj"),
        F.col("event_type").alias("pred"),
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("obj"),
        F.col("event_id").cast("string").alias("url"),
        F.unix_timestamp("ts").cast("long").alias("ts_epoch"),
    )
    w = W.partitionBy("subj", "pred").orderBy(
        F.desc("ts_epoch"), F.desc("url")
    )
    return (
        t.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


_KG_FACT_LATEST_SQL = """
SELECT subj, pred, obj, url, ts_epoch FROM (
  SELECT subj, pred, obj, url, ts_epoch,
         ROW_NUMBER() OVER (
           PARTITION BY subj, pred
           ORDER BY ts_epoch DESC, url DESC) AS rn
  FROM (
    SELECT 'user#' || CAST(user_id AS VARCHAR) AS subj,
           event_type AS pred,
           'item#' || json_extract_string(props, '$.k') AS obj,
           CAST(event_id AS VARCHAR) AS url,
           -- floor, not round: Spark unix_timestamp truncates the
           -- fractional second, and the tie-break must see the same
           -- truncated integer both engines order by
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
    FROM events))
WHERE rn = 1
"""


def _kg_fact_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-time fact resolution (operators/temporal.asof_join): for
    every click event, the item the user had most recently purchased at
    or before the click ("what did the KG believe at time t?"). Facts
    are deduped to one per (subj, ts) with kg_fact_latest's latest-wins
    tie-break, then resolved with the union-and-carry-forward window —
    ONE shuffle on subj, no range join, linear after the shuffle, the
    formulation that survives 10^12 facts. The DuckDB twin runs the
    engine's NATIVE ASOF JOIN (per-key binary search): agreement is a
    hard cross-engine check between two genuinely different algorithms.
    Reference anchor: DeepEE's KG consumers do this off-engine between
    re-crawls (RCEE util.py:335-351 splits fact sets by time)."""
    from pyspark.sql import Window as W

    from deepee_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.concat(F.lit("user#"), F.col("user_id")).alias("subj"),
        "event_type",
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("obj"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_timestamp("ts").cast("long").alias("ts_epoch"),
    )
    w = W.partitionBy("subj", "ts_epoch").orderBy(F.desc("event_id"))
    facts = (
        base.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("subj", "ts_epoch", "obj")
    )
    probes = base.filter(F.col("event_type") == "click").select(
        "subj", "ts_epoch", F.col("event_id").alias("probe_id")
    )
    return asof_join(facts, probes, ["subj"], "ts_epoch", ["obj"])


_KG_FACT_ASOF_SQL = """
WITH f AS (
  SELECT subj, ts_epoch, obj FROM (
    SELECT 'user#' || CAST(user_id AS VARCHAR) AS subj,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
           'item#' || json_extract_string(props, '$.k') AS obj,
           ROW_NUMBER() OVER (PARTITION BY user_id, floor(epoch(ts))
                              ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'purchase')
  WHERE rn = 1),
p AS (
  SELECT 'user#' || CAST(user_id AS VARCHAR) AS subj,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
         CAST(event_id AS BIGINT) AS probe_id
  FROM events WHERE event_type = 'click')
SELECT p.subj, p.ts_epoch, p.probe_id, f.obj
FROM p ASOF LEFT JOIN f
ON p.subj = f.subj AND p.ts_epoch >= f.ts_epoch
"""


def _kg_fact_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact validity intervals (operators/temporal.
    fact_validity_intervals): each user's signup-item history compressed
    into [valid_from, valid_to) ranges — consecutive re-assertions of
    the same item collapse (n_assertions counts them), an interval
    closes when a different item is asserted, valid_to NULL = still
    current. Gaps-and-islands over ONE partitioning of subj (single
    shuffle); facts deduped per (subj, ts) latest-wins first, same rule
    as kg_fact_latest. This is the bitemporal view kg_fact_latest's
    latest-wins merge throws away."""
    from pyspark.sql import Window as W

    from deepee_spark.operators.temporal import fact_validity_intervals

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup"
    )
    base = ev.select(
        F.concat(F.lit("user#"), F.col("user_id")).alias("subj"),
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("obj"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_timestamp("ts").cast("long").alias("ts_epoch"),
    )
    w = W.partitionBy("subj", "ts_epoch").orderBy(F.desc("event_id"))
    facts = (
        base.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("subj", "ts_epoch", "obj")
    )
    return fact_validity_intervals(facts, ["subj"], "ts_epoch", "obj")


_KG_FACT_INTERVALS_SQL = """
WITH f AS (
  SELECT subj, ts_epoch, obj FROM (
    SELECT 'user#' || CAST(user_id AS VARCHAR) AS subj,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
           'item#' || json_extract_string(props, '$.k') AS obj,
           ROW_NUMBER() OVER (PARTITION BY user_id, floor(epoch(ts))
                              ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'signup')
  WHERE rn = 1),
l AS (
  SELECT subj, ts_epoch, obj,
         LAG(obj) OVER (PARTITION BY subj ORDER BY ts_epoch) AS prev
  FROM f),
s AS (
  SELECT subj, ts_epoch, obj,
         SUM(CASE WHEN prev IS NULL OR prev <> obj THEN 1 ELSE 0 END)
           OVER (PARTITION BY subj ORDER BY ts_epoch
                 ROWS UNBOUNDED PRECEDING) AS seg
  FROM l),
g AS (
  SELECT subj, seg, MIN(obj) AS obj,
         MIN(ts_epoch) AS valid_from,
         CAST(COUNT(*) AS BIGINT) AS n_assertions
  FROM s GROUP BY subj, seg)
SELECT subj, obj, valid_from,
       LEAD(valid_from) OVER (PARTITION BY subj
                              ORDER BY valid_from) AS valid_to,
       n_assertions
FROM g
"""


# epoch(2024-01-10) / epoch(2024-01-20): inside the events table's span
_DIFF_T_OLD = 1704844800
_DIFF_T_NEW = 1705708800


def _kg_fact_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG diff between two crawl times (operators/temporal.fact_diff):
    per user, the purchased item in effect at t_old vs t_new, keeping
    only users whose fact changed (or first appeared) between the
    snapshots. ONE shuffle — both as-of values come from a single
    groupBy with FILTERed max_by aggregates; no window, no self-join.
    Facts deduped per (subj, ts) latest-wins first, kg_fact_latest's
    rule, so max_by sees unique timestamps."""
    from pyspark.sql import Window as W

    from deepee_spark.operators.temporal import fact_diff

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    base = ev.select(
        F.concat(F.lit("user#"), F.col("user_id")).alias("subj"),
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("obj"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_timestamp("ts").cast("long").alias("ts_epoch"),
    )
    w = W.partitionBy("subj", "ts_epoch").orderBy(F.desc("event_id"))
    facts = (
        base.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("subj", "ts_epoch", "obj")
    )
    return fact_diff(
        facts, ["subj"], "ts_epoch", "obj", _DIFF_T_OLD, _DIFF_T_NEW
    )


_KG_FACT_DIFF_SQL = f"""
WITH f AS (
  SELECT subj, ts_epoch, obj FROM (
    SELECT 'user#' || CAST(user_id AS VARCHAR) AS subj,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
           'item#' || json_extract_string(props, '$.k') AS obj,
           ROW_NUMBER() OVER (PARTITION BY user_id, floor(epoch(ts))
                              ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type = 'purchase')
  WHERE rn = 1 AND obj IS NOT NULL),
d AS (
  SELECT subj,
         max_by(obj, ts_epoch)
           FILTER (WHERE ts_epoch <= {_DIFF_T_OLD}) AS obj_old,
         max_by(obj, ts_epoch)
           FILTER (WHERE ts_epoch <= {_DIFF_T_NEW}) AS obj_new
  FROM f GROUP BY subj)
SELECT subj, obj_old, obj_new,
       CASE WHEN obj_old IS NULL THEN 'added'
            ELSE 'changed' END AS change
FROM d
WHERE obj_old IS DISTINCT FROM obj_new
"""


def _kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (operators/graph.kcore) of the co-order
    part graph: parts appearing in the same order form an edge (the
    self-join is keyed on l_orderkey, so fanout per order is bounded by
    its line count — no hub explosion); the 80-core is the densely
    co-ordered backbone with each node's in-core degree. k=80 genuinely
    peels at the contract scales (sf0.01: 2000 nodes -> 1857 in 6
    rounds; sf0.1: 20000 -> 18863 in 6) and both engines unroll the
    SAME 12-round cap, so the results agree bit-for-bit even before
    convergence — extra rounds at the fixpoint are no-ops."""
    from deepee_spark.operators.graph import kcore

    li = _t(spark, sf_dir, "lineitem")
    a = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").cast("long").alias("src"),
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").cast("long").alias("dst"),
    )
    edges = (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return kcore(edges, k=80, max_rounds=12)


_KG_KCORE_EDGES_SQL = """
SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS src,
       CAST(b.l_partkey AS BIGINT) AS dst
FROM lineitem a JOIN lineitem b
ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""


def _kg_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss decomposition (operators/graph.ktruss) of the same
    co-order part graph as kg_kcore: edges surviving when every edge
    must close >= k-2 triangles — the edge-level cohesion backbone,
    stricter than node-degree k-core. k=5 genuinely peels at sf0.01
    (115,729 -> 115,347 edges, converged in <= 5 rounds) and both
    engines unroll the SAME 5-round cap, so results agree bit-for-bit
    even pre-convergence."""
    from deepee_spark.operators.graph import ktruss

    li = _t(spark, sf_dir, "lineitem")
    a = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").cast("long").alias("src"),
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").cast("long").alias("dst"),
    )
    edges = (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return ktruss(edges, k=5, max_rounds=5)


def _triple_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram calibration of extraction confidence
    (operators/metrics.calibration_bins): integer milli-confidences
    binned by decile, exact integer mean-confidence and accuracy per
    bin. Synthetic-but-deterministic confidence/correct columns over
    events keep the whole check integer-exact cross-engine."""
    from deepee_spark.operators.metrics import calibration_bins

    ev = _t(spark, sf_dir, "events").select(
        ((F.col("event_id") * 37) % 1001).cast("long").alias("conf_milli"),
        (
            (F.col("user_id") + F.get_json_object("props", "$.k").cast("long"))
            % 3
            == 0
        ).alias("correct"),
    )
    return calibration_bins(ev, "conf_milli", "correct", bins=10)


_CALIBRATION_SQL = """
WITH u AS (
  SELECT CAST((event_id * 37) % 1001 AS BIGINT) AS conf_milli,
         (user_id + CAST(json_extract_string(props, '$.k') AS BIGINT))
           % 3 = 0 AS correct
  FROM events),
b AS (
  SELECT LEAST(conf_milli * 10 // 1000, 9) AS bin,
         conf_milli,
         CASE WHEN correct THEN 1 ELSE 0 END AS k
  FROM u)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(k) AS BIGINT) AS n_correct,
       CAST(SUM(conf_milli) // COUNT(*) AS BIGINT) AS mean_conf_milli,
       CAST((1000000 * SUM(k)) // COUNT(*) AS BIGINT) AS accuracy_e6
FROM b GROUP BY bin
"""


def _kg_schema_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ontology domain/range validation (operators/validation.
    domain_range_violations) over the purchase-edge projection: bots
    (user_id % 17 == 0) violate the 'purchase: user -> item' domain,
    items with k > 95 are unregistered so NULL kind violates range."""
    from deepee_spark.operators.validation import domain_range_violations

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    triples = ev.select(
        F.concat(F.lit("user#"), F.col("user_id")).alias("subj"),
        F.col("event_type").alias("pred"),
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("obj"),
    ).distinct()
    users = (
        ev.select(F.col("user_id").alias("uid"))
        .distinct()
        .select(
            F.concat(F.lit("user#"), F.col("uid")).alias("node"),
            F.when(F.col("uid") % 17 == 0, F.lit("bot"))
            .otherwise(F.lit("user"))
            .alias("kind"),
        )
    )
    items = (
        ev.select(
            F.get_json_object("props", "$.k").cast("long").alias("k")
        )
        .distinct()
        .filter(F.col("k") <= 95)
        .select(
            F.concat(F.lit("item#"), F.col("k")).alias("node"),
            F.lit("item").alias("kind"),
        )
    )
    cons = spark.createDataFrame(
        [("purchase", "user", "item")], ["pred", "subj_kind", "obj_kind"]
    )
    return domain_range_violations(
        triples, users.unionByName(items), cons
    )


_SCHEMA_VIOLATIONS_SQL = """
WITH ev AS (
  SELECT 'user#' || CAST(user_id AS VARCHAR) AS subj,
         event_type AS pred,
         'item#' || json_extract_string(props, '$.k') AS obj,
         user_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events WHERE event_type = 'purchase'),
triples AS (SELECT DISTINCT subj, pred, obj FROM ev),
kinds AS (
  SELECT DISTINCT 'user#' || CAST(user_id AS VARCHAR) AS node,
         CASE WHEN user_id % 17 = 0 THEN 'bot' ELSE 'user' END AS kind
  FROM ev
  UNION
  SELECT DISTINCT 'item#' || CAST(k AS VARCHAR) AS node, 'item' AS kind
  FROM ev WHERE k <= 95),
j AS (
  SELECT t.subj, t.pred, t.obj, sk.kind AS subj_kind, ok.kind AS obj_kind
  FROM triples t
  LEFT JOIN kinds sk ON sk.node = t.subj
  LEFT JOIN kinds ok ON ok.node = t.obj)
SELECT subj, pred, obj, subj_kind, obj_kind,
       CASE WHEN (subj_kind IS DISTINCT FROM 'user')
                 AND (obj_kind IS DISTINCT FROM 'item') THEN 'both'
            WHEN subj_kind IS DISTINCT FROM 'user' THEN 'domain'
            ELSE 'range' END AS violation
FROM j
WHERE subj_kind IS DISTINCT FROM 'user'
   OR obj_kind IS DISTINCT FROM 'item'
"""


def _text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 TF-IDF keywords (operators/textstats.tfidf_topk):
    total rank order via (round(score,6) DESC, token ASC) so both
    engines agree despite float IDF."""
    from deepee_spark.operators.textstats import tfidf_topk

    return tfidf_topk(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        k=5, min_df=2,
    )


_TFIDF_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents),
tf AS (
  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, token),
n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents),
dfq AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
  HAVING COUNT(DISTINCT doc_id) >= 2),
scored AS (
  SELECT t.doc_id, t.token, t.tf,
         ROUND(t.tf * ROUND(ln(n.n_docs / d.df), 6), 6) AS score
  FROM tf t JOIN dfq d USING (token), n),
ranked AS (
  SELECT doc_id, token, tf, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY score DESC, token ASC
         ) AS BIGINT) AS rank
  FROM scored)
SELECT doc_id, token, tf, score, rank FROM ranked WHERE rank <= 5
"""


def _kg_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic filtered negative sampling for KG-embedding
    training (operators/negatives.negative_samples): 2 hash-picked
    object corruptions per purchase triple, minus self/true-fact
    collisions; entity index built with the two-level prefix pattern
    (no global window)."""
    from deepee_spark.operators.negatives import negative_samples

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    triples = ev.select(
        F.concat(F.lit("user#"), F.col("user_id")).alias("subj"),
        F.lit("purchase").alias("pred"),
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("obj"),
    ).distinct()
    ents = triples.select(F.col("obj").alias("entity")).distinct()
    return negative_samples(triples, ents, k=2)


_KG_NEGATIVES_SQL = f"""
WITH tr AS (
  SELECT DISTINCT 'user#' || CAST(user_id AS VARCHAR) AS subj,
         'purchase' AS pred,
         'item#' || json_extract_string(props, '$.k') AS obj
  FROM events WHERE event_type = 'purchase'),
ents AS (SELECT DISTINCT obj AS entity FROM tr),
bkt AS (
  SELECT entity,
         {_md5_sql("entity")} % 64 AS b
  FROM ents),
rn AS (
  SELECT entity, b,
         ROW_NUMBER() OVER (PARTITION BY b ORDER BY entity) AS rn
  FROM bkt),
boff AS (
  SELECT b,
         COALESCE(SUM(n) OVER (ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM (SELECT b, COUNT(*) AS n FROM bkt GROUP BY b)),
idx AS (
  SELECT r.entity, CAST(o.off + r.rn - 1 AS BIGINT) AS idx
  FROM rn r JOIN boff o USING (b)),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_ents FROM ents),
cand AS (
  SELECT subj, pred, obj, CAST(i AS BIGINT) AS neg_i,
         ({_md5_sql("subj || pred || obj")} + i * 1000003) % n_ents
           AS pick
  FROM tr, n, UNNEST(generate_series(0, 1)) AS g(i)),
picked AS (
  SELECT c.subj, c.pred, c.obj, c.neg_i, x.entity AS obj_neg
  FROM cand c JOIN idx x ON x.idx = c.pick)
SELECT p.subj, p.pred, p.obj, p.neg_i, p.obj_neg
FROM picked p
WHERE p.obj_neg != p.obj
  AND NOT EXISTS (SELECT 1 FROM tr t
                  WHERE t.subj = p.subj AND t.pred = p.pred
                    AND t.obj = p.obj_neg)
"""


def _dedup_setjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join with AllPairs prefix filtering
    (operators/setjoin.jaccard_similarity_join): every SAME-SOURCE doc
    pair with distinct-token Jaccard >= 0.5, no false negatives — the
    exact counterpart of the MinHash-LSH probabilistic path, blocked
    by source (the synthetic corpus is genuinely pairwise-similar, so
    the unblocked OUTPUT is quadratic by construction). Oracle is the
    brute-force blocked all-pairs SQL (a different algorithm)."""
    from deepee_spark.operators.setjoin import jaccard_similarity_join

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.filter(F.split(F.col("text"), " "), lambda t: t != "").alias(
            "tokens"
        ),
    )
    return jaccard_similarity_join(
        docs, "doc_id", "tokens", 500, block_cols=["source"]
    )


_SETJOIN_SQL = f"""
WITH tok AS (
  SELECT doc_id, source, list_distinct({_TOKENS_SQL}) AS toks
  FROM documents
  WHERE len({_TOKENS_SQL}) > 0),
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b,
         CAST(len(list_intersect(x.toks, y.toks)) AS BIGINT) AS n_common,
         CAST(len(x.toks) + len(y.toks)
              - len(list_intersect(x.toks, y.toks)) AS BIGINT) AS n_union
  FROM tok x JOIN tok y
    ON x.doc_id < y.doc_id AND x.source = y.source)
SELECT a, b, n_common, n_union,
       CAST((1000000 * n_common) // n_union AS BIGINT) AS jaccard_e6
FROM pairs
WHERE (1000000 * n_common) // n_union >= 500000
"""


def _kg_entity_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item co-purchase association by PMI (operators/graph.
    co_occurrence_pmi): separates 'both popular' from genuine
    affinity; the one float is a single ln over exact integer counts,
    rounded 6dp on both engines."""
    from deepee_spark.operators.graph import co_occurrence_pmi

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    edges = ev.select(
        F.concat(
            F.lit("item#"), F.get_json_object("props", "$.k")
        ).alias("src"),
        F.concat(F.lit("user#"), F.col("user_id")).alias("dst"),
    )
    return co_occurrence_pmi(edges)


_KG_PMI_SQL = """
WITH e AS (
  SELECT DISTINCT 'item#' || json_extract_string(props, '$.k') AS src,
         'user#' || CAST(user_id AS VARCHAR) AS dst
  FROM events WHERE event_type = 'purchase'),
occ AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS occ FROM e GROUP BY src),
n AS (SELECT CAST(COUNT(DISTINCT dst) AS DOUBLE) AS n FROM e),
pairs AS (
  SELECT a.src AS a, b.src AS b, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
  GROUP BY a.src, b.src)
SELECT p.a, p.b, p.n_shared, oa.occ AS n_a, ob.occ AS n_b,
       ROUND(ln(n.n * p.n_shared / (oa.occ * ob.occ)), 6) AS pmi
FROM pairs p
JOIN occ oa ON oa.src = p.a
JOIN occ ob ON ob.src = p.b, n
"""


def _exact_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order-price quantiles (operators/quantiles.exact_quantile,
    iterative histogram refinement — no global sort, no
    approx_percentile sketch). Prices as exact integer cents via
    floor(x*100+0.5) so both engines share the same IEEE doubles."""
    from deepee_spark.operators.quantiles import exact_quantiles

    cents = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("long")
        .alias("cents")
    )
    return exact_quantiles(cents, "cents", [500, 900, 990])


_QUANTILES_SQL = """
WITH v AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
  FROM orders),
n AS (SELECT COUNT(*) AS n FROM v),
r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rk FROM v),
qs AS (SELECT UNNEST([500, 900, 990]) AS q)
SELECT CAST(qs.q AS BIGINT) AS q_permille, r.c AS value
FROM qs, n, r
WHERE r.rk = GREATEST(CAST(CEIL(qs.q * n.n / 1000.0) AS BIGINT), 1)
"""


def _event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (operators/temporal.sessionize): 30-min
    inactivity closes a user's session; per-session start/end/count.
    Single exchange (lag flag -> running count -> groupBy share one
    key partitioning)."""
    from deepee_spark.operators.temporal import sessionize

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").cast("long").alias("tsec")
    )
    return sessionize(ev, ["user_id"], "tsec", gap=1800)


_EVENT_SESSIONS_SQL = """
WITH ev AS (
  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS tsec FROM events),
flagged AS (
  SELECT user_id, tsec,
         CASE WHEN tsec - LAG(tsec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsec)),
seq AS (
  SELECT user_id, tsec,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsec
              ROWS UNBOUNDED PRECEDING) + 1 AS BIGINT) AS session_seq
  FROM flagged)
SELECT user_id, session_seq,
       CAST(MIN(tsec) AS BIGINT) AS session_start,
       CAST(MAX(tsec) AS BIGINT) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM seq GROUP BY user_id, session_seq
"""


def _kg_entity_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-entity burst detection (operators/temporal.
    activity_bursts): per-user daily event counts vs the trailing
    7-day baseline as an exact integer ratio; RANGE window over epoch
    day so gap days count as zero WITHOUT densifying user x day."""
    from deepee_spark.operators.temporal import activity_bursts

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day"),
    )
    return activity_bursts(ev, ["user_id"], "day", trailing=7)


_KG_BURSTS_SQL = """
WITH daily AS (
  SELECT user_id,
         -- epoch() is DOUBLE and CAST(double AS BIGINT) ROUNDS in
         -- DuckDB: FLOOR first to match Spark's floor(unix_ts/86400)
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2),
win AS (
  SELECT user_id, day, n_events,
         CAST(COALESCE(SUM(n_events) OVER (
           PARTITION BY user_id ORDER BY day
           RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS trailing_sum
  FROM daily)
SELECT user_id, day, n_events, trailing_sum,
       CAST((1000000 * n_events * 7) // GREATEST(trailing_sum, 1)
            AS BIGINT) AS burst_ratio_e6
FROM win
"""


def _kg_pagerank_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (operators/graph.pagerank_int_seeded):
    teleport mass split over a seed entity set only (every 50th user,
    the same seeds as kg_bfs), so rank measures proximity to the seeds
    rather than global centrality — "which entities matter relative to
    this domain", the topic-sensitive variant of kg_pagerank. Exact
    BIGINT recurrence, bit-identical to the unrolled-CTE twin."""
    from deepee_spark.operators.graph import pagerank_int_seeded

    ev = _t(spark, sf_dir, "events")
    seeds = (
        ev.filter(F.col("user_id") % 50 == 0)
        .select(F.concat(F.lit("user#"), F.col("user_id")).alias("node"))
        .distinct()
    )
    return pagerank_int_seeded(
        _kg_edge_proj(spark, sf_dir), seeds, iters=3
    )


def _kg_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction (operators/graph.
    resource_allocation): candidate user-user edges scored by
    sum(1e9 div fanout(shared item)) — the KG-completion ranking where
    rare shared neighbors count most and hubs count ~0. Exact BIGINT;
    same narrow-key discipline as kg_neighbor_jaccard (long user ids,
    xxhash64 item keys through the quadratic stage; labels concatenated
    onto the aggregated output); top-1000 by (ra_e9, a, b) bounds the
    driver payload while exercising the full wedge explosion."""
    from deepee_spark.operators.graph import resource_allocation

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        F.col("user_id").cast("long").alias("src"),
        F.xxhash64(F.get_json_object("props", "$.k")).alias("dst"),
    )
    out = resource_allocation(e).select(
        F.concat(F.lit("user#"), F.col("a")).alias("a"),
        F.concat(F.lit("user#"), F.col("b")).alias("b"),
        "ra_e9",
        "n_shared",
    )
    return out.orderBy(F.desc("ra_e9"), "a", "b").limit(1000)


def _kg_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label-propagation communities
    (operators/graph.label_propagation) over the co-order part graph
    (the kg_kcore edges): after 4 synchronous rounds every part holds
    the most-frequent-smallest neighbor label; communities are
    label-equality classes. Classic async LPA is run-order-dependent;
    the fixed-round synchronous variant with a total (count desc,
    label asc) tie-break is a pure function of the graph, so the
    unrolled MATERIALIZED-CTE DuckDB twin hash-matches bit-for-bit."""
    from deepee_spark.operators.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem")
    a = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").cast("long").alias("src"),
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").cast("long").alias("dst"),
    )
    edges = (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return label_propagation(edges, rounds=4)


def _kg_community_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition probe: LPA communities x integer PageRank over the
    same co-order part graph, rolled up per community — (label,
    n_members, total_rank). Both inputs are exact-integer/deterministic,
    so the composition inherits a hard oracle: the DuckDB twin nests
    both generators' unrolled CTEs and reproduces the rollup
    bit-for-bit. The community-level importance summary a KG browser
    shows first."""
    from deepee_spark.operators.graph import (
        label_propagation,
        pagerank_int,
    )

    li = _t(spark, sf_dir, "lineitem")
    a = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").cast("long").alias("src"),
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").cast("long").alias("dst"),
    )
    edges = (
        a.join(b, "ok")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    labels = label_propagation(edges, rounds=4)
    ranks = pagerank_int(edges, iters=3)
    return (
        labels.join(ranks, "node")
        .groupBy("lbl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum("rank").cast("long").alias("total_rank"),
        )
    )


def _kg_community_rank_sql() -> str:
    from deepee_spark.operators.graph import (
        label_propagation_oracle_sql,
        pagerank_oracle_sql,
    )

    lpa = label_propagation_oracle_sql(_KG_KCORE_EDGES_SQL, rounds=4)
    pr = pagerank_oracle_sql(_KG_KCORE_EDGES_SQL, iters=3)
    return f"""
WITH lpa AS MATERIALIZED ({lpa}),
pr AS MATERIALIZED ({pr})
SELECT lpa.lbl, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(pr.rank) AS BIGINT) AS total_rank
FROM lpa JOIN pr ON pr.node = lpa.node
GROUP BY lpa.lbl
"""


_KG_LINK_PREDICTION_SQL = """
WITH e AS (
  SELECT DISTINCT user_id AS u, json_extract_string(props, '$.k') AS i
  FROM events),
fan AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS fan FROM e GROUP BY i),
pairs AS (
  SELECT a.u AS ua, b.u AS ub,
         CAST(SUM(1000000000 // f.fan) AS BIGINT) AS ra_e9,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM e a JOIN e b ON a.i = b.i AND a.u < b.u
  JOIN fan f ON f.i = a.i
  GROUP BY a.u, b.u)
SELECT 'user#' || CAST(ua AS VARCHAR) AS a,
       'user#' || CAST(ub AS VARCHAR) AS b,
       ra_e9, n_shared
FROM pairs
ORDER BY ra_e9 DESC,
         'user#' || CAST(ua AS VARCHAR),
         'user#' || CAST(ub AS VARCHAR)
LIMIT 1000
"""


def _sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing: whitespace token counts ->
    hash-sharded greedy bins of 512 tokens (shard = the shared diffused
    rolling hash, so the oracle replays the assignment; the per-shard
    cumulative window is the two-level pattern — no global sort).
    operators/packing.pack_sequences."""
    from deepee_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
        .cast("long")
        .alias("n_tokens"),
    )
    return pack_sequences(docs, "doc_id", "n_tokens",
                          budget=512, n_shards=16)


_SEQPACK_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\\s+'),
                              x -> x != '')) AS BIGINT) AS n_tokens,
         ({_HASH_SQL.format(col='CAST(doc_id AS VARCHAR)')})
           * 2654435761 % 1000000007 % 16 AS shard
  FROM documents)
SELECT doc_id, n_tokens, shard,
       CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
              PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            / 512.0) AS BIGINT) AS bin
FROM t
"""


_EE_TRIGGER_SQL = f"""
WITH tok AS (
  SELECT unnest(list_slice({_TOKENS_SQL}, 1, 50)) AS token
  FROM documents WHERE len(list_slice({_TOKENS_SQL}, 1, 50)) >= 5)
SELECT lex_event_type AS event_type, COUNT(*) AS n
FROM tok JOIN {_lexicon_values()} ON token = word
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# sequence-labeling operator family (S4 / SC2 / SC3 / A4; EEGCN+JMEE lineage)
#
# Tags are synthesized deterministically from the shared fold hash so both
# dialects derive the identical IOB stream:  h%5==0 -> B-E, h%5==1 -> I-E,
# else O.  The "pred" stream for A4 demotes tags where (h*7)%11==0 -> O.
# ---------------------------------------------------------------------------

TOK_CAP = 30  # bound per-doc token stream for the labeling family


def _tok_pos(docs, cap: int = TOK_CAP):
    """(doc_id, pos 1-based, token) exploded token stream."""
    return docs.select(
        "doc_id", F.posexplode(F.slice(_tokens(), 1, cap)).alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")


_TOK_POS_SQL = f"""
  SELECT doc_id, u.pos, u.tok AS token FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(list_slice({_TOKENS_SQL}, 1, {TOK_CAP}))+1),
                  i -> {{'pos': i, 'tok': list_slice({_TOKENS_SQL}, 1, {TOK_CAP})[i]}})) AS u
    FROM documents)
"""


def _with_tags(tp):
    """Attach the synthetic IOB tag + demoted pred tag (shared rule).

    The fold hash is materialized through a repartition barrier: the tag
    and ptag expressions reference it 3x, and projection collapse would
    otherwise re-run the per-character fold per reference. The shuffle
    also pre-distributes by doc_id for the per-document tag arrays
    downstream.
    """
    spark = tp.sparkSession
    hashed = tp.withColumn("h", str_hash(F.col("token"))).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    h = F.col("h")
    tag = (
        F.when(h % 5 == 0, F.lit("B-E"))
        .when(h % 5 == 1, F.lit("I-E"))
        .otherwise(F.lit("O"))
    )
    demote = (h * 7) % 11 == 0
    return hashed.select(
        "doc_id",
        "pos",
        "token",
        tag.alias("tag"),
        F.when(demote, F.lit("O")).otherwise(tag).alias("ptag"),
    )


_TAGS_SQL = f"""
  SELECT doc_id, pos, token,
         CASE WHEN h % 5 = 0 THEN 'B-E' WHEN h % 5 = 1 THEN 'I-E' ELSE 'O' END AS tag,
         CASE WHEN (h * 7) % 11 = 0 THEN 'O'
              ELSE CASE WHEN h % 5 = 0 THEN 'B-E' WHEN h % 5 = 1 THEN 'I-E' ELSE 'O' END
         END AS ptag
  FROM (SELECT doc_id, pos, token, {_HASH_SQL.format(col='token')} AS h
        FROM ({_TOK_POS_SQL}))
"""


def _s4_conll_scan(spark, sf):
    """S4: CoNLL-style line stream (token lines + blank separators) re-grouped
    into sentences by the running-blank-count window (EEGCN loader.py:7-27).

    The line stream is synthesized as each doc's tokens followed by one blank
    line; the scan itself sees only (line_id, line).

    Scale note: the running-blank-count is a global prefix sum, but it is
    computed as a TWO-LEVEL window so no single task ever sees the whole
    stream: (1) a per-bucket prefix sum partitioned by line_id div 1000
    (parallel across buckets), (2) a prefix sum over the 1000x-smaller
    per-bucket totals, joined back on bucket (AQE broadcasts it when
    small). The level-2 window can be applied recursively for another
    1000x if the bucket table itself outgrows one task."""
    docs = _t(spark, sf, "documents")
    lines = docs.select(
        "doc_id",
        F.posexplode(
            F.concat(F.slice(_tokens(), 1, TOK_CAP), F.array(F.lit("")))
        ).alias("pos0", "line"),
    ).select(
        (F.col("doc_id") * 1000 + F.col("pos0") + 1).alias("line_id"), "line"
    )
    from pyspark.sql import Window as W

    blank = F.when(F.col("line") == "", 1).otherwise(0)
    lines = lines.withColumn("bucket", F.floor(F.col("line_id") / 1000))
    inner = F.coalesce(
        F.sum(blank).over(
            W.partitionBy("bucket")
            .orderBy("line_id")
            .rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    totals = lines.groupBy("bucket").agg(F.sum(blank).alias("bucket_blanks"))
    prefix = totals.select(
        "bucket",
        F.coalesce(
            F.sum("bucket_blanks").over(
                W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("bucket_prefix"),
    )
    sent = (
        lines.withColumn("inner_prefix", inner)
        .join(prefix, "bucket")
        .withColumn(
            "sent_key", (F.col("bucket_prefix") + F.col("inner_prefix")).cast("long")
        )
        .filter(F.col("line") != "")
    )
    toks = sent.groupBy("sent_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.min("line_id").alias("first_line"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("line_id", "line"))),
            lambda s: s["line"],
        ).alias("toks"),
    )
    return toks.select(
        "sent_key",
        "n_tokens",
        "first_line",
        str_hash(F.concat_ws(" ", F.col("toks"))).alias("sent_hash"),
    )


_S4_SQL = f"""
WITH lines AS (
  SELECT doc_id * 1000 + u.pos AS line_id, u.tok AS line FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, len(list_concat(list_slice({_TOKENS_SQL}, 1, {TOK_CAP}), ['']))+1),
             i -> {{'pos': i,
                    'tok': list_concat(list_slice({_TOKENS_SQL}, 1, {TOK_CAP}), [''])[i]}})) AS u
    FROM documents)),
keyed AS (
  SELECT line_id, line,
         COALESCE(SUM(CASE WHEN line = '' THEN 1 ELSE 0 END) OVER
           (ORDER BY line_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sent_key
  FROM lines),
grouped AS (
  SELECT CAST(sent_key AS BIGINT) AS sent_key,
         CAST(COUNT(*) AS BIGINT) AS n_tokens, MIN(line_id) AS first_line,
         list(line ORDER BY line_id) AS toks
  FROM keyed WHERE line != '' GROUP BY sent_key)
SELECT sent_key, n_tokens, first_line,
       {_HASH_SQL.format(col="list_reduce(toks, (a, b) -> a || ' ' || b)")} AS sent_hash
FROM grouped
"""


def _tag_arrays(tagged, tagcol: str):
    """(doc_id, tags): each document's ``tagcol`` values in pos order."""
    return tagged.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", tagcol))),
            lambda s: s[tagcol],
        ).alias("tags")
    )


def _sc2_iob_iobes(spark, sf):
    """SC2: IOB -> IOBES (EEGCN data_utils.py:17-37) through
    operators/bio.iob_to_iobes over each document's tag array."""
    from deepee_spark.operators.bio import iob_to_iobes

    tagged = _with_tags(_tok_pos(_t(spark, sf, "documents")))
    conv = _tag_arrays(tagged, "tag").select(
        "doc_id", "tags", F.posexplode(iob_to_iobes(F.col("tags"))).alias("i", "iobes")
    )
    return conv.select(
        "doc_id",
        (F.col("i") + 1).alias("pos"),
        F.col("tags")[F.col("i")].alias("tag"),
        "iobes",
    )

_SC2_SQL = f"""
WITH tagged AS ({_TAGS_SQL}),
w AS (SELECT doc_id, pos, tag,
             COALESCE(lead(tag) OVER (PARTITION BY doc_id ORDER BY pos), 'O') AS nxt
      FROM tagged)
SELECT doc_id, pos, tag,
       CASE WHEN tag = 'O' THEN 'O'
            WHEN tag LIKE 'B-%' THEN
              CASE WHEN nxt LIKE 'I-%' THEN tag ELSE 'S-' || substr(tag, 3) END
            ELSE CASE WHEN nxt LIKE 'I-%' THEN tag ELSE 'E-' || substr(tag, 3) END
       END AS iobes
FROM w
"""


def _bio_chunks(tagged, tagcol: str):
    """SC3 BIO merge (JMEE testing.py:25-60) through
    operators/bio.bio_merge_spans -> (doc_id, start, end, ctype) with
    inclusive 1-based positions (pos is 1-based and gap-free per doc)."""
    from deepee_spark.operators.bio import bio_merge_spans

    spans = _tag_arrays(tagged, tagcol).select(
        "doc_id", F.explode(bio_merge_spans(F.col("tags"))).alias("s")
    )
    return spans.select(
        "doc_id",
        (F.col("s.start") + 1).alias("start"),
        F.col("s.end").alias("end"),
        F.col("s.etype").alias("ctype"),
    )

_CHUNKS_SQL_TMPL = """
  SELECT doc_id, MIN(pos) AS start, MAX(pos) AS "end", MIN(substr({tc}, 3)) AS ctype
  FROM (
    SELECT doc_id, pos, {tc},
           SUM(is_start) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id
    FROM (
      SELECT doc_id, pos, {tc},
             CASE WHEN {tc} = 'O' THEN 0
                  WHEN {tc} LIKE 'B-%' THEN 1
                  WHEN COALESCE(lag({tc}) OVER (PARTITION BY doc_id ORDER BY pos), 'O') = 'O' THEN 1
                  WHEN substr(COALESCE(lag({tc}) OVER (PARTITION BY doc_id ORDER BY pos), 'O'), 3)
                       != substr({tc}, 3) THEN 1
                  ELSE 0 END AS is_start
      FROM tagged))
  WHERE {tc} != 'O' GROUP BY doc_id, chunk_id
"""


def _sc2b_iobes_roundtrip(spark, sf):
    """SC2 reverse path: iob_to_iobes then iobes_to_iob must be the
    identity (EEGCN data_utils.py:66-84); checked per document over the
    array-level operators."""
    from deepee_spark.operators.bio import iob_to_iobes, iobes_to_iob

    tagged = _with_tags(_tok_pos(_t(spark, sf, "documents")))
    conv = _tag_arrays(tagged, "tag").select(
        "doc_id", "tags", iob_to_iobes(F.col("tags")).alias("iobes")
    )
    return conv.select(
        "doc_id",
        F.concat_ws(" ", "iobes").alias("iobes_seq"),
        (iobes_to_iob(F.col("iobes")) == F.col("tags")).cast("int").alias(
            "roundtrip_ok"
        ),
    )


_SC2B_SQL = f"""
WITH tagged AS ({_TAGS_SQL}),
w AS (SELECT doc_id, pos, tag,
             COALESCE(lead(tag) OVER (PARTITION BY doc_id ORDER BY pos), 'O') AS nxt
      FROM tagged),
conv AS (SELECT doc_id, pos, tag,
       CASE WHEN tag = 'O' THEN 'O'
            WHEN tag LIKE 'B-%' THEN
              CASE WHEN nxt LIKE 'I-%' THEN tag ELSE 'S-' || substr(tag, 3) END
            ELSE CASE WHEN nxt LIKE 'I-%' THEN tag ELSE 'E-' || substr(tag, 3) END
       END AS iobes
  FROM w),
back AS (SELECT doc_id, pos, tag, iobes,
       CASE WHEN iobes LIKE 'S-%' THEN 'B-' || substr(iobes, 3)
            WHEN iobes LIKE 'E-%' THEN 'I-' || substr(iobes, 3)
            ELSE iobes END AS iob_again
  FROM conv)
SELECT doc_id,
       string_agg(iobes, ' ' ORDER BY pos) AS iobes_seq,
       CAST(MIN(CASE WHEN iob_again = tag THEN 1 ELSE 0 END) AS INT)
         AS roundtrip_ok
FROM back GROUP BY doc_id
"""


def _sc3_bio_chunks(spark, sf):
    tagged = _with_tags(_tok_pos(_t(spark, sf, "documents")))
    return _bio_chunks(tagged, "tag")


_SC3_SQL = f"""
WITH tagged AS ({_TAGS_SQL})
{_CHUNKS_SQL_TMPL.format(tc='tag')}
"""


def _a4_chunk_prf(spark, sf):
    """A4/A5: conlleval-style per-type chunk P/R/F1, pred vs gold
    (EEGCN conlleval.py:52-210; seqeval JMEE testing.py)."""
    tagged = _with_tags(_tok_pos(_t(spark, sf, "documents")))
    gold = _bio_chunks(tagged, "tag")
    pred = _bio_chunks(tagged, "ptag")
    correct = gold.join(pred, ["doc_id", "start", "end", "ctype"]).groupBy(
        "ctype"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_correct"))
    g = gold.groupBy("ctype").agg(F.count(F.lit(1)).cast("long").alias("n_gold"))
    p = pred.groupBy("ctype").agg(F.count(F.lit(1)).cast("long").alias("n_pred"))
    j = (
        g.join(p, "ctype", "full")
        .join(correct, "ctype", "left")
        .select(
            "ctype",
            F.coalesce("n_gold", F.lit(0)).alias("n_gold"),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.coalesce("n_correct", F.lit(0)).alias("n_correct"),
        )
    )
    prec = F.when(F.col("n_pred") > 0, F.col("n_correct") / F.col("n_pred")).otherwise(F.lit(0.0))
    rec = F.when(F.col("n_gold") > 0, F.col("n_correct") / F.col("n_gold")).otherwise(F.lit(0.0))
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(F.lit(0.0))
    return j.select(
        "ctype", "n_gold", "n_pred", "n_correct",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


_A4_SQL = f"""
WITH tagged AS ({_TAGS_SQL}),
gold AS ({_CHUNKS_SQL_TMPL.format(tc='tag')}),
ptagged AS (SELECT doc_id, pos, ptag AS tag FROM tagged),
pred AS (
  SELECT doc_id, MIN(pos) AS start, MAX(pos) AS "end", MIN(substr(tag, 3)) AS ctype
  FROM (
    SELECT doc_id, pos, tag,
           SUM(is_start) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id
    FROM (
      SELECT doc_id, pos, tag,
             CASE WHEN tag = 'O' THEN 0
                  WHEN tag LIKE 'B-%' THEN 1
                  WHEN COALESCE(lag(tag) OVER (PARTITION BY doc_id ORDER BY pos), 'O') = 'O' THEN 1
                  WHEN substr(COALESCE(lag(tag) OVER (PARTITION BY doc_id ORDER BY pos), 'O'), 3)
                       != substr(tag, 3) THEN 1
                  ELSE 0 END AS is_start
      FROM ptagged))
  WHERE tag != 'O' GROUP BY doc_id, chunk_id),
c AS (SELECT g.ctype, CAST(COUNT(*) AS BIGINT) AS n_correct
      FROM gold g JOIN pred p
        ON g.doc_id = p.doc_id AND g.start = p.start AND g."end" = p."end" AND g.ctype = p.ctype
      GROUP BY g.ctype),
gg AS (SELECT ctype, CAST(COUNT(*) AS BIGINT) AS n_gold FROM gold GROUP BY ctype),
pp AS (SELECT ctype, CAST(COUNT(*) AS BIGINT) AS n_pred FROM pred GROUP BY ctype),
j AS (SELECT COALESCE(gg.ctype, pp.ctype) AS ctype,
             COALESCE(n_gold, 0) AS n_gold, COALESCE(n_pred, 0) AS n_pred,
             COALESCE(n_correct, 0) AS n_correct
      FROM gg FULL JOIN pp ON gg.ctype = pp.ctype
      LEFT JOIN c ON COALESCE(gg.ctype, pp.ctype) = c.ctype)
SELECT ctype, n_gold, n_pred, n_correct,
       ROUND(CASE WHEN n_pred > 0 THEN n_correct / CAST(n_pred AS DOUBLE) ELSE 0.0 END, 6) AS precision,
       ROUND(CASE WHEN n_gold > 0 THEN n_correct / CAST(n_gold AS DOUBLE) ELSE 0.0 END, 6) AS recall,
       ROUND(CASE WHEN (CASE WHEN n_pred > 0 THEN n_correct / CAST(n_pred AS DOUBLE) ELSE 0.0 END)
                     + (CASE WHEN n_gold > 0 THEN n_correct / CAST(n_gold AS DOUBLE) ELSE 0.0 END) > 0
                  THEN 2 * (CASE WHEN n_pred > 0 THEN n_correct / CAST(n_pred AS DOUBLE) ELSE 0.0 END)
                         * (CASE WHEN n_gold > 0 THEN n_correct / CAST(n_gold AS DOUBLE) ELSE 0.0 END)
                       / ((CASE WHEN n_pred > 0 THEN n_correct / CAST(n_pred AS DOUBLE) ELSE 0.0 END)
                        + (CASE WHEN n_gold > 0 THEN n_correct / CAST(n_gold AS DOUBLE) ELSE 0.0 END))
                  ELSE 0.0 END, 6) AS f1
FROM j
"""


def _j2_embedding_alignment(spark, sf):
    """J2: pretrained-embedding alignment cascade — exact, lower(),
    digit-normalized — 3 left joins + coalesce (EEGCN data_utils.py:109-121)."""
    docs = _t(spark, sf, "documents")
    mentions = _tok_pos(docs).select("token").distinct()
    pre = (
        mentions.select(F.lower(F.col("token")).alias("word"))
        .distinct()
        .filter(str_hash(F.col("word")) % 3 == 0)
    )
    e = pre.select(F.col("word").alias("w_exact"))
    l = pre.select(F.col("word").alias("w_lower"))
    d = pre.select(F.col("word").alias("w_dig"))
    dig = F.regexp_replace(F.lower(F.col("token")), "[0-9]", "0")
    out = (
        mentions.join(F.broadcast(e), F.col("token") == F.col("w_exact"), "left")
        .join(F.broadcast(l), F.lower(F.col("token")) == F.col("w_lower"), "left")
        .join(F.broadcast(d), dig == F.col("w_dig"), "left")
    )
    method = (
        F.when(F.col("w_exact").isNotNull(), "exact")
        .when(F.col("w_lower").isNotNull(), "lower")
        .when(F.col("w_dig").isNotNull(), "dignorm")
        .otherwise("unk")
    )
    return out.select(
        "token",
        F.coalesce("w_exact", "w_lower", "w_dig", F.lit("<UNK>")).alias("matched"),
        method.alias("method"),
    )


_J2_SQL = f"""
WITH mentions AS (SELECT DISTINCT token FROM ({_TOK_POS_SQL})),
pre AS (SELECT DISTINCT lower(token) AS word FROM mentions
        WHERE {_HASH_SQL.format(col='lower(token)')} % 3 = 0)
SELECT m.token,
       COALESCE(e.word, l.word, d.word, '<UNK>') AS matched,
       CASE WHEN e.word IS NOT NULL THEN 'exact'
            WHEN l.word IS NOT NULL THEN 'lower'
            WHEN d.word IS NOT NULL THEN 'dignorm'
            ELSE 'unk' END AS method
FROM mentions m
LEFT JOIN pre e ON m.token = e.word
LEFT JOIN pre l ON lower(m.token) = l.word
LEFT JOIN pre d ON regexp_replace(lower(m.token), '[0-9]', '0', 'g') = d.word
"""


def _gazetteer_values() -> str:
    rows = ", ".join(
        f"('{w}', '{et}')" for w, (et, _eid) in sorted(ENTITY_GAZETTEER.items())
    )
    return f"(VALUES {rows}) AS gaz(gword, entity_type)"


# synthetic (event_type, entity_type) -> role rule subset; unmatched pairs
# coalesce to OTHER (JMEE ee.py:227-236 gold-match semantics)
_J6_RULE = [
    ("ev0", "et0", "Agent"),
    ("ev0", "et1", "Place"),
    ("ev1", "et0", "Victim"),
    ("ev2", "et1", "Instrument"),
]


def _j6_trigger_entity_pairs(spark, sf):
    """J6+J7: within-sentence trigger x entity cross product (JMEE
    ee.py:150-172) + gold-match role join with coalesce('OTHER')
    (ee.py:227-236). Trigger/entity vocabularies are hash-derived from the
    corpus so both engines block identically."""
    docs = _t(spark, sf, "documents")
    h = str_hash(F.col("token"))
    tp = _tok_pos(docs).withColumn("h", h)
    trig = tp.filter(F.col("h") % 7 == 0).select(
        "doc_id",
        F.col("pos").alias("tpos"),
        F.concat(F.lit("ev"), (F.col("h") % 3).cast("string")).alias("event_type"),
    )
    ents = tp.filter(F.col("h") % 7 == 1).select(
        "doc_id",
        F.col("pos").alias("epos"),
        F.concat(F.lit("et"), (F.col("h") % 2).cast("string")).alias("entity_type"),
        F.col("token").alias("surface"),
    )
    rr = spark.createDataFrame(_J6_RULE, ["r_event", "r_etype", "role"])
    pairs = trig.join(ents, "doc_id")
    return pairs.join(
        F.broadcast(rr),
        (pairs.event_type == rr.r_event) & (pairs.entity_type == rr.r_etype),
        "left",
    ).select(
        "doc_id", "tpos", "epos", "event_type", "entity_type", "surface",
        F.coalesce("role", F.lit("OTHER")).alias("role"),
    )


_J6_RULE_SQL = (
    "(VALUES "
    + ", ".join(f"('{a}', '{b}', '{r}')" for a, b, r in _J6_RULE)
    + ") AS rr(r_event, r_etype, role)"
)

_J6_SQL = f"""
WITH tp AS (SELECT doc_id, pos, token, {_HASH_SQL.format(col='token')} AS h
            FROM ({_TOK_POS_SQL})),
trig AS (SELECT doc_id, pos AS tpos, 'ev' || CAST(h % 3 AS VARCHAR) AS event_type
         FROM tp WHERE h % 7 = 0),
ents AS (SELECT doc_id, pos AS epos, 'et' || CAST(h % 2 AS VARCHAR) AS entity_type,
                token AS surface
         FROM tp WHERE h % 7 = 1)
SELECT t.doc_id, t.tpos, e.epos, t.event_type, e.entity_type, e.surface,
       COALESCE(rr.role, 'OTHER') AS role
FROM trig t JOIN ents e ON t.doc_id = e.doc_id
LEFT JOIN {_J6_RULE_SQL}
  ON t.event_type = rr.r_event AND e.entity_type = rr.r_etype
"""


def _sc13_dep_edges(spark, sf):
    """SC13: parse 'rel/dep=i/gov=j' edge strings -> COO triples; add
    reverse + self-loop edge types (JMEE Sentence.py:114-137, MOGANED
    data_load.py:100-123). Edge strings synthesized i -> floor(i/2)."""
    docs = _t(spark, sf, "documents")
    n = F.least(F.size(_tokens()), F.lit(12))
    edge_strs = F.transform(
        F.sequence(F.lit(2), n),
        lambda i: F.concat(
            F.lit("dep/dep="), i.cast("string"),
            F.lit("/gov="), F.floor(i / 2).cast("long").cast("string"),
        ),
    )
    base = docs.filter(F.size(_tokens()) >= 2).select(
        "doc_id", F.explode(edge_strs).alias("es"), n.alias("n")
    )
    parts = F.split(F.col("es"), "/")
    dep = F.split(F.element_at(parts, 2), "=")[1].cast("int")
    gov = F.split(F.element_at(parts, 3), "=")[1].cast("int")
    parsed = base.select("doc_id", "n", dep.alias("dep"), gov.alias("gov"))
    fwd = parsed.select(
        "doc_id", F.lit("fwd").alias("etype"),
        F.col("gov").alias("src"), F.col("dep").alias("dst"),
    )
    rev = parsed.select(
        "doc_id", F.lit("rev").alias("etype"),
        F.col("dep").alias("src"), F.col("gov").alias("dst"),
    )
    loops = docs.filter(F.size(_tokens()) >= 2).select(
        "doc_id", F.explode(F.sequence(F.lit(1), n)).alias("i")
    ).select(
        "doc_id", F.lit("self").alias("etype"),
        F.col("i").alias("src"), F.col("i").alias("dst"),
    )
    return fwd.unionByName(rev).unionByName(loops)


_SC13_SQL = f"""
WITH d AS (SELECT doc_id, least(len({_TOKENS_SQL}), 12) AS n
           FROM documents WHERE len({_TOKENS_SQL}) >= 2),
es AS (SELECT doc_id, n,
              unnest(list_transform(range(2, n + 1),
                i -> 'dep/dep=' || i || '/gov=' || CAST(i // 2 AS BIGINT))) AS e
       FROM d),
parsed AS (SELECT doc_id,
                  CAST(string_split(string_split(e, '/')[2], '=')[2] AS INT) AS dep,
                  CAST(string_split(string_split(e, '/')[3], '=')[2] AS INT) AS gov
           FROM es)
SELECT doc_id, 'fwd' AS etype, gov AS src, dep AS dst FROM parsed
UNION ALL
SELECT doc_id, 'rev' AS etype, dep AS src, gov AS dst FROM parsed
UNION ALL
SELECT doc_id, 'self' AS etype, CAST(i AS INT) AS src, CAST(i AS INT) AS dst
FROM d, unnest(range(1, n + 1)) AS u(i)
"""


# ---------------------------------------------------------------------------
# SC4: label pretty_str (JMEE Sentence.py:4-11 — uppercase, '-'->'|',
# ':'->'||', B-/I- prefix preserved) over synthesized BIO event labels
# ---------------------------------------------------------------------------

def _sc4_label_pretty(spark, sf):
    ev = _t(spark, sf, "events")
    tag = F.concat(F.lit("B-"), F.col("event_type"))
    body = F.substring(tag, 3, 100)
    pretty = F.concat(
        F.substring(tag, 1, 2),
        F.regexp_replace(
            F.regexp_replace(F.upper(body), ":", "||"), "-", "|"
        ),
    )
    return ev.select(tag.alias("tag"), pretty.alias("pretty")).distinct()


_SC4_SQL = """
SELECT DISTINCT 'B-' || event_type AS tag,
       substr('B-' || event_type, 1, 2) ||
       replace(replace(upper(substr('B-' || event_type, 3)), ':', '||'), '-', '|') AS pretty
FROM events
"""


# ---------------------------------------------------------------------------
# F3: keep_events filter (JMEE Data.py:175-190 — keep records with >= N /
# exactly N events) realized per-user over the events table
# ---------------------------------------------------------------------------

F3_MIN_EVENTS = 12


def _f3_keep_events(spark, sf):
    ev = _t(spark, sf, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    return per_user.filter(F.col("n_events") >= F3_MIN_EVENTS)


_F3_SQL = f"""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id HAVING COUNT(*) >= {F3_MIN_EVENTS}
"""


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (dedup library, blocked by label to bound the
# pair space exactly as the operator does at scale)
# ---------------------------------------------------------------------------

DUP_COS = 0.2
# tighter threshold for the CLUSTER query: at 0.2 the sf0.01 graph is one
# giant component; 0.4 yields ~12 distinct clusters — a real CC exercise
CLUSTER_COS = 0.4


def _dedup_embedding_cosine(spark, sf):
    """Embedding near-dup through the operator's DEFAULT LSH-bucket
    blocking (hyperplane sign buckets, 1-bit multi-probe): the oracle
    re-derives the candidate rule (Hamming distance <= 1 between
    buckets) relationally, so the bucket boundary behaviour itself is
    what is checked."""
    from deepee_spark.operators.dedup import embedding_dup_pairs

    emb = _t(spark, sf, "embeddings")
    return embedding_dup_pairs(
        emb, "vec_id", "embedding", dim=64, min_cosine=DUP_COS
    )


_DEDUP_EMB_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding,
         CAST({' + '.join(_LSH_PLANE_TERM.format(p=p, bit=1 << p) for p in range(8))} AS BIGINT) AS bucket
  FROM embeddings),
cand AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         ROUND({_DOT_SQL.format(a='a.embedding', b='b2.embedding')} /
               (sqrt({_DOT_SQL.format(a='a.embedding', b='a.embedding')}) *
                sqrt({_DOT_SQL.format(a='b2.embedding', b='b2.embedding')})), 6) AS cosine
  FROM b a JOIN b b2
    ON a.vec_id < b2.vec_id
   AND (xor(a.bucket, b2.bucket) & (xor(a.bucket, b2.bucket) - 1)) = 0)
SELECT id_a, id_b, cosine FROM cand WHERE cosine >= {DUP_COS}
"""


def _kg_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality AUDIT for the LSH near-dup path: pair recall of
    the hyperplane-LSH candidates vs exact all-pairs ground truth at
    the same threshold. Both sides run the SAME gemm scorer
    (operators/dedup.embedding_dup_pairs) — the LSH run with its
    hamming<=1 bucket rule, the truth run with a constant block (brute
    all-pairs; audit-scale only — at corpus scale you run this on a
    hash-sampled slice). LSH candidates are a subset of all pairs, so
    recall_e6 <= 1e6 by construction; integer division keeps it
    engine-exact.

    Reading the number: hyperplane-LSH collision probability is
    1 - theta/pi per plane, so recall climbs steeply with the cosine
    threshold. The synthetic corpus has no true near-dups, so DUP_COS
    sits at 0.2 to produce pairs at all — and the audit duly reports
    the ~18% recall 8 planes give barely-correlated pairs. At a real
    near-dup threshold (0.9+) the same setup recalls >95%; THAT is the
    regime the pipeline runs in, and exactly what this query exists to
    verify when the embedding distribution changes."""
    from deepee_spark.operators.dedup import embedding_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    found = embedding_dup_pairs(
        emb, "vec_id", "embedding", dim=64, min_cosine=DUP_COS
    ).count()
    true = embedding_dup_pairs(
        emb.withColumn("blk", F.lit(1)),
        "vec_id", "embedding", dim=64, min_cosine=DUP_COS,
        block_col="blk",
    ).count()
    return spark.createDataFrame(
        [(int(true), int(found), 1_000_000 * int(found) // int(true))],
        "n_true: long, n_found: long, recall_e6: long",
    )


_KG_LSH_RECALL_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding,
         CAST({' + '.join(_LSH_PLANE_TERM.format(p=p, bit=1 << p) for p in range(8))} AS BIGINT) AS bucket
  FROM embeddings),
allp AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         (xor(a.bucket, b2.bucket) & (xor(a.bucket, b2.bucket) - 1)) = 0
           AS is_cand,
         ROUND({_DOT_SQL.format(a='a.embedding', b='b2.embedding')} /
               (sqrt({_DOT_SQL.format(a='a.embedding', b='a.embedding')}) *
                sqrt({_DOT_SQL.format(a='b2.embedding', b='b2.embedding')})), 6) AS cosine
  FROM b a JOIN b b2 ON a.vec_id < b2.vec_id),
cnt AS (
  SELECT CAST(COUNT(*) FILTER (cosine >= {DUP_COS}) AS BIGINT) AS n_true,
         CAST(COUNT(*) FILTER (cosine >= {DUP_COS} AND is_cand) AS BIGINT)
           AS n_found
  FROM allp)
SELECT n_true, n_found,
       CAST((1000000 * n_found) // n_true AS BIGINT) AS recall_e6
FROM cnt
"""


def _kg_lsh_recall_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kg_lsh_recall with 4 independent LSH tables (the standard recall
    amplification the single-table audit motivates): P[miss] is the
    product of the per-table miss probabilities, so recall_e6 must sit
    well above the 1-table number at the same threshold — measured
    ~18% -> ~50% on this corpus. Same integer metric, same gemm scorer
    on both paths."""
    from deepee_spark.operators.dedup import embedding_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    found = embedding_dup_pairs(
        emb, "vec_id", "embedding", dim=64, min_cosine=DUP_COS, tables=4
    ).count()
    true = embedding_dup_pairs(
        emb.withColumn("blk", F.lit(1)),
        "vec_id", "embedding", dim=64, min_cosine=DUP_COS,
        block_col="blk",
    ).count()
    return spark.createDataFrame(
        [(int(true), int(found), 1_000_000 * int(found) // int(true))],
        "n_true: long, n_found: long, recall_e6: long",
    )


def _kg_lsh_recall_multi_sql(tables: int = 4) -> str:
    # INTEGER-EXACT bucket twin (similarity.hyperplane_bucket_exact):
    # the embedding quantizes to 1e-6 and the plane coefficients stay
    # integer numerators, so the sign test is a BIGINT sum in both
    # engines — no float summation-order boundary flips (observed with
    # 32 planes), no INT32 literal overflow (p=31 * 73856093)
    term = (
        "(CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(range(1, 65), "
        "j -> CAST(round(embedding[j]::DOUBLE * 1000000) AS BIGINT) * "
        "((CAST({p} AS BIGINT) * 73856093 + j * 19349663) % 2000 - 1000)"
        ")), (x, y) -> x + y) > 0 THEN {bit} ELSE 0 END)"
    )
    buckets = ",\n         ".join(
        "CAST("
        + " + ".join(
            term.format(p=t * 8 + p, bit=1 << p)
            for p in range(8)
        )
        + f" AS BIGINT) AS b{t}"
        for t in range(tables)
    )
    cand = " OR ".join(
        f"(xor(a.b{t}, b2.b{t}) & (xor(a.b{t}, b2.b{t}) - 1)) = 0"
        for t in range(tables)
    )
    return f"""
WITH b AS (
  SELECT vec_id, embedding,
         {buckets}
  FROM embeddings),
allp AS (
  SELECT ({cand}) AS is_cand,
         ROUND({_DOT_SQL.format(a='a.embedding', b='b2.embedding')} /
               (sqrt({_DOT_SQL.format(a='a.embedding', b='a.embedding')}) *
                sqrt({_DOT_SQL.format(a='b2.embedding', b='b2.embedding')})), 6) AS cosine
  FROM b a JOIN b b2 ON a.vec_id < b2.vec_id),
cnt AS (
  SELECT CAST(COUNT(*) FILTER (cosine >= {DUP_COS}) AS BIGINT) AS n_true,
         CAST(COUNT(*) FILTER (cosine >= {DUP_COS} AND is_cand) AS BIGINT)
           AS n_found
  FROM allp)
SELECT n_true, n_found,
       CAST((1000000 * n_found) // n_true AS BIGINT) AS recall_e6
FROM cnt
"""


def _dedup_cluster_assign(spark, sf):
    """Near-dup CLUSTERS: embedding dup pairs as coreference edges ->
    connected components -> (node, component=min id of its component).

    This puts the canonicalization-stage CC operator
    (operators/components.py, Kiveris star-contraction with the
    adaptive driver union-find path for dimension-scale graphs) under
    the hard driver oracle — the DuckDB twin recomputes the same
    components via a recursive transitive closure."""
    from deepee_spark.operators.components import connected_components
    from deepee_spark.operators.dedup import embedding_dup_pairs

    emb = _t(spark, sf, "embeddings")
    pairs = embedding_dup_pairs(
        emb, "vec_id", "embedding", dim=64, min_cosine=CLUSTER_COS
    )
    edges = pairs.select(
        F.col("id_a").cast("bigint").alias("src"),
        F.col("id_b").cast("bigint").alias("dst"),
    )
    return connected_components(edges).select(
        F.col("node").cast("bigint").alias("node"),
        F.col("component").cast("bigint").alias("component"),
    )


# same candidate/threshold rule as _DEDUP_EMB_SQL, then min-reachable-id
# per node via a recursive closure (exact on the oracle's small scale;
# the Spark side is the distributed star-contraction / union-find op)
_DEDUP_CLUSTER_SQL = f"""
WITH RECURSIVE b AS (
  SELECT vec_id, embedding,
         CAST({' + '.join(_LSH_PLANE_TERM.format(p=p, bit=1 << p) for p in range(8))} AS BIGINT) AS bucket
  FROM embeddings),
cand AS (
  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         ROUND({_DOT_SQL.format(a='a.embedding', b='b2.embedding')} /
               (sqrt({_DOT_SQL.format(a='a.embedding', b='a.embedding')}) *
                sqrt({_DOT_SQL.format(a='b2.embedding', b='b2.embedding')})), 6) AS cosine
  FROM b a JOIN b b2
    ON a.vec_id < b2.vec_id
   AND (xor(a.bucket, b2.bucket) & (xor(a.bucket, b2.bucket) - 1)) = 0),
edges AS (
  SELECT CAST(id_a AS BIGINT) AS u, CAST(id_b AS BIGINT) AS v
  FROM cand WHERE cosine >= {CLUSTER_COS}
  UNION
  SELECT CAST(id_b AS BIGINT), CAST(id_a AS BIGINT)
  FROM cand WHERE cosine >= {CLUSTER_COS}),
reach(node, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.node)
SELECT node, MIN(r) AS component FROM reach GROUP BY node
"""


def _dedup_minhash_resolve(spark, sf):
    """END-TO-END textual dedup resolution: 3-token shingles → MinHash
    signatures → portable banded-LSH candidate pairs → exact
    shingle-Jaccard verify (>= 0.8) → connected components over the
    verified pairs → keep-FIRST survivor per duplicate group (Lee et
    al. 2022's policy) with the member count. The MinHash universe is
    SHINGLES, not unigram tokens — the textbook choice, and on this
    corpus the difference is the whole game: the synthetic vocabulary
    is ~40 words, so unigram token SETS are near-identical across
    unrelated docs and banding degenerated to one 2,298-doc bucket
    (~10M candidate pairs, measured — 107s at sf0.1); trigram shingles
    restore selectivity, so buckets hold only true near-dups. Every
    stage is the documented scale shape (bucketed candidates, never
    all-pairs; distributed CC); the oracle replays shingling,
    signatures, banding, verification and a recursive closure in
    DuckDB — possible because the band keys are plain signature
    concatenations, not engine-native hashes."""
    from deepee_spark.operators.components import connected_components
    from deepee_spark.operators.dedup import minhash_dup_pairs

    toks = _tokens()
    t1 = F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1)))
    t2 = F.slice(toks, 2, F.greatest(F.size(toks) - 2, F.lit(1)))
    t3 = F.slice(toks, 3, F.greatest(F.size(toks) - 2, F.lit(1)))
    pair_sh = F.zip_with(t1, t2, lambda a, b: F.concat_ws("_", a, b))
    sh = F.zip_with(pair_sh, t3, lambda ab, c: F.concat_ws("_", ab, c))
    docs = (
        _t(spark, sf, "documents")
        .filter(F.size(toks) >= 3)
        .select("doc_id", sh.alias("tokens"))
    )
    pairs = minhash_dup_pairs(
        docs, "doc_id", "tokens", bands=4, min_jaccard=0.8,
        portable_bands=True, k=MINHASH_K,
    )
    edges = pairs.select(
        F.col("id_a").cast("bigint").alias("src"),
        F.col("id_b").cast("bigint").alias("dst"),
    )
    return (
        connected_components(edges)
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min("node").cast("bigint").alias("keep_id"),
        )
    )


_SHINGLES_SQL = f"""
SELECT doc_id,
       list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
         i -> toks[i] || '_' || toks[i + 1] || '_' || toks[i + 2])
         AS shingles
FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents)
WHERE len(toks) >= 3
"""

_MINHASH_SHINGLE_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(shingles)) AS token
  FROM ({_SHINGLES_SQL})),
hashed AS (
  SELECT doc_id, {_HASH_SQL.format(col='token')} AS h FROM tok)
SELECT doc_id,
{', '.join(f'       CAST(MIN(({a}::BIGINT * h + {b}) % 1000000007) AS BIGINT) AS sig{k}' for k, (a, b) in enumerate(_MH))}
FROM hashed GROUP BY doc_id
"""

_MINHASH_RESOLVE_SQL = f"""
WITH RECURSIVE sigs AS ({_MINHASH_SHINGLE_SQL}),
banded AS (
  SELECT doc_id, band,
         CASE band
{chr(10).join(f"           WHEN {b} THEN CAST(sig{b * 2} AS VARCHAR) || '_' || CAST(sig{b * 2 + 1} AS VARCHAR)" for b in range(4))}
         END AS band_key
  FROM sigs, unnest(range(0, 4)) AS t(band)),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.band_key = y.band_key
   AND x.doc_id < y.doc_id),
sets AS (
  SELECT doc_id, list_distinct(shingles) AS tok_set
  FROM ({_SHINGLES_SQL})),
verified AS (
  SELECT id_a, id_b
  FROM cand
  JOIN sets sa ON sa.doc_id = cand.id_a
  JOIN sets sb ON sb.doc_id = cand.id_b
  WHERE len(list_intersect(sa.tok_set, sb.tok_set))::DOUBLE
          / len(list_distinct(sa.tok_set || sb.tok_set)) >= 0.8),
edges AS (
  SELECT CAST(id_a AS BIGINT) AS u, CAST(id_b AS BIGINT) AS v FROM verified
  UNION
  SELECT CAST(id_b AS BIGINT), CAST(id_a AS BIGINT) FROM verified),
reach(node, r) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.node),
cc AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(node) AS BIGINT) AS keep_id
FROM cc GROUP BY component
"""


def _heavy_hitters(spark, sf):
    """Exact heavy hitters (operators/sketches.heavy_hitters): tokens
    occurring >= 600 times, found by probing every row against the
    broadcast CMS (no shuffle) and exact-counting only the survivors —
    the sketch-verify composition whose oracle is the naive GROUP
    BY/HAVING definition."""
    from deepee_spark.operators.sketches import heavy_hitters

    toks = _t(spark, sf, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    return heavy_hitters(toks, "token", 600)


_HEAVY_HITTERS_SQL = """
SELECT token, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT unnest(list_filter(string_split(text, ' '), t -> t != ''))
        AS token FROM documents)
GROUP BY token HAVING COUNT(*) >= 600
"""


def _dedup_cluster_keep(spark, sf):
    """Dedup RESOLUTION: after near-dup clustering, pick each cluster's
    canonical survivor — the member with the highest quantized squared
    norm (an engine-exact BIGINT quality proxy), node-id ascending on
    ties — plus the member count. One keyed aggregate over the cluster
    assignment (max_by on a composite total order), so resolution adds
    a single component-keyed shuffle at any scale. The oracle replays
    the recursive-closure clusters and takes the same argmax via a
    component-partitioned window."""
    cc = _dedup_cluster_assign(spark, sf)
    emb = _t(spark, sf, "embeddings").select(
        F.col("vec_id").cast("bigint").alias("node"),
        F.aggregate(
            "embedding",
            F.lit(0).cast("long"),
            lambda acc, x: acc
            + F.round(x * 1000).cast("long") * F.round(x * 1000).cast("long"),
        ).alias("norm_q"),
    )
    j = cc.join(emb, "node")
    return j.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max_by(
            "node", F.struct(F.col("norm_q"), (-F.col("node")).alias("_n"))
        ).alias("keep_id"),
        F.max("norm_q").cast("long").alias("keep_norm_q"),
    )


_NORM_Q_SQL = (
    "list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 65), "
    "i -> CAST(ROUND({e}[i] * 1000) AS BIGINT)"
    " * CAST(ROUND({e}[i] * 1000) AS BIGINT))), (x, y) -> x + y)"
)

_DEDUP_CLUSTER_KEEP_SQL = f"""
WITH cc AS ({_DEDUP_CLUSTER_SQL}),
nq AS (
  SELECT CAST(vec_id AS BIGINT) AS node,
         {_NORM_Q_SQL.format(e='embedding')} AS norm_q
  FROM embeddings),
j AS (
  SELECT cc.component, cc.node, nq.norm_q,
         ROW_NUMBER() OVER (PARTITION BY cc.component
                            ORDER BY nq.norm_q DESC, cc.node) AS rk
  FROM cc JOIN nq ON nq.node = cc.node)
SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MAX(CASE WHEN rk = 1 THEN node END) AS BIGINT) AS keep_id,
       CAST(MAX(norm_q) AS BIGINT) AS keep_norm_q
FROM j GROUP BY component
"""


# ---------------------------------------------------------------------------
# J8/JSON codec: property extraction (the reference's schema-on-read JSON
# ingestion S1-S3 + entity-id resolution J8, over the events.props column)
# ---------------------------------------------------------------------------

def _json_props_stats(spark, sf):
    ev = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    b = F.floor(k / 10).cast("int")  # floor-div in BOTH dialects (DuckDB
    # CAST(double AS INT) rounds; Spark cast truncates — never rely on it)
    return (
        ev.select(b.alias("bucket"), k.alias("k"), "value")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.sum(F.floor(F.col("value") * 10000).cast("long")).alias("sum_value_e4"),
        )
    )


_JSON_PROPS_SQL = """
SELECT CAST(CAST(json_extract_string(props, '$.k') AS INT) // 10 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT) AS sum_value_e4
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# S7: pretrained-embedding text scan — serialize embeddings to the classic
# "word v1 .. v8" text lines (with deliberate corrupt lines), then parse
# with dimension validation (EEGCN data_utils.py:86-132: skip lines whose
# token count != dim+1). The full round-trip runs in both engines.
# ---------------------------------------------------------------------------

EMB_TXT_DIM = 8


def _s7_embedding_scan(spark, sf):
    emb = _t(spark, sf, "embeddings")
    dims = F.transform(
        F.slice("embedding", 1, EMB_TXT_DIM),
        lambda x: F.round(x.cast("double"), 4).cast("string"),
    )
    # corrupt every 13th line: drop 3 trailing dims (must be filtered out)
    trunc = F.when(
        F.col("vec_id") % 13 == 0, F.slice(dims, 1, EMB_TXT_DIM - 3)
    ).otherwise(dims)
    line = F.concat_ws(
        " ", F.concat(F.lit("w"), F.col("vec_id").cast("string")), F.concat_ws(" ", trunc)
    )
    lines = emb.select(line.alias("line"))
    parts = F.split(F.col("line"), " ")
    parsed = lines.select(
        F.element_at(parts, 1).alias("word"),
        F.transform(
            F.slice(parts, 2, EMB_TXT_DIM), lambda s: s.cast("double")
        ).alias("vec"),
        F.size(parts).alias("n_parts"),
    )
    return parsed.filter(F.col("n_parts") == EMB_TXT_DIM + 1).select(
        "word",
        F.round(
            F.aggregate("vec", F.lit(0.0), lambda a, x: a + x), 4
        ).alias("vec_sum"),
    )


_S7_SQL = f"""
WITH lines AS (
  SELECT 'w' || CAST(vec_id AS VARCHAR) || ' ' ||
         array_to_string(
           CASE WHEN vec_id % 13 = 0
                THEN list_slice(list_transform(list_slice(embedding, 1, {EMB_TXT_DIM}),
                       x -> CAST(ROUND(x::DOUBLE, 4) AS VARCHAR)), 1, {EMB_TXT_DIM - 3})
                ELSE list_transform(list_slice(embedding, 1, {EMB_TXT_DIM}),
                       x -> CAST(ROUND(x::DOUBLE, 4) AS VARCHAR))
           END, ' ') AS line
  FROM embeddings),
parsed AS (
  SELECT string_split(line, ' ')[1] AS word,
         list_transform(list_slice(string_split(line, ' '), 2, {EMB_TXT_DIM + 1}),
                        s -> CAST(s AS DOUBLE)) AS vec,
         len(string_split(line, ' ')) AS n_parts
  FROM lines)
SELECT word,
       ROUND(list_reduce(list_prepend(0.0::DOUBLE, vec), (a, x) -> a + x), 4) AS vec_sum
FROM parsed WHERE n_parts = {EMB_TXT_DIM + 1}
"""


def _s11_fixture_dir() -> str:
    """Deterministic FrameNet-shaped JSON fixture on local disk (atomic,
    content-stable — safe to share across concurrent runs)."""
    import tempfile

    from deepee_spark.sources.framenet import synth_framenet

    d = os.path.join(tempfile.gettempdir(), "deepee_s11_framenet")
    os.makedirs(d, exist_ok=True)
    synth_framenet(d)
    return d


def _s11_framenet_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: FrameNet-style dimension ingest (RCEE/QuestionAnswering/
    util_framenet.py:6-48). The Spark side exercises the REAL ingest
    path — explicit-schema multiLine JSON reads of frame.json +
    frame_examples.json, FE fan-out, and JVM-side substring slicing of
    FE surfaces — and broadcast-joins the exploded frame-element
    dimension for core_type (at target scale: a few thousand frames vs
    billions of docs, so every consumer join is a broadcast). The oracle
    embeds the same generator rows as SQL VALUES and recomputes the
    substring math in DuckDB independently."""
    from deepee_spark.sources.framenet import (
        exemplar_fe_surfaces,
        frame_elements,
        read_exemplars,
        read_frames,
    )

    d = _s11_fixture_dir()
    frames = read_frames(spark, os.path.join(d, "frame.json"))
    ex = read_exemplars(spark, os.path.join(d, "frame_examples.json"))
    fe_dim = frame_elements(frames).select("frame", "fe_name", "core_type")
    return (
        exemplar_fe_surfaces(ex)
        .join(F.broadcast(fe_dim), ["frame", "fe_name"])
        .select(
            "frame", "lexunit", "fe_name", "core_type",
            "start", "end", "fe_text",
        )
    )


def _s11_sql() -> str:
    from deepee_spark.sources.framenet import framenet_data

    frames, examples = framenet_data()
    ex_rows = ", ".join(
        f"('{e['name']}', '{e['lexunit']}', '{sp[2]}', {int(sp[0])}, "
        f"{int(sp[1])}, '{e['text']}')"
        for e in examples
        for sp in e["fe"]
    )
    fe_rows = ", ".join(
        f"('{f['name']}', '{fe[0]}', '{fe[1]}')"
        for f in frames
        for fe in f["fes"]
    )
    return f"""
WITH ex(frame, lexunit, fe_name, start, "end", text) AS (VALUES {ex_rows}),
fed(frame, fe_name, core_type) AS (VALUES {fe_rows})
SELECT ex.frame, ex.lexunit, ex.fe_name, fed.core_type,
       ex.start AS start, ex."end" AS "end",
       substr(ex.text, ex.start + 1, ex."end" - ex.start) AS fe_text
FROM ex JOIN fed ON ex.frame = fed.frame AND ex.fe_name = fed.fe_name
"""


# ---------------------------------------------------------------------------
# A6: micro-averaged F1 over non-null classes (AD-DMBERT BERT/train.py:76-77
# sklearn f1_score(average='micro') over labels 1..33 — micro-F1 with the
# negative class excluded). Labels derived from the shared fold hash.
# ---------------------------------------------------------------------------

def _a6_micro_f1(spark, sf):
    ev = _t(spark, sf, "events")
    h = str_hash(F.col("event_type"))
    gold = (h % 5).cast("int")
    pred = F.when((h * 7) % 11 == 0, (h % 5 + 1) % 5).otherwise(h % 5).cast("int")
    lab = ev.select(gold.alias("gold"), pred.alias("pred"))
    m = lab.agg(
        F.sum(F.when((F.col("gold") != 0) & (F.col("pred") == F.col("gold")), 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when((F.col("pred") != 0) & (F.col("pred") != F.col("gold")), 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when((F.col("gold") != 0) & (F.col("pred") != F.col("gold")), 1).otherwise(0)).cast("long").alias("fn"),
    )
    p = F.col("tp") / (F.col("tp") + F.col("fp"))
    r = F.col("tp") / (F.col("tp") + F.col("fn"))
    return m.select(
        "tp", "fp", "fn",
        F.round(2 * p * r / (p + r), 6).alias("micro_f1"),
    )


_A6_SQL = f"""
WITH lab AS (
  SELECT (h % 5)::INT AS gold,
         (CASE WHEN (h * 7) % 11 = 0 THEN (h % 5 + 1) % 5 ELSE h % 5 END)::INT AS pred
  FROM (SELECT {_HASH_SQL.format(col='event_type')} AS h FROM events)),
m AS (
  SELECT CAST(SUM(CASE WHEN gold != 0 AND pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN pred != 0 AND pred != gold THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN gold != 0 AND pred != gold THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM lab)
SELECT tp, fp, fn,
       ROUND(2.0 * (tp / CAST(tp + fp AS DOUBLE)) * (tp / CAST(tp + fn AS DOUBLE)) /
             ((tp / CAST(tp + fp AS DOUBLE)) + (tp / CAST(tp + fn AS DOUBLE))), 6) AS micro_f1
FROM m
"""


# ---------------------------------------------------------------------------
# ANN scale path: IVF-style bucketed search (coarse quantizer = first K
# vectors as fixed centroids — deterministic, no trained kmeans — assign
# every vector to its nearest centroid, then search only the query's
# nprobe closest buckets). Same math in both dialects via the ordered-fold
# dot product, so the oracle checks the ENTIRE bucketed pipeline.
# ---------------------------------------------------------------------------

IVF_K = 8
IVF_NPROBE = 2
IVF_TOPK = 3


def _ann_ivf_topk(spark, sf):
    from pyspark.sql import Window as W

    from deepee_spark.operators.similarity import assign_cells

    emb = _t(spark, sf, "embeddings")
    cent = emb.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )
    # corpus-side assignment: every vector -> nearest centroid by dot
    # (tie: c_id asc), via assign_cells' partial-agged max_by argmax —
    # ~N rows through the exchange, never the old N*k window expansion
    # (same rule the SQL twin unrolls; the tiny nprobe-query side
    # below keeps its window, it needs top-nprobe rows, not an argmax)
    assigned = assign_cells(
        emb.select(F.col("vec_id").alias("pid"), F.col("embedding").alias("v")),
        cent.select("c_id", F.col("c_emb").alias("cent")),
        lambda v, cv: F.round(dot(v, cv, 64), 6),
    ).select(
        F.col("pid").alias("vec_id"),
        F.col("v").alias("embedding"),
        F.col("cell").alias("bucket"),
    )
    # queries probe their nprobe nearest buckets
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    probe_w = W.partitionBy("q_id").orderBy(F.desc("qdot"), F.asc("c_id"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "q_id",
            "q_emb",
            "c_id",
            F.round(dot(F.col("q_emb"), F.col("c_emb"), 64), 6).alias("qdot"),
        )
        .withColumn("rk", F.row_number().over(probe_w))
        .filter(F.col("rk") <= IVF_NPROBE)
        .select("q_id", "q_emb", F.col("c_id").alias("bucket"))
    )
    cand = probes.join(assigned, "bucket").filter(
        F.col("q_id") != F.col("vec_id")
    )
    cos = dot(F.col("q_emb"), F.col("embedding"), 64) / (
        F.sqrt(dot(F.col("q_emb"), F.col("q_emb"), 64))
        * F.sqrt(dot(F.col("embedding"), F.col("embedding"), 64))
    )
    scored = cand.select(
        "q_id", F.col("vec_id").alias("c_id"), F.round(cos, 6).alias("cosine")
    ).distinct()  # a candidate may appear via both probed buckets
    top_w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rk", F.row_number().over(top_w))
        .filter(F.col("rk") <= IVF_TOPK)
        .select("q_id", "c_id", "cosine", F.col("rk").cast("int").alias("rank"))
    )


PQ_K = 16       # codebook size (sampled seed vectors, no Lloyd steps)
PQ_NSUB = 8     # subspaces over the 64-d embeddings
PQ_TOPK = 3


def _ann_pq_topk(spark, sf):
    """PQ-compressed ANN (Jégou et al. 2011): sampled 16-centroid
    codebook per 8-d subspace, corpus stored as 8 codes/vector, query
    scored by ADC against its centroid lookup table
    (operators/similarity.pq_encode / pq_topk). Encode distances round
    to 6dp before the argmin; ADC sums integer micro-unit subspace
    distances so both engines assign and rank identically."""
    from deepee_spark.operators.similarity import pq_topk

    emb = _t(spark, sf, "embeddings")
    codebook = emb.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return pq_topk(emb, q, codebook, "vec_id", "embedding",
                   dim=64, n_sub=PQ_NSUB, k=PQ_TOPK)


_PQ_DIST = (
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, 9), "
    "j -> pow({x}[({m}-1)*8+j]::DOUBLE - {c}[({m}-1)*8+j]::DOUBLE, 2))), "
    "(a, b) -> a + b)"
)

_PQ_SQL = f"""
WITH cb AS (
  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
  WHERE vec_id < {PQ_K}),
ms AS (SELECT unnest(range(1, {PQ_NSUB} + 1)) AS m),
enc0 AS (
  SELECT e.vec_id, ms.m, cb.c_id,
         ROUND({_PQ_DIST.format(x='e.embedding', c='cb.c_emb', m='ms.m')}, 6)
           AS d
  FROM embeddings e, ms, cb),
enc AS (
  SELECT vec_id, m, c_id AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY d ASC, c_id ASC) AS rk
    FROM enc0) WHERE rk = 1),
q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id < 5),
lut AS (
  -- per-subspace distances quantized to integer micro-units so the
  -- cross-subspace sum is exact BIGINT (order-independent), mirroring
  -- pq_topk
  SELECT q.q_id, ms.m, cb.c_id,
         CAST(ROUND({_PQ_DIST.format(x='q.q_emb', c='cb.c_emb', m='ms.m')}
                    * 1000000) AS BIGINT) AS pd_e6
  FROM q, ms, cb),
adc AS (
  SELECT l.q_id, e.vec_id,
         CAST(SUM(l.pd_e6) AS DOUBLE) / 1000000.0 AS adc
  FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.c_id
  GROUP BY 1, 2)
SELECT q_id, vec_id, adc FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY adc ASC, vec_id ASC) AS rk
  FROM adc WHERE q_id != vec_id) WHERE rk <= {PQ_TOPK}
"""


_IVF_SQL = f"""
WITH cent AS (SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < {IVF_K}),
assigned AS (
  SELECT vec_id, embedding, c_id AS bucket FROM (
    SELECT e.vec_id, e.embedding, c.c_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY ROUND({_DOT_SQL.format(a='e.embedding', b='c.c_emb')}, 6) DESC, c.c_id ASC) AS rk
    FROM embeddings e CROSS JOIN cent c)
  WHERE rk = 1),
q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
probes AS (
  SELECT q_id, q_emb, c_id AS bucket FROM (
    SELECT q.q_id, q.q_emb, c.c_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY ROUND({_DOT_SQL.format(a='q.q_emb', b='c.c_emb')}, 6) DESC, c.c_id ASC) AS rk
    FROM q CROSS JOIN cent c)
  WHERE rk <= {IVF_NPROBE}),
scored AS (
  SELECT DISTINCT p.q_id, a.vec_id AS c_id,
         ROUND({_DOT_SQL.format(a='p.q_emb', b='a.embedding')} /
               (sqrt({_DOT_SQL.format(a='p.q_emb', b='p.q_emb')}) *
                sqrt({_DOT_SQL.format(a='a.embedding', b='a.embedding')})), 6) AS cosine
  FROM probes p JOIN assigned a ON p.bucket = a.bucket
  WHERE p.q_id != a.vec_id)
SELECT q_id, c_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT q_id, c_id, cosine,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id ASC) AS rank
  FROM scored)
WHERE rank <= {IVF_TOPK}
"""


# ---------------------------------------------------------------------------
# multimodal plumbing queries. The payload is the printable-ASCII text
# bytes, so the AUDIO path (real int16-PCM decode, pure NumPy) and the
# VIDEO frame-timing fan-out are reproducible in DuckDB byte-for-byte —
# hard SQL oracles below. Only the image query stays rows-only (its fake
# decode is sha256-seeded; correctness pinned by tests/test_multimodal.py).
# ---------------------------------------------------------------------------

def _mm_payloads(spark, sf):
    """documents -> deterministic binary payload table (printable-ASCII
    text bytes; the [^ -~] strip is a no-op on this corpus but keeps the
    byte<->codepoint equivalence the DuckDB oracle relies on)."""
    docs = _t(spark, sf, "documents")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        kind.alias("kind"),
        F.encode(F.regexp_replace("text", "[^ -~]", ""), "utf-8").alias("payload"),
        F.struct(
            F.lit(16).alias("width"),
            F.lit(12).alias("height"),
            F.lit(8000).alias("sample_rate"),
            (F.col("n_chars") % 2000 + 100).cast("int").alias("duration_ms"),
            F.lit("synthetic").alias("codec"),
        ).alias("meta"),
    )


def _mm_image_features(spark, sf):
    from deepee_spark.operators.multimodal import image_features

    # luma_hist is array-typed in the operator API; the contract surface
    # serializes it (driver canonicalization can't sort list cells).
    # Means/std round to 6dp: both sides compute in float64, so the only
    # divergence is summation order (~1e-13), far inside the rounding.
    out = image_features(_mm_payloads(spark, sf))
    return out.select(
        "media_id",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("std_luma", 6).alias("std_luma"),
        F.concat_ws(",", "luma_hist").alias("luma_hist"),
    )


def _mm_audio_features(spark, sf):
    from deepee_spark.operators.multimodal import audio_features

    out = audio_features(_mm_payloads(spark, sf))
    return out.select(
        "media_id",
        "n_samples",
        F.round("rms", 6).alias("rms"),
        F.round("peak", 6).alias("peak"),
        F.round("zcr", 6).alias("zcr"),
    )


def _mm_video_frames(spark, sf):
    from deepee_spark.operators.multimodal import video_frame_sample

    # frame_hash is the stubbed-decode stand-in — excluded from the
    # oracle-checked contract surface (timing/fan-out is the real op)
    return video_frame_sample(_mm_payloads(spark, sf), k=4).select(
        "media_id", "frame_idx", "frame_ms"
    )


_MM_TEXT_SQL = "regexp_replace(text, '[^ -~]', '', 'g')"

_MM_AUDIO_SQL = f"""
WITH audio AS (
  SELECT doc_id AS media_id, {_MM_TEXT_SQL} AS t
  FROM documents WHERE doc_id % 3 = 1),
b AS (
  SELECT media_id,
         list_transform(range(1, len(t) + 1), i -> unicode(t[i])) AS bytes
  FROM audio),
s AS (
  SELECT media_id,
         list_transform(range(1, len(bytes) // 2 + 1),
           i -> CASE WHEN bytes[2*i-1] + 256 * bytes[2*i] >= 32768
                     THEN (bytes[2*i-1] + 256 * bytes[2*i] - 65536) / 32768.0
                     ELSE (bytes[2*i-1] + 256 * bytes[2*i]) / 32768.0 END) AS x
  FROM b)
SELECT media_id,
       CAST(len(x) AS INT) AS n_samples,
       CASE WHEN len(x) > 0
            THEN ROUND(sqrt(list_avg(list_transform(x, v -> v * v))), 6)
            ELSE 0.0 END AS rms,
       CASE WHEN len(x) > 0
            THEN ROUND(list_max(list_transform(x, v -> abs(v))), 6)
            ELSE 0.0 END AS peak,
       CASE WHEN len(x) > 1
            THEN ROUND(list_avg(list_transform(range(2, len(x) + 1),
                   i -> CASE WHEN (x[i] < 0) != (x[i-1] < 0)
                             THEN 1.0 ELSE 0.0 END)), 6)
            ELSE 0.0 END AS zcr
FROM s
"""

# Replicates the sha256-tiled fake decode (operators/multimodal.py
# decode_image) relationally: sha256(text-bytes) -> 32 digest bytes ->
# tiled to the 12x16x3 pixel block -> channel means / luma std /
# 8-bin luma histogram, all in float64 like the kernel.
_MM_IMAGE_SQL = f"""
WITH img AS (
  SELECT doc_id AS media_id, {_MM_TEXT_SQL} AS t
  FROM documents WHERE doc_id % 3 = 0),
hx AS (SELECT media_id, lower(sha256(t)) AS h FROM img),
db AS (
  SELECT media_id,
         list_transform(range(0, 32),
           i -> (strpos('0123456789abcdef', h[2*i+1]) - 1) * 16
              + (strpos('0123456789abcdef', h[2*i+2]) - 1)) AS b
  FROM hx),
px AS (
  -- 12 rows x 16 cols x 3 channels = 576 bytes, digest tiled mod 32
  SELECT media_id, list_transform(range(0, 576), i -> b[i % 32 + 1]) AS p
  FROM db),
lum AS (
  SELECT media_id, p,
         list_transform(range(0, 192),
           k -> (p[3*k+1] + p[3*k+2] + p[3*k+3]) / 3.0) AS l
  FROM px)
SELECT media_id,
  ROUND(list_avg(list_transform(range(0, 192), k -> p[3*k+1])), 6) AS mean_r,
  ROUND(list_avg(list_transform(range(0, 192), k -> p[3*k+2])), 6) AS mean_g,
  ROUND(list_avg(list_transform(range(0, 192), k -> p[3*k+3])), 6) AS mean_b,
  ROUND(sqrt(list_avg(list_transform(l, v -> v * v))
             - list_avg(l) * list_avg(l)), 6) AS std_luma,
  array_to_string(
    list_transform(range(0, 8),
      bin -> len(list_filter(l, v -> CAST(floor(v / 32) AS INT) = bin))),
    ',') AS luma_hist
FROM lum
"""

_MM_VIDEO_SQL = """
SELECT doc_id AS media_id,
       CAST(j AS INT) AS frame_idx,
       CAST(((n_chars % 2000 + 100) * j) // 4 AS INT) AS frame_ms
FROM documents, range(0, 4) AS r(j)
WHERE doc_id % 3 = 2
"""


# ---------------------------------------------------------------------------
# structured-data / web-ingest family (round 3, late): JSON-LD, microdata,
# head metadata, sitemap, WARC, TIMEX, open-IE.  Same design as
# kg_web_tables: pages/files are synthesized DETERMINISTICALLY from the
# events table inside the query (fragments ordered by a zero-padded or
# struct sort key so the bytes are engine-independent), the REAL parser
# runs on them, and the oracle derives the expected rows analytically —
# a single dropped/fabricated/misaligned field diverges the hash.
# ---------------------------------------------------------------------------

def _ev_k():
    return F.get_json_object("props", "$.k")


def _kg_jsonld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema.org JSON-LD extraction (operators/structured.
    jsonld_triples): one valid block per page (@id subject, @type->'a',
    int + nested-object values exercising Spark's raw-token StringType
    capture) plus one malformed block that must emit nothing."""
    from deepee_spark.operators.structured import jsonld_triples

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    eid = F.col("event_id").cast("string")
    block = F.concat(
        F.lit('<script type="application/ld+json">'
              '{"@context":"https://schema.org","@id":"ev'),
        eid,
        F.lit('","@type":"'), F.col("event_type"),
        F.lit('","k":'), _ev_k(),
        F.lit(',"meta":{"n":'), _ev_k(), F.lit('}}</script>'),
    )
    page = F.concat(
        F.lit("<html><head>"), block,
        F.lit('<script type="application/ld+json">broken{</script>'
              "</head></html>"),
    )
    docs = ev.select(
        F.concat(F.lit("e#"), eid).alias("url"), page.alias("html")
    )
    return jsonld_triples(docs).select(
        "url", "block_idx", "subj", "pred", "obj"
    )


_KG_JSONLD_SQL = """
WITH ev AS (
  SELECT 'e#' || CAST(event_id AS VARCHAR) AS url,
         'ev' || CAST(event_id AS VARCHAR) AS subj,
         event_type, json_extract_string(props, '$.k') AS k
  FROM events WHERE event_id < 3000)
SELECT url, CAST(0 AS INT) AS block_idx, subj, 'a' AS pred,
       event_type AS obj FROM ev
UNION ALL
SELECT url, CAST(0 AS INT), subj, 'k', k FROM ev
UNION ALL
SELECT url, CAST(0 AS INT), subj, 'meta', '{"n":' || k || '}' FROM ev
"""


def _kg_microdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Microdata extraction (operators/structured.microdata_triples):
    one item per event under the flat-item model — itemtype, an
    inner-text prop, and a content= prop per item; fragments sort by
    their own bytes (event_type, then zero-padded event_id), which the
    oracle replays as a window rank."""
    from deepee_spark.operators.structured import microdata_triples

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    pid = F.lpad(F.col("event_id").cast("string"), 8, "0")
    frag = F.concat(
        F.lit('<div itemscope itemtype="https://schema.org/'),
        F.col("event_type"),
        F.lit('"><span itemprop="name">e'), pid,
        F.lit('</span><meta itemprop="k" content="'), _ev_k(),
        F.lit('"></div>'),
    )
    pages = (
        ev.select(F.col("user_id"), frag.alias("frag"))
        .groupBy("user_id")
        .agg(F.array_join(F.sort_array(F.collect_list("frag")), "").alias("b"))
        .select(
            F.concat(F.lit("u#"), F.col("user_id").cast("string")).alias("url"),
            F.concat(F.lit("<html><body>"), F.col("b"),
                     F.lit("</body></html>")).alias("html"),
        )
    )
    return microdata_triples(pages).select(
        "url", "item_idx", "subj", "pred", "obj"
    )


_KG_MICRODATA_SQL = """
WITH ranked AS (
  SELECT 'u#' || CAST(user_id AS VARCHAR) AS url,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY event_type, event_id) - 1 AS INT) AS item_idx,
         event_type,
         'e' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS nm,
         json_extract_string(props, '$.k') AS k
  FROM events WHERE user_id < 40),
it AS (
  SELECT url, item_idx,
         url || '#item' || CAST(item_idx AS VARCHAR) AS subj,
         event_type, nm, k
  FROM ranked)
SELECT url, item_idx, subj, 'a' AS pred,
       'https://schema.org/' || event_type AS obj FROM it
UNION ALL
SELECT url, item_idx, subj, 'k', k FROM it
UNION ALL
SELECT url, item_idx, subj, 'name', nm FROM it
"""


def _kg_page_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """<head> metadata extraction (operators/structured.page_metadata):
    title cleanup, description/canonical/og fields, the robots-noindex
    flag (conditional on value), and the hreflang count (event_id%3
    repeated link tags)."""
    from deepee_spark.operators.structured import page_metadata

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    eid = F.col("event_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title> "), F.col("event_type"),
        F.lit(" page </title>"),
        F.lit('<meta name="description" content="event '), eid, F.lit('">'),
        F.lit('<link rel="canonical" href="https://ex.org/'), _ev_k(),
        F.lit('">'),
        F.lit('<meta property="og:title" content="OG '), F.col("event_type"),
        F.lit('">'),
        F.when(F.col("value") > 10,
               F.lit('<meta name="robots" content="noindex">'))
        .otherwise(F.lit("")),
        F.repeat(
            F.lit('<link rel="alternate" hreflang="x" href="h">'),
            (F.col("event_id") % 3).cast("int"),
        ),
        F.lit("</head></html>"),
    )
    docs = ev.select(F.concat(F.lit("e#"), eid).alias("url"),
                     html.alias("html"))
    return page_metadata(docs).select(
        "url", "title", "meta_description", "canonical_url", "og_title",
        "robots_noindex", "n_hreflang",
    )


_KG_PAGE_META_SQL = """
SELECT 'e#' || CAST(event_id AS VARCHAR) AS url,
       event_type || ' page' AS title,
       'event ' || CAST(event_id AS VARCHAR) AS meta_description,
       'https://ex.org/' || json_extract_string(props, '$.k')
         AS canonical_url,
       'OG ' || event_type AS og_title,
       value > 10 AS robots_noindex,
       CAST(event_id % 3 AS INT) AS n_hreflang
FROM events WHERE event_id < 4000
"""

_MONTHS_FULL = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]
_MONTHS_ABBR = [m[:3] for m in _MONTHS_FULL]


def _timex_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMEX-lite normalization (operators/timex.normalize_date_col):
    each event's ts rendered in one of four surface families
    (ISO / M/D/Y slash / 'Month D, YYYY' / 'D Mon YYYY', month names
    from a literal table so no engine locale is involved), then
    normalized back; iso_date must equal the direct formatting for
    every variant."""
    from deepee_spark.operators.timex import normalize_date_col

    ev = _t(spark, sf_dir, "events")
    variant = (F.col("event_id") % 4).cast("int")
    mfull = F.array(*[F.lit(m) for m in _MONTHS_FULL])
    mabbr = F.array(*[F.lit(m) for m in _MONTHS_ABBR])
    mo, dy, yr = (
        F.month("ts"),
        F.dayofmonth("ts").cast("string"),
        F.year("ts").cast("string"),
    )
    surface = (
        F.when(variant == 0, F.date_format("ts", "yyyy-MM-dd"))
        .when(variant == 1, F.concat(mo.cast("string"), F.lit("/"), dy,
                                     F.lit("/"), yr))
        .when(variant == 2, F.concat(F.element_at(mfull, mo), F.lit(" "),
                                     dy, F.lit(", "), yr))
        .otherwise(F.concat(dy, F.lit(" "), F.element_at(mabbr, mo),
                            F.lit(" "), yr))
    )
    base = ev.select(
        "event_id", variant.alias("variant"), surface.alias("surface")
    )
    return normalize_date_col(base, "surface")


_TIMEX_SQL = f"""
WITH m AS (SELECT {_MONTHS_FULL!r}::VARCHAR[] AS mf,
                  {_MONTHS_ABBR!r}::VARCHAR[] AS ma),
ev AS (
  SELECT event_id, CAST(event_id % 4 AS INT) AS variant,
         month(ts) AS mo,
         CAST(day(ts) AS VARCHAR) AS dy,
         CAST(year(ts) AS VARCHAR) AS yr,
         strftime(ts, '%Y-%m-%d') AS iso
  FROM events)
SELECT event_id, variant,
       CASE variant
         WHEN 0 THEN iso
         WHEN 1 THEN CAST(mo AS VARCHAR) || '/' || dy || '/' || yr
         WHEN 2 THEN mf[mo] || ' ' || dy || ', ' || yr
         ELSE dy || ' ' || ma[mo] || ' ' || yr
       END AS surface,
       iso AS iso_date
FROM ev, m
"""


def _sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap parsing (operators/sitemaps.parse_sitemaps): one urlset
    per user, entries ordered by zero-padded event_id; loc/lastmod/
    priority all derived from event fields (priority built textually —
    '0.' + 2 digits — so no float formatting crosses engines)."""
    from deepee_spark.operators.sitemaps import parse_sitemaps

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    entry = F.concat(
        F.lit("<url><loc>https://h"), F.col("user_id").cast("string"),
        F.lit(".ex/e"), F.lpad(F.col("event_id").cast("string"), 8, "0"),
        F.lit("</loc><lastmod>"), F.date_format("ts", "yyyy-MM-dd"),
        F.lit("</lastmod><priority>0."),
        F.lpad((_ev_k().cast("int") % 100).cast("string"), 2, "0"),
        F.lit("</priority></url>"),
    )
    maps = (
        ev.select(F.col("user_id"), entry.alias("e"))
        .groupBy("user_id")
        .agg(F.array_join(F.sort_array(F.collect_list("e")), "").alias("b"))
        .select(
            F.concat(F.lit("s#"), F.col("user_id").cast("string")).alias("url"),
            F.concat(F.lit("<urlset>"), F.col("b"),
                     F.lit("</urlset>")).alias("xml"),
        )
    )
    return parse_sitemaps(maps)


_SITEMAP_SQL = """
SELECT 's#' || CAST(user_id AS VARCHAR) AS sitemap_url,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
            - 1 AS INT) AS entry_idx,
       'https://h' || CAST(user_id AS VARCHAR) || '.ex/e'
         || lpad(CAST(event_id AS VARCHAR), 8, '0') AS loc,
       strftime(ts, '%Y-%m-%d') AS lastmod,
       CAST('0.' || lpad(CAST(CAST(json_extract_string(props, '$.k')
            AS INT) % 100 AS VARCHAR), 2, '0') AS DOUBLE) AS priority
FROM events WHERE user_id < 40
"""


def _warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC parsing (sources/warc.parse_warc_df): one WARC file per
    user assembled byte-deterministically in Catalyst (records sorted
    by their own bytes = zero-padded event_id; Content-Length computed
    from the ASCII payload), then run through the REAL record parser
    with http-preamble stripping."""
    from deepee_spark.sources.warc import parse_warc_df

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    pid = F.lpad(F.col("event_id").cast("string"), 8, "0")
    payload = F.concat(
        F.lit("HTTP/1.1 200 OK\r\n\r\n<html><p>e"), pid, F.lit(" "),
        F.col("event_type"), F.lit("</p></html>"),
    )
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "
              "https://h"),
        F.col("user_id").cast("string"), F.lit(".ex/e"), pid,
        F.lit("\r\nWARC-Date: "),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit("\r\nContent-Type: application/http\r\nContent-Length: "),
        F.length(payload).cast("string"),
        F.lit("\r\n\r\n"), payload, F.lit("\r\n\r\n"),
    )
    files = (
        ev.select(F.col("user_id"), rec.alias("r"))
        .groupBy("user_id")
        .agg(F.array_join(F.sort_array(F.collect_list("r")), "").alias("b"))
        .select(
            F.concat(F.lit("w#"), F.col("user_id").cast("string")).alias(
                "path"
            ),
            F.encode("b", "UTF-8").alias("content"),
        )
    )
    return parse_warc_df(files).select(
        "path", "rec_idx", "warc_type", "target_uri", "warc_date",
        "content_type", F.decode("html", "UTF-8").alias("html"),
    )


_WARC_SQL = """
SELECT 'w#' || CAST(user_id AS VARCHAR) AS path,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
            - 1 AS INT) AS rec_idx,
       'response' AS warc_type,
       'https://h' || CAST(user_id AS VARCHAR) || '.ex/e'
         || lpad(CAST(event_id AS VARCHAR), 8, '0') AS target_uri,
       strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
       'application/http' AS content_type,
       '<html><p>e' || lpad(CAST(event_id AS VARCHAR), 8, '0') || ' '
         || event_type || '</p></html>' AS html
FROM events WHERE user_id < 30
"""

_OPENIE_RELS = ["acquired", "founded", "launched", "joined in",
                "visited", "met"]
_DIGITS, _DLETTERS = "0123456789", "abcdefghij"


def _openie_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-IE surface patterns (operators/openie): one synthetic
    sentence per event ('User<x> <rel> Item<y>.', names digit->letter
    coded so they form capitalized NPs), docs assembled per user in
    event_id order via a struct sort; the full extract + rel-frequency
    filter runs; the oracle regenerates the triples analytically."""
    from deepee_spark.operators.openie import (
        extract_open_triples,
        filter_by_rel_freq,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 60)
    rels = F.array(*[F.lit(r) for r in _OPENIE_RELS])
    sent = F.concat(
        F.lit("User"),
        F.translate(F.col("user_id").cast("string"), _DIGITS, _DLETTERS),
        F.lit(" "),
        F.element_at(rels, (F.col("event_id") % 6).cast("int") + 1),
        F.lit(" Item"),
        F.translate(_ev_k(), _DIGITS, _DLETTERS),
        F.lit("."),
    )
    docs = (
        ev.select(F.col("user_id").alias("doc_id"),
                  F.struct("event_id", sent.alias("s")).alias("es"))
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("es")), lambda x: x["s"]
                ),
                " ",
            ).alias("text")
        )
    )
    return filter_by_rel_freq(
        extract_open_triples(docs), min_rel_freq=2
    ).select("doc_id", "sent_idx", "subj", "rel", "obj")


_OPENIE_SQL = """
WITH ev AS (
  SELECT user_id AS doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
              - 1 AS INT) AS sent_idx,
         'User' || translate(CAST(user_id AS VARCHAR),
                             '0123456789', 'abcdefghij') AS subj,
         ['acquired', 'founded', 'launched', 'joined in', 'visited',
          'met'][CAST(event_id % 6 AS INT) + 1] AS rel,
         'Item' || translate(json_extract_string(props, '$.k'),
                             '0123456789', 'abcdefghij') AS obj
  FROM events WHERE user_id < 60),
keep AS (
  SELECT rel FROM ev GROUP BY rel
  HAVING COUNT(DISTINCT (subj, obj)) >= 2)
SELECT doc_id, sent_idx, subj, rel, obj
FROM ev WHERE rel IN (SELECT rel FROM keep)
"""


def _text_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-lite double-encoding repair (operators/mojibake): event rows
    wrapped in real junk sequences (2-byte Latin-1 and 3-byte CP1252
    forms, plus one Å-lead form the detector deliberately ignores),
    scored then repaired; the oracle replays the IDENTICAL 122-entry
    chained-replace fold via oracle_repair_sql, so both the detection
    count and every table entry ordering divergence would hash out."""
    from deepee_spark.operators.mojibake import (
        MOJIBAKE_TABLE,
        repair_mojibake,
        score_mojibake,
    )

    junk = {good: j for j, good in MOJIBAKE_TABLE}
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
    broken = F.concat(
        F.lit("caf" + junk["é"] + " "),
        F.col("event_type"),
        F.lit(" " + junk["—"] + " " + junk["€"]),
        _ev_k(),
        F.lit(" " + junk["ü"] + junk["š"]),
    )
    base = ev.select("event_id", broken.alias("text"))
    out = score_mojibake(repair_mojibake(base))
    return out.select(
        "event_id", F.col("text_fixed").alias("fixed"), "n_mojibake"
    )


def _mojibake_oracle_sql() -> str:
    from deepee_spark.operators.mojibake import (
        MOJIBAKE_TABLE,
        oracle_repair_sql,
    )

    junk = {good: j for j, good in MOJIBAKE_TABLE}
    broken = (
        "'caf" + junk["é"] + " ' || event_type || ' " + junk["—"] + " "
        + junk["€"] + "' || json_extract_string(props, '$.k') || ' "
        + junk["ü"] + junk["š"] + "'"
    )
    return f"""
SELECT event_id, {oracle_repair_sql(broken)} AS fixed,
       CAST(4 AS INT) AS n_mojibake
FROM events WHERE event_id < 5000
"""


_SALIENCE_ENTS = ["spark", "join", "window", "customer", "table"]


def _entity_salience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity salience (operators/salience): integer-exact positional/
    frequency scoring over the documents table, title = the first two
    text tokens so the title bonus actually fires; the oracle rebuilds
    the same features with unnest + generate_subscripts."""
    from deepee_spark.operators.salience import entity_salience

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.array_join(F.slice(F.split("text", " "), 1, 2), " ").alias("title"),
    )
    ents = spark.createDataFrame([(e,) for e in _SALIENCE_ENTS], ["surface"])
    return entity_salience(docs, ents)


_SALIENCE_SQL = f"""
WITH d AS (
  SELECT doc_id,
         regexp_split_to_array(lower(text), '\\s+') AS words,
         regexp_split_to_array(
           lower(array_to_string(list_slice(string_split(text, ' '), 1, 2),
                                 ' ')), '\\s+') AS twords
  FROM documents),
tok AS (
  SELECT doc_id, len(words) AS doc_tokens, twords,
         unnest(words) AS tok,
         generate_subscripts(words, 1) - 1 AS pos
  FROM d),
hit AS (
  SELECT * FROM tok WHERE tok IN ({", ".join("'" + e + "'" for e in _SALIENCE_ENTS)}))
SELECT doc_id, tok AS surface,
       CAST(COUNT(*) AS INT) AS n_mentions,
       CAST(MIN(pos) AS INT) AS first_pos,
       CAST(MAX(CASE WHEN list_contains(twords, tok) THEN 1 ELSE 0 END)
            AS INT) AS in_title,
       CAST(MAX(doc_tokens) AS INT) AS doc_tokens,
       CAST(100 * COUNT(*)
            + 50 * MAX(CASE WHEN list_contains(twords, tok) THEN 1 ELSE 0 END)
            + MAX(doc_tokens) - MIN(pos) AS INT) AS salience
FROM hit
GROUP BY doc_id, tok
"""


def _kg_coref_pronouns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreference-lite (operators/coref.resolve_pronouns): per-user
    docs where every event contributes '<etype> shipped then it
    paused' (sorted by their own bytes = by event_type) behind an
    UNRESOLVABLE leading pronoun; each 'it' must resolve to its own
    fragment's event-type mention at the exact token offset the oracle
    derives analytically."""
    from deepee_spark.operators.coref import resolve_pronouns

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    frag = F.concat(F.col("event_type"), F.lit(" shipped then it paused"))
    docs = (
        ev.select(F.col("user_id").alias("doc_id"), frag.alias("f"))
        .groupBy("doc_id")
        .agg(
            F.concat(
                F.lit("they met and "),
                F.array_join(F.sort_array(F.collect_list("f")), " "),
            ).alias("text")
        )
    )
    ents = (
        _t(spark, sf_dir, "events")
        .select(F.col("event_type").alias("surface"))
        .distinct()
    )
    return resolve_pronouns(docs, ents)


_KG_COREF_SQL = """
WITH ev AS (
  SELECT user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_type)
           - 1 AS j,
         event_type
  FROM events WHERE user_id < 40)
SELECT user_id AS doc_id,
       CAST(5 * j + 6 AS INT) AS pos,
       'it' AS pronoun,
       event_type AS antecedent,
       CAST(5 * j + 3 AS INT) AS antecedent_pos
FROM ev
"""


def _timex_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free-text date-mention scanning (operators/timex.extract_dates):
    each event plants one dated sentence ('posted <Month D, YYYY>
    about <etype>' / slash / ISO variant by event_id%3) inside noise
    that must NOT match ('99/99/9999', bare years); the scanner must
    find exactly the planted mention per doc and normalize it."""
    from deepee_spark.operators.timex import extract_dates

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    variant = (F.col("event_id") % 3).cast("int")
    mfull = F.array(*[F.lit(m) for m in _MONTHS_FULL])
    mo, dy, yr = (
        F.month("ts"),
        F.dayofmonth("ts").cast("string"),
        F.year("ts").cast("string"),
    )
    mention = (
        F.when(variant == 0, F.date_format("ts", "yyyy-MM-dd"))
        .when(variant == 1, F.concat(mo.cast("string"), F.lit("/"), dy,
                                     F.lit("/"), yr))
        .otherwise(F.concat(F.element_at(mfull, mo), F.lit(" "), dy,
                            F.lit(", "), yr))
    )
    text = F.concat(
        F.lit("noise 99/99/9999 posted "), mention, F.lit(" about "),
        F.col("event_type"), F.lit(" in year 3000 end"),
    )
    docs = ev.select(F.col("event_id").alias("doc_id"), text.alias("text"))
    return extract_dates(docs).select("doc_id", "mention", "iso_date")


_TIMEX_SCAN_SQL = f"""
WITH m AS (SELECT {_MONTHS_FULL!r}::VARCHAR[] AS mf),
ev AS (
  SELECT event_id AS doc_id, CAST(event_id % 3 AS INT) AS variant,
         month(ts) AS mo,
         CAST(day(ts) AS VARCHAR) AS dy,
         CAST(year(ts) AS VARCHAR) AS yr,
         strftime(ts, '%Y-%m-%d') AS iso
  FROM events WHERE event_id < 4000)
SELECT doc_id,
       CASE variant
         WHEN 0 THEN iso
         WHEN 1 THEN CAST(mo AS VARCHAR) || '/' || dy || '/' || yr
         ELSE mf[mo] || ' ' || dy || ', ' || yr
       END AS mention,
       iso AS iso_date
FROM ev, m
"""


def _nb_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form Naive-Bayes quality/domain classifier
    (operators/nbayes): trained on the documents table labeled
    en-vs-rest, scoring the first 200 docs as binary log-odds. The
    oracle replays the full textbook formulation (smoothed token
    log-probs, OOV floor, priors) in SQL; both sides round the final
    log-sum to 6dp (the repo's float-aggregate tolerance)."""
    from deepee_spark.operators.nbayes import log_odds, score_nb, train_nb

    d = _t(spark, sf_dir, "documents")
    labeled = d.select(
        "doc_id", "text",
        F.when(F.col("lang") == "en", F.lit("en"))
        .otherwise(F.lit("xx"))
        .alias("label"),
    )
    model = train_nb(labeled)
    probe = d.filter(F.col("doc_id") < 200).select("doc_id", "text")
    return log_odds(score_nb(probe, model), "en", "xx").select(
        "doc_id", F.round("log_odds", 6).alias("log_odds")
    )


_NB_SQL = r"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 'en' ELSE 'xx' END AS label,
         regexp_split_to_array(lower(text), '\s+') AS words
  FROM documents),
tok AS (SELECT doc_id, label, unnest(words) AS token FROM d),
cnt AS (SELECT token, label, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
tot AS (SELECT label, SUM(cnt) AS n_tok FROM cnt GROUP BY 1),
v AS (SELECT COUNT(DISTINCT token) AS v FROM cnt),
pri AS (
  SELECT label,
         ln(CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM d)) AS prior
  FROM d GROUP BY label),
mdl AS (
  SELECT c.token, c.label,
         ln(CAST(c.cnt + 1 AS DOUBLE) / (t.n_tok + v.v)) AS logp
  FROM cnt c JOIN tot t USING (label) CROSS JOIN v),
oov AS (
  SELECT t.label, ln(1.0 / (t.n_tok + v.v)) AS logp_oov
  FROM tot t CROSS JOIN v),
probe AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS token
  FROM documents WHERE doc_id < 200),
sc AS (
  SELECT p.doc_id, o.label, SUM(COALESCE(m.logp, o.logp_oov)) AS lp
  FROM probe p CROSS JOIN oov o
  LEFT JOIN mdl m ON m.token = p.token AND m.label = o.label
  GROUP BY 1, 2),
fin AS (
  SELECT sc.doc_id, sc.label, sc.lp + pri.prior AS score
  FROM sc JOIN pri USING (label))
SELECT a.doc_id, ROUND(a.score - b.score, 6) AS log_odds
FROM fin a JOIN fin b ON a.doc_id = b.doc_id
WHERE a.label = 'en' AND b.label = 'xx'
"""


def _kg_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative table-contract runner (operators/expectations): a
    rule set over the events table chosen so every kind fires at least
    one violation path (subset accepted_values, tight in_range,
    astronomically large min_rows, fk against the customer dimension);
    the oracle recomputes each rule as a scalar aggregate."""
    from deepee_spark.operators.expectations import check_expectations

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    return check_expectations(
        ev,
        [
            ("not_null", "event_type"),
            ("unique", "event_id"),
            ("accepted_values", "event_type", ["click", "view"]),
            ("matches_regex", "props", r"^\{"),
            ("in_range", "value", 0, 10),
            ("min_rows", 1_000_000_000),
            ("fk", "user_id", cust, "c_custkey"),
        ],
    )


_KG_EXPECTATIONS_SQL = r"""
SELECT 'not_null' AS rule, 'event_type' AS "column",
       (SELECT COUNT(*) FROM events WHERE event_type IS NULL)
         AS n_violations,
       (SELECT COUNT(*) FROM events WHERE event_type IS NULL) = 0
         AS passed
UNION ALL
SELECT 'unique', 'event_id',
       (SELECT COUNT(*) - COUNT(DISTINCT event_id) FROM events),
       (SELECT COUNT(*) - COUNT(DISTINCT event_id) FROM events) = 0
UNION ALL
SELECT 'accepted_values', 'event_type',
       (SELECT COUNT(*) FROM events
        WHERE event_type IS NULL OR event_type NOT IN ('click', 'view')),
       (SELECT COUNT(*) FROM events
        WHERE event_type IS NULL OR event_type NOT IN ('click', 'view')) = 0
UNION ALL
SELECT 'matches_regex', 'props',
       (SELECT COUNT(*) FROM events
        WHERE props IS NULL OR NOT regexp_matches(props, '^\{')),
       (SELECT COUNT(*) FROM events
        WHERE props IS NULL OR NOT regexp_matches(props, '^\{')) = 0
UNION ALL
SELECT 'in_range', 'value',
       (SELECT COUNT(*) FROM events
        WHERE value IS NULL OR value < 0 OR value > 10),
       (SELECT COUNT(*) FROM events
        WHERE value IS NULL OR value < 0 OR value > 10) = 0
UNION ALL
SELECT 'min_rows', '',
       greatest(0, 1000000000 - (SELECT COUNT(*) FROM events)),
       greatest(0, 1000000000 - (SELECT COUNT(*) FROM events)) = 0
UNION ALL
SELECT 'fk', 'user_id',
       (SELECT COUNT(*) FROM events
        WHERE user_id IS NOT NULL
          AND user_id NOT IN (SELECT c_custkey FROM customer)),
       (SELECT COUNT(*) FROM events
        WHERE user_id IS NOT NULL
          AND user_id NOT IN (SELECT c_custkey FROM customer)) = 0
"""


def _corpus_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-aware group split (operators/splits): every document of
    a source lands in exactly one of train/val/test, assignment by the
    engine-portable fold hash so the oracle replays it bit-exactly."""
    from deepee_spark.operators.splits import group_split

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return group_split(docs, "source")


_GROUP_SPLIT_SQL = f"""
SELECT doc_id, source,
       CASE
         WHEN ({_HASH_SQL.format(col='source')}) % 1000 < 800 THEN 'train'
         WHEN ({_HASH_SQL.format(col='source')}) % 1000 < 900 THEN 'val'
         WHEN ({_HASH_SQL.format(col='source')}) % 1000 < 1000 THEN 'test'
       END AS split
FROM documents
"""


def _robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap autodiscovery from robots.txt (operators/robots.
    extract_sitemap_urls): one robots body per user with entries in
    zero-padded event order plus directive noise; oracle analytic."""
    from deepee_spark.operators.robots import extract_sitemap_urls

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    line = F.concat(
        F.lit("Sitemap: https://h"), F.col("user_id").cast("string"),
        F.lit(".ex/s"), F.lpad(F.col("event_id").cast("string"), 8, "0"),
        F.lit(".xml"),
    )
    robots = (
        ev.select(F.col("user_id"), line.alias("l"))
        .groupBy("user_id")
        .agg(F.array_join(F.sort_array(F.collect_list("l")), "\n").alias("b"))
        .select(
            F.concat(F.lit("h"), F.col("user_id").cast("string")).alias(
                "host"
            ),
            F.concat(F.lit("User-agent: *\nDisallow: /x\n"), F.col("b"),
                     F.lit("\nAllow: /\n")).alias("body"),
        )
    )
    return extract_sitemap_urls(robots)


_ROBOTS_SITEMAPS_SQL = """
SELECT 'h' || CAST(user_id AS VARCHAR) AS host,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
            - 1 AS INT) AS idx,
       'https://h' || CAST(user_id AS VARCHAR) || '.ex/s'
         || lpad(CAST(event_id AS VARCHAR), 8, '0') || '.xml'
         AS sitemap_url
FROM events WHERE user_id < 40
"""


def _textstats_script_classes():
    from deepee_spark.operators.textstats import _SCRIPT_CLASSES

    return _SCRIPT_CLASSES


def _text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script triage histogram (operators/textstats.
    script_profile) over the documents table; the oracle replays the
    same coarse ranges with RE2."""
    from deepee_spark.operators.textstats import script_profile

    return script_profile(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).drop("text")


_SCRIPT_PROFILE_SQL = f"""
SELECT doc_id,
{", ".join(
    f"       CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_{n}"
    for n, p in _textstats_script_classes()
)},
       CAST(length(text) AS BIGINT) AS n_chars_total
FROM documents
"""


def _ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    — public): documents ranked by the unigram-LM quality proxy
    (operators/textstats.unigram_logprob, already 6dp-exact cross-
    engine) via the TWO-LEVEL ranked_cumsum (no single-partition
    window), then cut into integer-exact terciles — rank*3 <= n is
    head (most fluent), <= 2n middle, else tail. The standard corpus
    curriculum: sample head-heavy, audit the tail."""
    from deepee_spark.operators.metrics import ranked_cumsum
    from deepee_spark.operators.textstats import unigram_logprob

    lp = unigram_logprob(_t(spark, sf_dir, "documents"))
    ranked = ranked_cumsum(lp, "mean_logp", ["doc_id"], [])
    n_total = lp.count()
    bucket = (
        F.when(F.col("rank") * 3 <= n_total, F.lit("head"))
        .when(F.col("rank") * 3 <= 2 * n_total, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return ranked.select(
        "doc_id", "mean_logp", F.col("rank").cast("long").alias("rank"),
        bucket.alias("bucket"),
    )


_CCNET_BUCKETS_SQL = f"""
WITH lp AS ({{unigram}}),
n AS (SELECT COUNT(*) AS n FROM lp),
r AS (
  SELECT doc_id, mean_logp,
         ROW_NUMBER() OVER (ORDER BY mean_logp DESC, doc_id) AS rnk
  FROM lp)
SELECT doc_id, mean_logp, CAST(rnk AS BIGINT) AS rank,
       CASE WHEN rnk * 3 <= n.n THEN 'head'
            WHEN rnk * 3 <= 2 * n.n THEN 'middle'
            ELSE 'tail' END AS bucket
FROM r, n
"""


def _j12_salted_linking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12 alias-dictionary linking over the NON-broadcast k-way salted
    shuffle join (operators/linking.link_mentions broadcast_aliases=
    False -> operators/skew.salted_join) — the web-scale shape where
    the KB alias table no longer fits an executor and head-entity skew
    would otherwise lop the shuffle. Fixture: every event is a mention
    whose surface is its event_type plus a digit suffix (event_type IS
    the skewed head key — five types own the whole table); the alias
    dictionary carries two case-variant aliases per type whose SC6-
    normalized forms collide, exercising the per-norm
    max_by(prior, entity_id) pick. fuzzy=False isolates the exact
    salted path. Reference anchor: DMCNN tensor_argument.py:21-35
    (the mid_vocabulary alias-lookup contract)."""
    mentions, aliases = _j12_fixture(spark, sf_dir)
    from deepee_spark.operators.linking import link_mentions

    out = link_mentions(mentions, aliases, fuzzy=False,
                        broadcast_aliases=False)
    return out.select(
        "mention_id", "surface", "entity_id",
        F.round("link_score", 6).alias("link_score"), "link_method",
    )


def _j12_fixture(spark: SparkSession, sf_dir: str):
    """Shared mention/alias fixture for the salted-linking contract
    rows (see _j12_salted_linking's docstring for the design)."""
    ev = _t(spark, sf_dir, "events")
    mentions = ev.select(
        F.col("event_id").alias("mention_id"),
        F.concat(
            F.col("event_type"), F.lit("-"),
            (F.col("event_id") % 10).cast("string"),
        ).alias("surface"),
    )
    types = ev.select("event_type").distinct()
    aliases = types.select(
        F.concat(F.col("event_type"), F.lit("-0")).alias("alias"),
        F.concat(F.lit("ent_"), F.col("event_type")).alias("entity_id"),
        F.lit(0.9).alias("prior"),
    ).unionByName(
        types.select(
            F.concat(F.upper("event_type"), F.lit("-0")).alias("alias"),
            F.concat(
                F.lit("ent_"), F.col("event_type"), F.lit("_alt")
            ).alias("entity_id"),
            F.lit(0.8).alias("prior"),
        )
    )
    return mentions, aliases


def _j12_planned_salt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive skew handling END-TO-END (r4 verdict task 8): measure
    the hottest normalized surface with skew.hot_key_report (via
    plan_salt_k's top-1 collect), size the salting factor k =
    ceil(hottest / target) from the MEASUREMENT, then run the same
    non-broadcast salted linking as j12_salted_linking with that k.
    target_rows_per_task=500 puts the planned k at 5 for sf0.01's
    ~2000-row hot key — visibly not salted_join's default 16, and it
    scales with the data (41 at sf0.1), which is the point: the salt
    factor follows the measured skew, not a constant. Salting is
    semantically invisible, so the oracle is the same exact-link SQL;
    the plan gate (tests/test_plans.py) pins that the dim-side explode
    literal really is the planner's k."""
    mentions, aliases = _j12_fixture(spark, sf_dir)
    from deepee_spark.operators.linking import (
        link_mentions,
        normalize_surface,
    )
    from deepee_spark.operators.skew import plan_salt_k

    k = plan_salt_k(
        mentions.withColumn("norm", normalize_surface(F.col("surface"))),
        ["norm"],
        target_rows_per_task=500,
    )
    out = link_mentions(mentions, aliases, fuzzy=False,
                        broadcast_aliases=False, salt_k=k)
    return out.select(
        "mention_id", "surface", "entity_id",
        F.round("link_score", 6).alias("link_score"), "link_method",
    )


_J12_SALTED_SQL = """
WITH m AS (
  SELECT event_id AS mention_id,
         event_type || '-' || CAST(event_id % 10 AS VARCHAR) AS surface,
         regexp_replace(
           lower(event_type || '-' || CAST(event_id % 10 AS VARCHAR)),
           '[0-9]', '0', 'g') AS norm
  FROM events),
t AS (SELECT DISTINCT event_type FROM events),
a AS (
  SELECT event_type || '-0' AS alias,
         'ent_' || event_type AS entity_id,
         CAST(0.9 AS DOUBLE) AS prior FROM t
  UNION ALL
  SELECT upper(event_type) || '-0', 'ent_' || event_type || '_alt',
         CAST(0.8 AS DOUBLE) FROM t),
an AS (
  SELECT regexp_replace(lower(alias), '[0-9]', '0', 'g') AS norm,
         entity_id, prior FROM a),
a_best AS (
  SELECT norm, entity_id, prior FROM (
    SELECT norm, entity_id, prior,
           ROW_NUMBER() OVER (PARTITION BY norm
                              ORDER BY prior DESC, entity_id DESC) AS rn
    FROM an) WHERE rn = 1)
SELECT m.mention_id, m.surface, b.entity_id,
       ROUND(b.prior, 6) AS link_score, 'exact' AS link_method
FROM m JOIN a_best b USING (norm)
"""


def _wordpiece_file_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenization against a FILE-loaded vocab (functions/
    wordpiece.load_vocab_file — the reference's vocab.txt one-piece-
    per-line format, QAEE pytorch_pretrained_bert/tokenization.py
    load_vocab). The vocab file is written deterministically from the
    table's own event-type strings (4-char stem + ## remainder per
    type), so greedy longest-match tokenization is exactly the
    stem/remainder split the oracle replays."""
    import os
    import tempfile

    from deepee_spark.functions.wordpiece import (
        UNK_TOKEN,
        load_vocab_file,
        wordpiece_udf,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    types = sorted(
        r[0] for r in ev.select("event_type").distinct().collect()
    )
    pieces = [UNK_TOKEN]
    for et in types:
        pieces.append(et[:4])
        if len(et) > 4:
            pieces.append("##" + et[4:])
    body = "\n".join(pieces) + "\n"
    # content-derived filename: concurrent runs over DIFFERENT sf dirs
    # (bench at sf0.1 beside a contract check at sf0.01) must never
    # race each other's fixture — same content shares a file harmlessly
    import hashlib

    path = os.path.join(
        tempfile.gettempdir(),
        f"deepee_vocab_{hashlib.sha256(body.encode()).hexdigest()[:16]}.txt",
    )
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(body)
    vocab = load_vocab_file(path)
    tok = wordpiece_udf(vocab)(F.col("event_type"))
    return ev.select(
        "event_id", "event_type", tok.alias("_t")
    ).select(
        "event_id", "event_type",
        F.array_join(F.col("_t.sub_tokens"), " ").alias("pieces"),
    )


_WORDPIECE_FILE_SQL = """
SELECT event_id, event_type,
       CASE WHEN length(event_type) > 4
            THEN substr(event_type, 1, 4) || ' ##' || substr(event_type, 5)
            ELSE event_type END AS pieces
FROM events WHERE event_id < 3000
"""


def _rcee_anchor_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RCEE ±k-token trigger-context windows (operators/chunking.
    anchor_windows; reference RCEE/QuestionGeneration/
    data_preparation.py:8-26 generate_context — the last reference
    file the SURVEY inventory had not covered). Anchor spans derive
    from doc_id so start/length/clamping all vary: starts beyond the
    token count exercise the empty-window edge."""
    from deepee_spark.operators.chunking import anchor_windows

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 11).alias("anchor_start"),
        (F.col("doc_id") % 11 + 1 + F.col("doc_id") % 3).alias(
            "anchor_end"
        ),
        "text",
    )
    return anchor_windows(docs, before=5, after=5)


def _rcee_anchor_windows_sql() -> str:
    from deepee_spark.operators.chunking import anchor_windows_oracle_sql

    return anchor_windows_oracle_sql(
        "SELECT doc_id, doc_id % 11 AS anchor_start, "
        "doc_id % 11 + 1 + doc_id % 3 AS anchor_end, text FROM documents",
        before=5,
        after=5,
    )


def _rcee_question_stems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RCEE question-stem filtering (operators/chunking.question_stems;
    reference data_preparation.py:29-48 generate_question — the
    'What/Who is/are the' and 'Where/When' SQuAD template rules).
    Fixture: five question templates keyed by event_id covering rule A,
    rule B, a no-match wh-word, and the case-sensitivity edge."""
    from deepee_spark.operators.chunking import question_stems

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    variant = F.col("event_id") % 5
    et = F.col("event_type")
    eid = F.col("event_id").cast("string")
    q = (
        F.when(variant == 0,
               F.concat(F.lit("What is the "), et, F.lit(" of "), eid))
        .when(variant == 1,
              F.concat(F.lit("Who are the "), et, F.lit(" holders")))
        .when(variant == 2,
              F.concat(F.lit("Where is the "), et, F.lit(" recorded")))
        .when(variant == 3,
              F.concat(F.lit("When did the "), et, F.lit(" happen")))
        .otherwise(F.concat(F.lit("what is the "), et))
    )
    base = ev.select(F.col("event_id").alias("q_id"), q.alias("question"))
    return question_stems(base)


def _rcee_question_stems_sql() -> str:
    from deepee_spark.operators.chunking import question_stems_oracle_sql

    src = """
SELECT event_id AS q_id,
       CASE event_id % 5
         WHEN 0 THEN 'What is the ' || event_type || ' of '
                     || CAST(event_id AS VARCHAR)
         WHEN 1 THEN 'Who are the ' || event_type || ' holders'
         WHEN 2 THEN 'Where is the ' || event_type || ' recorded'
         WHEN 3 THEN 'When did the ' || event_type || ' happen'
         ELSE 'what is the ' || event_type
       END AS question
FROM events WHERE event_id < 4000
"""
    return question_stems_oracle_sql(src)


# non-uniform CRF transitions for the m2 Viterbi oracle — deliberately
# asymmetric so the decoded path differs from per-step emission argmax
_M2_TRANS = [[0, 4, -3], [2, 0, 5], [-1, 3, 0]]
_M2_LEN, _M2_LABELS = 4, 3


def _m2_viterbi_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi decode under LEARNED-style NON-uniform transitions
    (kernels/bilstm.viterbi_decode) — the r3 verdict's gap: the
    pipeline decode runs uniform transitions (== the reference's
    per-token argmax, EEGCN main.py:93-100), so the Viterbi recurrence
    itself had only a pytest brute-force oracle. Here emissions are an
    integer-exact hash of (event_id, step, label) and the transition
    matrix is asymmetric; the DuckDB twin enumerates ALL 3^4 label
    paths and replays numpy's tie-break exactly (Viterbi's backward
    reconstruction picks, among maximal-score paths, the lexicographic
    minimum reading labels from the LAST step backwards — argmax
    first-occurrence at every backpointer)."""
    import numpy as np
    import pandas as pd

    from deepee_spark.kernels.bilstm import viterbi_decode

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2500)
    trans = np.array(_M2_TRANS, dtype=np.float64)
    L, C = _M2_LEN, _M2_LABELS

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["event_id"].to_numpy(np.int64)
            t_idx = np.arange(L)[None, :, None]
            c_idx = np.arange(C)[None, None, :]
            em = (ids[:, None, None] * 31 + t_idx * 7 + c_idx * 13) % 97
            path = viterbi_decode(em.astype(np.float64), trans)
            b = np.arange(len(ids))[:, None]
            total = em[b, np.arange(L)[None, :], path].sum(axis=1) + (
                trans[path[:, :-1], path[:, 1:]].sum(axis=1)
            ).astype(np.int64)
            yield pd.DataFrame(
                {
                    "event_id": ids,
                    "path": ["-".join(map(str, p)) for p in path],
                    "total": total,
                }
            )

    return ev.select("event_id").mapInPandas(
        run, "event_id long, path string, total long"
    )


_M2_VITERBI_SQL = """
WITH ids AS (SELECT event_id FROM events WHERE event_id < 2500),
c AS (SELECT unnest(range(0, 3)) AS v),
paths AS (
  SELECT i.event_id, c1.v AS l1, c2.v AS l2, c3.v AS l3, c4.v AS l4
  FROM ids i, c c1, c c2, c c3, c c4),
trans(i, j, w) AS (VALUES
  (0,0,0),(0,1,4),(0,2,-3),(1,0,2),(1,1,0),(1,2,5),(2,0,-1),(2,1,3),(2,2,0)),
scored AS (
  SELECT p.event_id, l1, l2, l3, l4,
         ((p.event_id*31 + 0*7 + l1*13) % 97)
       + ((p.event_id*31 + 1*7 + l2*13) % 97)
       + ((p.event_id*31 + 2*7 + l3*13) % 97)
       + ((p.event_id*31 + 3*7 + l4*13) % 97)
       + t12.w + t23.w + t34.w AS total
  FROM paths p
  JOIN trans t12 ON t12.i = l1 AND t12.j = l2
  JOIN trans t23 ON t23.i = l2 AND t23.j = l3
  JOIN trans t34 ON t34.i = l3 AND t34.j = l4),
best AS (
  SELECT event_id, l1, l2, l3, l4, total,
         ROW_NUMBER() OVER (PARTITION BY event_id
             ORDER BY total DESC, l4, l3, l2, l1) AS rn
  FROM scored)
SELECT event_id,
       CAST(l1 AS VARCHAR) || '-' || CAST(l2 AS VARCHAR) || '-' ||
       CAST(l3 AS VARCHAR) || '-' || CAST(l4 AS VARCHAR) AS path,
       CAST(total AS BIGINT) AS total
FROM best WHERE rn = 1
"""


def _bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit — the standard vocabulary-quality
    metric (pieces per word; chars per piece) computed over the corpus
    vocabulary AFTER applying the fixed learned merge table
    (operators/bpe.segment_words). Integer-exact e6 fractions so the
    cross-engine hash is stable. One aggregate over the (word, cnt)
    vocab — cost bounded by distinct word forms at any corpus size."""
    from deepee_spark.operators.bpe import segment_words

    seg = segment_words(_t(spark, sf_dir, "documents"), _BPE_FIXED_MERGES)
    return seg.agg(
        F.sum("cnt").cast("long").alias("n_words"),
        F.sum(F.col("cnt") * F.size("pieces")).cast("long").alias("n_pieces"),
        F.sum(F.col("cnt") * F.length("word")).cast("long").alias("n_chars"),
    ).select(
        "n_words",
        "n_pieces",
        "n_chars",
        F.expr("1000000 * n_pieces DIV n_words").cast("long").alias(
            "fertility_e6"
        ),
        F.expr("1000000 * n_chars DIV n_pieces").cast("long").alias(
            "chars_per_piece_e6"
        ),
    )


def _bpe_fertility_sql() -> str:
    from deepee_spark.operators.bpe import segment_oracle_sql

    return f"""
WITH seg AS ({segment_oracle_sql(_BPE_FIXED_MERGES)}),
agg AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_words,
         CAST(SUM(cnt * len(string_split(pieces, ' '))) AS BIGINT)
           AS n_pieces,
         CAST(SUM(cnt * length(word)) AS BIGINT) AS n_chars
  FROM seg)
SELECT n_words, n_pieces, n_chars,
       CAST(1000000 * n_pieces // n_words AS BIGINT) AS fertility_e6,
       CAST(1000000 * n_chars // n_pieces AS BIGINT) AS chars_per_piece_e6
FROM agg
"""


def _w1_joint_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint-conditioned P-R curve (operators/metrics.joint_pr_curve —
    DMCNN dataProcess_argument_bag_preinfo.py sort_by_score): the
    argument-bag eval where credit requires the upstream trigger bag
    to be right too. Labels/scores derive from event_id so NA rows,
    upstream mismatches, and the degenerate early-prefix branches all
    occur; event_id is the deterministic tie key."""
    from deepee_spark.operators.metrics import joint_pr_curve

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    base = ev.select(
        "event_id",
        F.round(F.col("value"), 3).alias("score"),
        (F.col("event_id") % 7).alias("pred"),
        ((F.col("event_id") * 3) % 7).alias("gold"),
        (F.col("event_id") % 4).alias("up_pred"),
        ((F.col("event_id") * 5) % 4).alias("up_gold"),
    )
    return joint_pr_curve(
        base, "score", "pred", "gold", "up_pred", "up_gold",
        na_label=6, upstream_na_label=3, tie_keys=["event_id"],
    )


_W1_JOINT_SQL = """
WITH base AS (
  SELECT event_id, ROUND(value, 3) AS score,
         event_id % 7 AS pred, (event_id * 3) % 7 AS gold,
         event_id % 4 AS up_pred, (event_id * 5) % 4 AS up_gold
  FROM events WHERE event_id < 3000),
flags AS (
  SELECT event_id, score,
         CASE WHEN pred = gold AND gold <> 6
                   AND up_pred = up_gold AND up_gold <> 3
              THEN 1 ELSE 0 END AS hit,
         CASE WHEN pred <> 6 THEN 1 ELSE 0 END AS pos,
         CASE WHEN gold <> 6 THEN 1 ELSE 0 END AS gpos
  FROM base),
tot AS (SELECT SUM(gpos) AS n_gold FROM flags),
run AS (
  SELECT event_id, score,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS n_pred,
         CAST(SUM(pos) OVER w AS BIGINT) AS n_pos_pred,
         CAST(SUM(hit) OVER w AS BIGINT) AS n_correct
  FROM flags
  WINDOW w AS (ORDER BY score DESC, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
pr AS (
  SELECT event_id, score, n_pred, n_pos_pred, n_correct,
         CASE WHEN n_pos_pred = 0 THEN 1.0
              WHEN t.n_gold = 0 THEN 0.0
              ELSE CAST(n_correct AS DOUBLE) / n_pos_pred END AS p,
         CASE WHEN n_pos_pred = 0 THEN 0.0
              WHEN t.n_gold = 0 THEN 1.0
              ELSE CAST(n_correct AS DOUBLE) / t.n_gold END AS r
  FROM run, tot t)
SELECT event_id, score, n_pred, n_pos_pred, n_correct,
       ROUND(p, 6) AS precision,
       ROUND(r, 6) AS recall,
       ROUND(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r)
                  ELSE 0.0 END, 6) AS f1
FROM pr
"""


def _kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means codebook training with integer-exact micro-unit
    means (operators/similarity.lloyd_codebook) — the honest quantizer
    behind the IVF/SemDeDup cells: 2 Lloyd iterations at k=8 over the
    embeddings table, output = the final cell assignment. Every mean
    is an exact BIGINT sum DIV count, so the twin replays the whole
    recurrence bit-identically (round_even == bround, BIGINT // ==
    DIV)."""
    from deepee_spark.operators.similarity import lloyd_codebook

    emb = _t(spark, sf_dir, "embeddings")
    assigned, _cb = lloyd_codebook(
        emb, "vec_id", "embedding", 64, k=8, iters=2
    )
    return assigned


def _kmeans_cells_sql() -> str:
    from deepee_spark.operators.similarity import lloyd_oracle_sql

    return lloyd_oracle_sql(
        "SELECT vec_id AS pid, embedding AS v FROM embeddings",
        64, k=8, iters=2,
    )


def _semdedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over TRAINED quantizer cells — the capstone
    composition: lloyd_codebook's 2-iteration k-means assignment
    (kmeans_cells) supplies the blocking cells, embedding_dup_pairs
    scores within-cell cosine, keep-lowest-id resolves. This is the
    production shape (the paper clusters with k-means); the seed-pick
    variant (semdedup) stays as the cheap-blocking twin. Oracle =
    the lloyd unrolled-CTE twin composed with the pair/keep SQL."""
    from deepee_spark.operators.dedup import embedding_dup_pairs
    from deepee_spark.operators.similarity import lloyd_codebook

    emb = _t(spark, sf_dir, "embeddings")
    assigned, _cb = lloyd_codebook(
        emb, "vec_id", "embedding", 64, k=8, iters=2
    )
    d = emb.join(assigned, "vec_id").select(
        F.col("vec_id").alias("pid"), F.col("embedding").alias("v"), "cell"
    )
    pairs = embedding_dup_pairs(
        d, id_col="pid", vec_col="v", dim=64,
        min_cosine=SEMDEDUP_TAU, block_col="cell",
    )
    dropped = pairs.select(F.col("id_b").alias("pid")).distinct()
    return d.join(
        dropped.withColumn("_d", F.lit(True)), "pid", "left"
    ).select(
        F.col("pid").alias("vec_id"),
        "cell",
        F.coalesce(~F.col("_d"), F.lit(True)).alias("kept"),
    )


def _semdedup_trained_sql() -> str:
    from deepee_spark.operators.similarity import lloyd_oracle_sql

    lloyd = lloyd_oracle_sql(
        "SELECT vec_id AS pid, embedding AS v FROM embeddings",
        64, k=8, iters=2,
    )
    return f"""
WITH cells AS ({lloyd}),
d AS (
  SELECT e.vec_id, e.embedding, c.cell
  FROM embeddings e JOIN cells c ON e.vec_id = c.vec_id),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM d a JOIN d b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ROUND({_DOT_SQL.format(a='a.embedding', b='b.embedding')} /
              (sqrt({_DOT_SQL.format(a='a.embedding', b='a.embedding')}) *
               sqrt({_DOT_SQL.format(a='b.embedding', b='b.embedding')})),
              6) >= {{tau}})
SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
       (dr.vec_id IS NULL) AS kept
FROM d a LEFT JOIN dropped dr ON a.vec_id = dr.vec_id
""".replace("{tau}", str(SEMDEDUP_TAU))


def _text_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization with the ASCII fast-path gate
    (operators/textstats.nfc_normalize): odd event_ids get a
    decomposed e + COMBINING ACUTE (U+0301) suffix that NFC folds to
    U+00E9; even ids stay pure ASCII and must bypass the pandas UDF
    unchanged. Twin: DuckDB's native nfc_normalize()."""
    from deepee_spark.operators.textstats import nfc_normalize

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 3000)
    text = F.when(
        F.col("event_id") % 2 == 1,
        F.concat(F.col("event_type"), F.lit(" cafe\u0301 "),
                 F.col("event_id").cast("string")),
    ).otherwise(
        F.concat(F.col("event_type"), F.lit(" plain "),
                 F.col("event_id").cast("string"))
    )
    base = ev.select("event_id", text.alias("text"))
    return nfc_normalize(base).select(
        "event_id", F.col("text_nfc").alias("norm"), "nfc_changed"
    )


_TEXT_NFC_SQL = """
WITH base AS (
  SELECT event_id,
         CASE WHEN event_id % 2 = 1
              THEN event_type || ' cafe' || chr(769) || ' ' || CAST(event_id AS VARCHAR)
              ELSE event_type || ' plain ' || CAST(event_id AS VARCHAR)
         END AS text
  FROM events WHERE event_id < 3000)
SELECT event_id, nfc_normalize(text) AS norm,
       nfc_normalize(text) <> text AS nfc_changed
FROM base
"""


def _robots_crawl_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay directive extraction (operators/robots.
    extract_crawl_delays): per-host robots bodies built from events —
    hosts by user_id, one integer and one decimal directive (max-wins
    resolution), a comment to strip, and invalid bodies on every third
    host that must emit nothing."""
    from deepee_spark.operators.robots import extract_crawl_delays

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 60)
    uid = F.col("user_id")
    body = (
        F.when(uid % 3 == 2, F.lit("Crawl-delay: soon\nDisallow: /"))
        .otherwise(
            F.concat(
                F.lit("User-agent: *\nCrawl-delay: "),
                (uid % 7).cast("string"),
                F.lit("  # politeness\nCrawl-delay: "),
                (uid % 5).cast("string"), F.lit(".5\nDisallow: /tmp"),
            )
        )
    )
    hosts = (
        ev.select(uid.alias("user_id"))
        .distinct()
        .select(
            F.concat(F.lit("h"), F.col("user_id").cast("string"),
                     F.lit(".example.org")).alias("host"),
            body.alias("robots"),
        )
    )
    return extract_crawl_delays(hosts)


def _robots_crawl_delay_sql() -> str:
    from deepee_spark.operators.robots import crawl_delays_oracle_sql

    src = """
SELECT 'h' || CAST(user_id AS VARCHAR) || '.example.org' AS host,
       CASE WHEN user_id % 3 = 2
            THEN 'Crawl-delay: soon' || chr(10) || 'Disallow: /'
            ELSE 'User-agent: *' || chr(10) || 'Crawl-delay: '
                 || CAST(user_id % 7 AS VARCHAR)
                 || '  # politeness' || chr(10) || 'Crawl-delay: '
                 || CAST(user_id % 5 AS VARCHAR) || '.5' || chr(10)
                 || 'Disallow: /tmp'
       END AS robots
FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 60)
"""
    return crawl_delays_oracle_sql(src)


SEMDEDUP_K = 8
SEMDEDUP_TAU = 0.3


def _semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (operators/dedup.semantic_dedup —
    Abbas et al. 2023): coarse-cell blocking by the IVF codebook rule,
    within-cell gemm cosine, keep-lowest-id. tau=0.3 sits inside the
    synthetic embeddings' within-cell cosine range (max 0.49 at
    sf0.01) so the kept/dropped split is non-trivial."""
    from deepee_spark.operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < SEMDEDUP_K).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    return semantic_dedup(
        emb, "vec_id", "embedding", 64, cent, min_cosine=SEMDEDUP_TAU
    )


_SEMDEDUP_SQL = f"""
WITH cent AS (
  SELECT vec_id AS c_id, embedding AS c_emb
  FROM embeddings WHERE vec_id < {SEMDEDUP_K}),
assigned AS (
  SELECT vec_id, embedding, c_id AS cell FROM (
    SELECT e.vec_id, e.embedding, c.c_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY ROUND({_DOT_SQL.format(a='e.embedding', b='c.c_emb')}, 6) DESC,
                      c.c_id ASC) AS rk
    FROM embeddings e CROSS JOIN cent c) WHERE rk = 1),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ROUND({_DOT_SQL.format(a='a.embedding', b='b.embedding')} /
              (sqrt({_DOT_SQL.format(a='a.embedding', b='a.embedding')}) *
               sqrt({_DOT_SQL.format(a='b.embedding', b='b.embedding')})),
              6) >= {SEMDEDUP_TAU})
SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
       (d.vec_id IS NULL) AS kept
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
"""


# ---------------------------------------------------------------------------
# round 5: streaming batch-replay contract rows (r4 verdict task 7) —
# the stream twins' group-function bodies, driven by batch applyInPandas
# with empty initial state, exposed as oracle-checkable queries. The
# stream==batch equality is already pytest-pinned; these rows put the
# REPLAY side itself under the cross-engine gate.
# ---------------------------------------------------------------------------


def _cep_funnel_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP batch replay (streaming/cep.batch_pattern_match — the SAME
    group-function body the streamed applyInPandasWithState operator
    runs, applied once per key with empty initial state): greedy
    non-overlapping click -> purchase matches per user in ts order;
    n_events_seen counts every event from the initiating click through
    the closing purchase inclusive. (user_id, ts) is unique in the
    events table, so the per-key fold order is total. The oracle steps
    the match recurrence itself through a recursive CTE (first click
    after the previous match's purchase, then first purchase after
    that click) — an independent algorithm for the same semantics."""
    from deepee_spark.streaming.cep import batch_pattern_match

    ev = _t(spark, sf_dir, "events")
    out = batch_pattern_match(ev, ["click", "purchase"], key_col="user_id")
    return out.select(
        "key",
        F.unix_timestamp("start_ts").cast("long").alias("start_s"),
        F.unix_timestamp("end_ts").cast("long").alias("end_s"),
        F.col("n_events_seen").cast("long").alias("n_events_seen"),
    )


_CEP_REPLAY_SQL = """
WITH RECURSIVE ev AS (
  SELECT user_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS pos
  FROM events),
m AS (
  SELECT user_id, CAST(0 AS BIGINT) AS a_pos, CAST(0 AS BIGINT) AS b_pos
  FROM (SELECT DISTINCT user_id FROM ev)
  UNION ALL
  SELECT s.user_id, s.a_pos, s.b_pos FROM (
    SELECT q.user_id, q.a_pos,
           (SELECT MIN(e2.pos) FROM ev e2
             WHERE e2.user_id = q.user_id AND e2.pos > q.a_pos
               AND e2.event_type = 'purchase') AS b_pos
    FROM (
      SELECT m.user_id,
             (SELECT MIN(e1.pos) FROM ev e1
               WHERE e1.user_id = m.user_id AND e1.pos > m.b_pos
                 AND e1.event_type = 'click') AS a_pos
      FROM m WHERE m.b_pos IS NOT NULL
    ) q
  ) s
  WHERE s.a_pos IS NOT NULL
)
SELECT CAST(m.user_id AS VARCHAR) AS key,
       CAST(FLOOR(epoch(ea.ts)) AS BIGINT) AS start_s,
       CAST(FLOOR(epoch(eb.ts)) AS BIGINT) AS end_s,
       CAST(m.b_pos - m.a_pos + 1 AS BIGINT) AS n_events_seen
FROM m
JOIN ev ea ON ea.user_id = m.user_id AND ea.pos = m.a_pos
JOIN ev eb ON eb.user_id = m.user_id AND eb.pos = m.b_pos
WHERE m.a_pos > 0 AND m.b_pos IS NOT NULL
"""


def _politeness_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness batch replay (streaming/stateful.
    batch_politeness_replay — the stream scheduler's group body with
    empty initial state): per-host fetch slots at a 7 s minimum gap.
    The group body folds in sorted (ts, url) order, so the whole-input
    replay must equal the batch running-max operator exactly — the
    oracle is politeness_oracle_sql's recursive-CTE recurrence, a
    third formulation of the same schedule. Distinct fixture from
    kg_politeness (host % 16, gap 7) so the two rows never shadow
    each other."""
    from deepee_spark.streaming.stateful import batch_politeness_replay

    ev = _t(spark, sf_dir, "events")
    req = ev.select(
        F.concat(F.lit("rhost"), F.col("user_id") % 16).alias("host"),
        F.concat(
            F.lit("https://rhost"),
            F.col("user_id") % 16,
            F.lit("/e/"),
            F.col("event_id"),
        ).alias("url"),
        F.unix_timestamp("ts").cast("long").alias("ts_s"),
    )
    return batch_politeness_replay(req, gap_s=7)


def _politeness_replay_sql() -> str:
    from deepee_spark.operators.urls import politeness_oracle_sql

    return politeness_oracle_sql(
        "SELECT 'rhost' || CAST(user_id % 16 AS VARCHAR) AS host,"
        " 'https://rhost' || CAST(user_id % 16 AS VARCHAR) || '/e/' ||"
        " CAST(event_id AS VARCHAR) AS url,"
        " CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events",
        gap_s=7,
    )


def _stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup batch replay (streaming/stateful.batch_dedup_replay —
    stream_dedup's keep-first group body under a pinned url-ascending
    arrival order): first occurrence per (source, content fingerprint)
    with the count of fingerprints that source had already emitted.
    Fingerprint = md5_long48 of the text's 3-char prefix (collides by
    design so the keep-first rule actually fires; the cross-engine md5
    hash keeps the oracle exact). Twin: row_number/min-rn SQL — the
    closed-form of the same fold."""
    from deepee_spark.operators.negatives import md5_long48
    from deepee_spark.streaming.stateful import batch_dedup_replay

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        F.col("source").alias("key"),
        md5_long48(F.substring("text", 1, 3)).alias("fingerprint"),
        F.concat(
            F.lit("doc://"), F.col("doc_id").cast("string")
        ).alias("url"),
    )
    out = batch_dedup_replay(d)
    return out.select(
        "key", "fingerprint", "url",
        F.col("n_seen_before").cast("long").alias("n_seen_before"),
    )


def _stream_dedup_replay_sql() -> str:
    from deepee_spark.operators.negatives import md5_long48_sql

    fp = md5_long48_sql("substring(text, 1, 3)")
    return f"""
WITH d AS (
  SELECT source AS key, {fp} AS fp,
         'doc://' || CAST(doc_id AS VARCHAR) AS url
  FROM documents),
r AS (
  SELECT key, fp, url,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY url) AS rn
  FROM d),
firsts AS (
  SELECT key, fp, MIN(rn) AS frn FROM r GROUP BY key, fp)
SELECT r.key, r.fp AS fingerprint, r.url,
       CAST(ROW_NUMBER() OVER (PARTITION BY r.key ORDER BY r.rn) - 1
            AS BIGINT) AS n_seen_before
FROM r JOIN firsts f ON r.key = f.key AND r.fp = f.fp AND r.rn = f.frn
"""


def _politeness_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay-aware politeness END-TO-END (round 5): robots
    bodies -> robots.extract_crawl_delays -> per-host gap =
    max(ceil(delay_ms/1000), fleet default 2 s) ->
    urls.politeness_schedule_adaptive's constant-gap window unroll.
    Even-numbered hosts declare 'Crawl-delay: <n>.5' (the .5 exercises
    the ms->s ceil), odd hosts have no robots row and fall back to the
    default. Oracle steps the recurrence via recursive CTE over the
    same robots-parse twin."""
    from deepee_spark.operators.robots import extract_crawl_delays
    from deepee_spark.operators.urls import politeness_schedule_adaptive

    ev = _t(spark, sf_dir, "events")
    hn = F.col("user_id") % 12
    req = ev.select(
        F.concat(F.lit("ahost"), hn.cast("string")).alias("host"),
        F.concat(
            F.lit("https://ahost"), hn.cast("string"), F.lit("/e/"),
            F.col("event_id").cast("string"),
        ).alias("url"),
        F.unix_timestamp("ts").cast("long").alias("ts_s"),
    )
    robots = (
        ev.select(hn.alias("hn")).distinct()
        .filter(F.col("hn") % 2 == 0)
        .select(
            F.concat(F.lit("ahost"), F.col("hn").cast("string"))
            .alias("host"),
            F.concat(
                F.lit("User-agent: *\nCrawl-delay: "),
                (F.col("hn") / 2 % 5 + 2).cast("long").cast("string"),
                F.lit(".5\nDisallow: /tmp"),
            ).alias("robots"),
        )
    )
    return politeness_schedule_adaptive(
        req, extract_crawl_delays(robots), default_gap_s=2
    )


def _politeness_adaptive_sql() -> str:
    from deepee_spark.operators.robots import crawl_delays_oracle_sql
    from deepee_spark.operators.urls import politeness_adaptive_oracle_sql

    req = (
        "SELECT 'ahost' || CAST(user_id % 12 AS VARCHAR) AS host,"
        " 'https://ahost' || CAST(user_id % 12 AS VARCHAR) || '/e/' ||"
        " CAST(event_id AS VARCHAR) AS url,"
        " CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events"
    )
    robots = """
SELECT 'ahost' || CAST(hn AS VARCHAR) AS host,
       'User-agent: *' || chr(10) || 'Crawl-delay: ' ||
       CAST(CAST(hn / 2 % 5 + 2 AS BIGINT) AS VARCHAR) || '.5' ||
       chr(10) || 'Disallow: /tmp' AS robots
FROM (SELECT DISTINCT user_id % 12 AS hn FROM events) WHERE hn % 2 = 0
"""
    return politeness_adaptive_oracle_sql(
        req, crawl_delays_oracle_sql(robots), default_gap_s=2
    )


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE on ordering: the driver evaluates only the FIRST 50 entries
    # of this dict per round, so every entry with no driver-side
    # CORRECTNESS row yet must sit inside that window, at its head
    # (tests/test_contract_surface.py enforces it).  Slots 1-4 hold
    # the four round-5 queries the driver has never checked; slots
    # 5-54 are the round-5 window (driver-green in r05); everything
    # after is driver-green from earlier rounds.  tools/check_contract.py
    # still verifies ALL entries locally each round.
    return {
        # -- slots 1-4: round-5 batch-replay rows (r4 verdict task 7)
        #    and the adaptive politeness composition, never
        #    driver-checked --
        "cep_funnel_replay": _cep_funnel_replay,
        "politeness_replay": _politeness_replay,
        "stream_dedup_replay": _stream_dedup_replay,
        "politeness_adaptive": _politeness_adaptive,
        # -- slots 5-54: the round-5 window (r4 verdict task 1): the
        #    final 49 entries without a driver row in r4, plus the
        #    adaptive-salt composition — all driver-green in r05 --
        "bpe_fertility": _bpe_fertility,
        "w1_joint_pr_curve": _w1_joint_pr_curve,
        "kmeans_cells": _kmeans_cells,
        "semdedup_trained": _semdedup_trained,
        "text_nfc_normalize": _text_nfc_normalize,
        "robots_crawl_delay": _robots_crawl_delay,
        "kg_skipgram_pairs": _kg_skipgram_pairs,
        "text_unigram_logprob": _unigram_logprob,
        "kg_outlink_hosts": _kg_outlink_hosts,
        "kg_anchor_aliases": _kg_anchor_aliases,
        "kg_crawl_schedule": _kg_crawl_schedule,
        "kg_corpus_mixture": _kg_corpus_mixture,
        "kg_cms_frequencies": _kg_cms_frequencies,
        "kg_lsh_recall": _kg_lsh_recall,
        "kg_lsh_recall_multi": _kg_lsh_recall_multi,
        "kg_cluster_prf": _kg_cluster_prf,
        "text_bigram_logprob": _text_bigram_logprob,
        "kg_dangling_refs": _kg_dangling_refs,
        "kg_sketch_merge": _kg_sketch_merge,
        "kg_hll_distinct": _kg_hll_distinct,
        "kg_politeness": _kg_politeness,
        "kg_cluster_bcubed": _kg_cluster_bcubed,
        "ann_rrf_fused": _ann_rrf_fused,
        "sparse_retrieval_topk": _sparse_retrieval_topk,
        "kg_source_trust": _kg_source_trust,
        "kg_edge_rollup": _kg_edge_rollup,
        "kg_sssp": _kg_sssp,
        "corpus_weighted_sample": _corpus_weighted_sample,
        "skew_hot_keys": _skew_hot_keys,
        "kg_distant_supervision": _kg_distant_supervision,
        "kg_rule_mining": _kg_rule_mining,
        "kg_bgp_query": _kg_bgp_query,
        "kg_event_funnel": _kg_event_funnel,
        "kg_fact_diff": _kg_fact_diff,
        "kg_fact_intervals": _kg_fact_intervals,
        "kg_pagerank_seeded": _kg_pagerank_seeded,
        "kg_pagerank_weighted": _kg_pagerank_weighted,
        "kg_co_neighbors": _kg_co_neighbors,
        "kg_fact_latest": _kg_fact_latest,
        "text_doc_frequency": _doc_frequency,
        "url_blocklist_filter": _url_blocklist,
        "text_token_counts": _token_counts,
        "stratified_sample": _stratified_sample,
        "kg_neighbor_jaccard": _kg_neighbor_jaccard,
        "kg_link_prediction": _kg_link_prediction,
        "kg_community_rank": _kg_community_rank,
        "dedup_containment": _dedup_containment,
        "dedup_cluster_keep": _dedup_cluster_keep,
        "kg_neighborhood_fn": _kg_neighborhood_fn,
        # slot 54: NEW in round 5 — the measure->size->join adaptive
        # salting composition (r4 verdict task 8)
        "j12_planned_salt": _j12_planned_salt,
        # -- driver-green in r04 (the r4 window, all green) --
        "openie_triples": _openie_triples,
        "kg_scc": _kg_scc,
        "kg_ktruss": _kg_ktruss,
        "kg_hits": _kg_hits,
        "kg_wl_roles": _kg_wl_roles,
        "kg_hyperball": _kg_hyperball,
        "kg_transe_rank": _kg_transe_rank,
        "heavy_hitters": _heavy_hitters,
        "dedup_minhash_resolve": _dedup_minhash_resolve,
        "winnow_fingerprints": _winnow_fps,
        "substring_dup_spans": _substring_dup_spans,
        "dsir_weights": _dsir_weights,
        "dsir_select": _dsir_select,
        "domain_registrable": _domain_registrable,
        "domain_quota_cap": _domain_quota_cap,
        "bpe_segment": _bpe_segment,
        "simhash_dup_hist": _simhash_pairs,
        "kg_entity_salience": _entity_salience,
        "kg_coref_pronouns": _kg_coref_pronouns,
        "ccnet_buckets": _ccnet_buckets,
        "kg_microdata": _kg_microdata,
        "kg_page_meta": _kg_page_meta,
        "sitemap_parse": _sitemap_parse,
        "robots_sitemaps": _robots_sitemaps,
        # -- new in round 4 (salted linking, file vocab, RCEE prep,
        #    non-uniform-transition Viterbi) --
        "j12_salted_linking": _j12_salted_linking,
        "wordpiece_file_vocab": _wordpiece_file_vocab,
        "rcee_anchor_windows": _rcee_anchor_windows,
        "rcee_question_stems": _rcee_question_stems,
        "m2_viterbi_roles": _m2_viterbi_roles,
        # -- never-driver-seen family representatives --
        "pii_redact": _pii_redact,
        "paragraph_dedup": _paragraph_dedup,
        "decontaminate": _decontaminate,
        "sequence_packing": _sequence_packing,
        "timex_scan": _timex_scan,
        "text_mojibake_repair": _text_mojibake_repair,
        "kg_expectations": _kg_expectations,
        "corpus_group_split": _corpus_group_split,
        "text_script_profile": _text_script_profile,
        "kg_entity_bursts": _kg_entity_bursts,
        "triple_calibration": _triple_calibration,
        "kg_schema_violations": _kg_schema_violations,
        "event_sessions": _event_sessions,
        "text_tfidf_topk": _text_tfidf_topk,
        "kg_negative_samples": _kg_negative_samples,
        "exact_price_quantiles": _exact_price_quantiles,
        "kg_entity_pmi": _kg_entity_pmi,
        "kg_harmonic_centrality": _kg_harmonic,
        "dedup_setjoin": _dedup_setjoin,
        "kg_random_walks": _kg_random_walks,
        # semdedup is NEW round-4 code -> takes the 50th window slot;
        # kg_skipgram_pairs (unchanged since r3, judge-verified) moves
        # to the round-5 candidates
        "semdedup": _semdedup,
        # -- already driver-green in r01-r03 on unchanged code --
        "ee_trigger_counts": _ee_trigger_counts,
        "ee_trigger_counts_gcn": _ee_trigger_counts_gcn,
        "ee_trigger_counts_masked": _ee_trigger_counts_masked,
        "ee_trigger_counts_gated": _ee_trigger_counts_gated,
        "ee_trigger_counts_edgeaware": _ee_trigger_counts_edgeaware,
        "bert_trigger_tags": _bert_trigger_tags,
        "qa_span_args": _qa_span_args,
        "qa_question_templates": _qa_question_templates,
        "qa_span_args_variants": _qa_span_args_variants,
        "qa_span_args_refined": _qa_span_args_refined,
        "m10_role_decode": _m10_role_decode,
        "bag_truncate_pad": _bag_truncate_pad,
        "text_lang_id": _lang_id,
        "text_quality_score": _quality_score,
        "kg_redirects": _kg_redirects,
        "text_doc_fingerprint": _doc_fingerprint,
        "text_repetition_filter": _text_repetition_filter,
        "url_host_stats": _url_host_stats,
        "crawl_budget": _crawl_budget,
        "kg_jsonld": _kg_jsonld,
        "warc_records": _warc_records,
        "passage_windows": _passage_windows,
        "shard_assignment": _shard_assignment,
        "timex_normalize": _timex_normalize,
        "curation_funnel": _curation_funnel,
        "nb_quality_filter": _nb_quality_filter,
        "kg_node2vec_walks": _kg_node2vec_walks,
        "kg_node_rollup": _kg_node_rollup,
        "stream_first_crawl": _stream_first_crawl,
        "bpe_merges": _bpe_merges,
        "kg_triangles": _kg_triangles,
        "kg_pagerank": _kg_pagerank,
        "kg_web_tables": _kg_web_tables,
        "kg_bfs": _kg_bfs,
        "robots_admission": _robots_admission,
        "crawl_refresh": _crawl_refresh,
        "kg_functional_conflicts": _kg_functional_conflicts,
        "kg_fact_fusion": _kg_fact_fusion,
        "kg_distinct_sketch": _kg_distinct_sketch,
        "a10_loss_reductions": _a10_loss_reductions,
        "w6_epoch_shuffle": _w6_epoch_shuffle,
        "m9_selector_weights": _m9_selector_weights,
        "s11_framenet_exemplars": _s11_framenet_exemplars,
        "kg_taxonomy_closure": _kg_taxonomy_closure,
        "kg_bloom_frontier": _kg_bloom_frontier,
        "ann_pq_topk": _ann_pq_topk,
        "kg_fact_asof": _kg_fact_asof,
        "kg_kcore": _kg_kcore,
        "kg_communities": _kg_communities,
        "substring_dedup": _substring_dedup,
        "dedup_embedding_cosine": _dedup_embedding_cosine,
        "dedup_cluster_assign": _dedup_cluster_assign,
        "q1_pricing_summary": _q1,
        "a1_vocab_build": _a1_vocab,
        "a4_chunk_prf": _a4_chunk_prf,
        "dedup_ngram_jaccard": _ngram_jaccard,
        "dedup_minhash_signatures": _minhash_sig,
        "dedup_simhash": _simhash,
        "j5_template_fanout": _j5_template_fanout,
        "dedup_exact": _dedup_exact,
        "ann_cosine_topk": _ann_cosine_topk,
        "ann_ivf_topk": _ann_ivf_topk,
        "mm_image_features": _mm_image_features,
        "mm_audio_features": _mm_audio_features,
        "mm_video_frames": _mm_video_frames,
        "a2_bag_argmax": _a2_bag_argmax,
        "w1_pr_curve": _w1_pr_curve,
        "j2_embedding_alignment": _j2_embedding_alignment,
        "j6_trigger_entity_pairs": _j6_trigger_entity_pairs,
        "sc13_dep_edges": _sc13_dep_edges,
        "q_top_orders": _q_top_orders,
        "u2_confidence_transfer": _u2_transfer,
        "j10_eval_intersection": _j10_intersection,
        "w5_threshold_sweep": _w5_thresh_sweep,
        "a7_sample_weight": _a7_weight,
        "a8_max_length": _a8_maxlen,
        "w4_fold_slice": _w4_fold,
        "j11_event_transitions": _j11_transitions,
        "u1_union_posneg": _u1_union,
        "u3_intersect_users": _u3_intersect,
        "f3_keep_events": _f3_keep_events,
        "sc4_label_pretty": _sc4_label_pretty,
        "sc6_digit_normalize": _sc6_digit_norm,
        "json_props_stats": _json_props_stats,
        "sc2b_iobes_roundtrip": _sc2b_iobes_roundtrip,
        "lsh_hyperplane_buckets": _lsh_hyperplane,
        "sc10_relative_positions": _sc10_relpos,
        "j9_interval_join": _j9_interval,
        "s7_embedding_scan": _s7_embedding_scan,
        "a3_prf_counters": _a3_prf,
        "w3_topk_per_type": _w3_topk,
        "sc3_bio_chunks": _sc3_bio_chunks,
        "a6_micro_f1": _a6_micro_f1,
        "f4_negative_cap": _f4_negative_cap,
        "sc2_iob_iobes": _sc2_iob_iobes,
        "s4_conll_scan": _s4_conll_scan,
        "q5_nation_revenue": _q5,
        "j1_vocab_lookup": _j1_vocab_lookup,
        "sc9_pad_truncate": _sc9_pad,
        "sc12_lexical_window": _sc12_lexwin,
    }


def oracle_sql() -> dict[str, str]:
    # Same insertion order as queries() — see the ordering note there.
    from deepee_spark.operators import bpe as _bpe_sql
    from deepee_spark.operators import dsir as _dsir_sql
    from deepee_spark.operators import kgembed as _kgembed_sql
    from deepee_spark.operators import budget as _budget_sql
    from deepee_spark.operators import chunking as _chunking_sql
    from deepee_spark.operators import graph as _graph_sql
    from deepee_spark.operators import redirects as _redirects_sql
    from deepee_spark.operators import refresh as _refresh_sql
    from deepee_spark.operators import sharding as _sharding_sql

    return {
        "bpe_fertility": _bpe_fertility_sql(),
        "w1_joint_pr_curve": _W1_JOINT_SQL,
        "kmeans_cells": _kmeans_cells_sql(),
        "semdedup_trained": _semdedup_trained_sql(),
        "text_nfc_normalize": _TEXT_NFC_SQL,
        "robots_crawl_delay": _robots_crawl_delay_sql(),
        "semdedup": _SEMDEDUP_SQL,
        "j12_salted_linking": _J12_SALTED_SQL,
        # salting is semantically invisible -> the planned-k variant
        # shares the exact-link oracle
        "j12_planned_salt": _J12_SALTED_SQL,
        "cep_funnel_replay": _CEP_REPLAY_SQL,
        "politeness_replay": _politeness_replay_sql(),
        "stream_dedup_replay": _stream_dedup_replay_sql(),
        "politeness_adaptive": _politeness_adaptive_sql(),
        "wordpiece_file_vocab": _WORDPIECE_FILE_SQL,
        "rcee_anchor_windows": _rcee_anchor_windows_sql(),
        "rcee_question_stems": _rcee_question_stems_sql(),
        "m2_viterbi_roles": _M2_VITERBI_SQL,
        "q1_pricing_summary": _Q1_SQL,
        "a1_vocab_build": _A1_SQL,
        "ee_trigger_counts": _EE_TRIGGER_SQL,
        "ee_trigger_counts_gcn": _EE_TRIGGER_SQL,
        "ee_trigger_counts_masked": _EE_TRIGGER_SQL,
        "ee_trigger_counts_gated": _EE_TRIGGER_SQL,
        "ee_trigger_counts_edgeaware": _EE_TRIGGER_SQL,
        "bert_trigger_tags": _BERT_TAGS_SQL,
        "qa_span_args": _QA_SPAN_SQL,
        "qa_question_templates": _QA_TEMPLATES_SQL,
        "qa_span_args_variants": _QA_VARIANTS_SQL,
        "qa_span_args_refined": _QA_REFINED_SQL,
        "m10_role_decode": _M10_SQL,
        "bag_truncate_pad": _BAG_SQL,
        "text_lang_id": _LANG_SQL,
        "text_quality_score": _QUALITY_SQL,
        "text_token_counts": _TOKEN_COUNTS_SQL,
        "text_doc_fingerprint": _FINGERPRINT_SQL,
        "text_repetition_filter": _REPETITION_SQL,
        "url_host_stats": _URL_HOST_SQL,
        "url_blocklist_filter": _URL_BLOCKLIST_SQL,
        "pii_redact": _PII_SQL,
        "paragraph_dedup": _PARA_SQL,
        "substring_dedup": _SUBSTR_DEDUP_SQL,
        "substring_dup_spans": _SUBSTR_SPANS_SQL,
        "kg_jsonld": _KG_JSONLD_SQL,
        "kg_microdata": _KG_MICRODATA_SQL,
        "kg_page_meta": _KG_PAGE_META_SQL,
        "timex_normalize": _TIMEX_SQL,
        "timex_scan": _TIMEX_SCAN_SQL,
        "sitemap_parse": _SITEMAP_SQL,
        "warc_records": _WARC_SQL,
        "openie_triples": _OPENIE_SQL,
        "text_mojibake_repair": _mojibake_oracle_sql(),
        "kg_entity_salience": _SALIENCE_SQL,
        "kg_node2vec_walks": _kg_node2vec_walks_sql(),
        "kg_coref_pronouns": _KG_COREF_SQL,
        "kg_expectations": _KG_EXPECTATIONS_SQL,
        "corpus_group_split": _GROUP_SPLIT_SQL,
        "robots_sitemaps": _ROBOTS_SITEMAPS_SQL,
        "text_script_profile": _SCRIPT_PROFILE_SQL,
        "ccnet_buckets": _CCNET_BUCKETS_SQL.format(unigram=_UNIGRAM_SQL),
        "nb_quality_filter": _NB_SQL,
        "text_doc_frequency": _DOC_FREQ_SQL,
        "stratified_sample": _STRAT_SAMPLE_SQL,
        "text_unigram_logprob": _UNIGRAM_SQL,
        "curation_funnel": _FUNNEL_SQL,
        "decontaminate": _DECON_SQL,
        "sequence_packing": _SEQPACK_SQL,
        "kg_node_rollup": _KG_NODES_SQL,
        "stream_first_crawl": _STREAM_FIRST_SQL,
        "kg_co_neighbors": _KG_CO_NEIGHBORS_SQL,
        "kg_triangles": _KG_TRIANGLES_SQL,
        "kg_pagerank": _graph_sql.pagerank_oracle_sql(
            _KG_EDGE_PROJ_SQL, iters=3
        ),
        "kg_hits": _graph_sql.hits_oracle_sql(_KG_EDGE_PROJ_SQL, iters=3),
        "kg_wl_roles": _graph_sql.wl_oracle_sql(_KG_EDGE_PROJ_SQL, iters=2),
        "dedup_cluster_keep": _DEDUP_CLUSTER_KEEP_SQL,
        "heavy_hitters": _HEAVY_HITTERS_SQL,
        "dedup_minhash_resolve": _MINHASH_RESOLVE_SQL,
        "winnow_fingerprints": _WINNOW_SQL,
        "simhash_dup_hist": _SIMHASH_PAIRS_SQL,
        "kg_transe_rank": _kgembed_sql.transe_oracle_sql(
            _KG_TRANSE_SP_SQL, _KG_TRANSE_CAND_SQL, top_k=3
        ),
        "kg_hyperball": _graph_sql.hyperball_oracle_sql(
            _KG_EDGE_PROJ_REV_SQL, radius=3
        ),
        "kg_neighborhood_fn": _graph_sql.hyperball_neighborhood_oracle_sql(
            _KG_EDGE_PROJ_SQL, radius=3
        ),
        "domain_registrable": _DOMAIN_REGISTRABLE_SQL,
        "domain_quota_cap": _DOMAIN_QUOTA_SQL,
        "kg_pagerank_weighted": _graph_sql.pagerank_weighted_oracle_sql(
            _KG_WEDGES_SQL, iters=3
        ),
        "kg_web_tables": _KG_WEB_TABLES_SQL,
        "bpe_merges": _bpe_sql.learn_merges_oracle_sql(steps=6),
        "bpe_segment": _bpe_sql.segment_oracle_sql(_BPE_FIXED_MERGES),
        "dsir_weights": _dsir_sql.dsir_oracle_sql(
            "documents", "doc_id % 17 = 0", _TOKENS_SQL
        ),
        "dsir_select": _dsir_sql.gumbel_topk_oracle_sql(
            _dsir_sql.dsir_oracle_sql(
                "documents", "doc_id % 17 = 0", _TOKENS_SQL
            ),
            k=100,
        ),
        "robots_admission": _robots_admission_sql(),
        "passage_windows": _chunking_sql.passage_windows_oracle_sql(
            "SELECT doc_id, text FROM documents", window=32, stride=24
        ),
        "crawl_budget": _budget_sql.water_fill_oracle_sql(
            _CRAWL_BUDGET_DEMANDS_SQL
        ),
        "kg_redirects": _redirects_sql.resolve_redirects_oracle_sql(
            _KG_REDIRECTS_EDGES_SQL
        ),
        "shard_assignment": _sharding_sql.assign_shards_oracle_sql(
            "SELECT doc_id FROM documents", 8
        ),
        "crawl_refresh": _refresh_sql.refresh_priorities_oracle_sql(
            _CRAWL_REFRESH_OBS_SQL, "2026-09-01 00:00:00"
        ),
        "kg_bfs": _graph_sql.bfs_oracle_sql(
            _KG_EDGE_PROJ_SQL, _KG_BFS_SEEDS_SQL, max_hops=3
        ),
        "kg_fact_latest": _KG_FACT_LATEST_SQL,
        "kg_neighbor_jaccard": _KG_NEIGHBOR_JACCARD_SQL,
        "kg_functional_conflicts": _KG_FUNCTIONAL_CONFLICTS_SQL,
        "kg_fact_fusion": _kg_fact_fusion_sql(),
        "kg_distinct_sketch": _KG_DISTINCT_SKETCH_SQL,
        "a10_loss_reductions": _A10_SQL,
        "w6_epoch_shuffle": _W6_SQL,
        "m9_selector_weights": _M9_SQL,
        "kg_fact_asof": _KG_FACT_ASOF_SQL,
        "kg_fact_intervals": _KG_FACT_INTERVALS_SQL,
        "kg_kcore": _graph_sql.kcore_oracle_sql(
            _KG_KCORE_EDGES_SQL, k=80, rounds=12
        ),
        "kg_ktruss": _graph_sql.ktruss_oracle_sql(
            _KG_KCORE_EDGES_SQL, k=5, rounds=5
        ),
        "kg_entity_bursts": _KG_BURSTS_SQL,
        "triple_calibration": _CALIBRATION_SQL,
        "kg_schema_violations": _SCHEMA_VIOLATIONS_SQL,
        "event_sessions": _EVENT_SESSIONS_SQL,
        "text_tfidf_topk": _TFIDF_SQL,
        "kg_negative_samples": _KG_NEGATIVES_SQL,
        "exact_price_quantiles": _QUANTILES_SQL,
        "kg_entity_pmi": _KG_PMI_SQL,
        "dedup_setjoin": _SETJOIN_SQL,
        "kg_random_walks": _kg_random_walks_sql(),
        "kg_skipgram_pairs": _kg_skipgram_pairs_sql(),
        "kg_outlink_hosts": _KG_OUTLINKS_SQL,
        "kg_anchor_aliases": _KG_ALIASES_SQL,
        "kg_bloom_frontier": _kg_bloom_frontier_sql(),
        "kg_crawl_schedule": _kg_crawl_schedule_sql(),
        "kg_corpus_mixture": _KG_MIXTURE_SQL,
        "kg_cms_frequencies": _kg_cms_frequencies_sql(),
        "kg_lsh_recall": _KG_LSH_RECALL_SQL,
        "kg_lsh_recall_multi": _kg_lsh_recall_multi_sql(),
        "kg_cluster_prf": _KG_CLUSTER_PRF_SQL,
        "text_bigram_logprob": _BIGRAM_SQL,
        "kg_dangling_refs": _KG_DANGLING_SQL,
        "kg_sketch_merge": _KG_SKETCH_MERGE_SQL,
        "kg_hll_distinct": _kg_hll_distinct_sql(),
        "kg_scc": _kg_scc_sql(),
        "kg_politeness": _kg_politeness_sql(),
        "kg_cluster_bcubed": _KG_CLUSTER_BCUBED_SQL,
        "ann_rrf_fused": _ANN_RRF_SQL,
        "sparse_retrieval_topk": _SPARSE_RETRIEVAL_SQL,
        "kg_source_trust": _kg_source_trust_sql(),
        "kg_edge_rollup": _KG_EDGES_SQL,
        "kg_sssp": _kg_sssp_sql(),
        "corpus_weighted_sample": _CORPUS_WEIGHTED_SAMPLE_SQL,
        "skew_hot_keys": _SKEW_HOT_KEYS_SQL,
        "kg_distant_supervision": _KG_DISTANT_SQL,
        "kg_rule_mining": _KG_RULES_SQL,
        "kg_taxonomy_closure": _KG_CLOSURE_SQL,
        "kg_bgp_query": _KG_BGP_SQL,
        "kg_event_funnel": _KG_FUNNEL_SQL,
        "kg_harmonic_centrality": _graph_sql.harmonic_oracle_sql(
            _KG_EDGE_PROJ_SQL, _KG_BFS_SEEDS_SQL, max_hops=3
        ),
        "kg_pagerank_seeded": _graph_sql.pagerank_seeded_oracle_sql(
            _KG_EDGE_PROJ_SQL, _KG_BFS_SEEDS_SQL, iters=3
        ),
        "kg_link_prediction": _KG_LINK_PREDICTION_SQL,
        "kg_communities": _graph_sql.label_propagation_oracle_sql(
            _KG_KCORE_EDGES_SQL, rounds=4
        ),
        "kg_community_rank": _kg_community_rank_sql(),
        "kg_fact_diff": _KG_FACT_DIFF_SQL,
        "a2_bag_argmax": _A2_SQL,
        "a3_prf_counters": _A3_SQL,
        "w1_pr_curve": _W1_SQL,
        "j5_template_fanout": _J5_SQL,
        "f4_negative_cap": _F4_SQL,
        "s11_framenet_exemplars": _s11_sql(),
        "a6_micro_f1": _A6_SQL,
        "a4_chunk_prf": _A4_SQL,
        "j2_embedding_alignment": _J2_SQL,
        "j6_trigger_entity_pairs": _J6_SQL,
        "sc13_dep_edges": _SC13_SQL,
        "dedup_exact": _DEDUP_EXACT_SQL,
        "dedup_minhash_signatures": _MINHASH_SQL,
        "dedup_simhash": _SIMHASH_SQL,
        "dedup_ngram_jaccard": _NGRAM_JACCARD_SQL,
        "dedup_containment": _DEDUP_CONTAINMENT_SQL,
        "dedup_embedding_cosine": _DEDUP_EMB_SQL,
        "dedup_cluster_assign": _DEDUP_CLUSTER_SQL,
        "ann_cosine_topk": _ANN_SQL,
        "ann_ivf_topk": _IVF_SQL,
        "ann_pq_topk": _PQ_SQL,
        "mm_image_features": _MM_IMAGE_SQL,
        "mm_audio_features": _MM_AUDIO_SQL,
        "mm_video_frames": _MM_VIDEO_SQL,
        "q_top_orders": _Q_TOP_ORDERS_SQL,
        "u2_confidence_transfer": _U2_SQL,
        "j10_eval_intersection": _J10_SQL,
        "w5_threshold_sweep": _W5_SQL,
        "a7_sample_weight": _A7_SQL,
        "a8_max_length": _A8_SQL,
        "w4_fold_slice": _W4_SQL,
        "j11_event_transitions": _J11_SQL,
        "u1_union_posneg": _U1_SQL,
        "u3_intersect_users": _U3_SQL,
        "f3_keep_events": _F3_SQL,
        "sc4_label_pretty": _SC4_SQL,
        "sc6_digit_normalize": _SC6_SQL,
        "json_props_stats": _JSON_PROPS_SQL,
        "sc2b_iobes_roundtrip": _SC2B_SQL,
        "lsh_hyperplane_buckets": _LSH_SQL,
        "sc10_relative_positions": _SC10_SQL,
        "j9_interval_join": _J9_SQL,
        "s7_embedding_scan": _S7_SQL,
        "w3_topk_per_type": _W3_SQL,
        "sc3_bio_chunks": _SC3_SQL,
        "sc2_iob_iobes": _SC2_SQL,
        "s4_conll_scan": _S4_SQL,
        "q5_nation_revenue": _Q5_SQL,
        "j1_vocab_lookup": _J1_SQL,
        "sc9_pad_truncate": _SC9_SQL,
        "sc12_lexical_window": _SC12_SQL,
    }
