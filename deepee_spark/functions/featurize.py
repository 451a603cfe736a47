"""Featurization as pure column expressions (SURVEY.md §2.8: J1 vocab
lookup, mention detection, SC11 part masks; SC9 padding happens in the
kernels' batch-max _pad_matrix).

Everything here stays inside whole-stage codegen — no Python. The kernel
UDFs receive ready-made integer arrays (the AD-DMBERT columnar data model,
DataFormat.md:7-102, realized as Spark array columns).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernels.weights import UNK, kernel_vocab
from ..ontology import ENTITY_GAZETTEER


def vocab_map_literal() -> Column:
    """Broadcastable map literal word -> id for the kernel vocabulary (J1)."""
    vocab = kernel_vocab()
    pairs: list[Column] = []
    for w, i in vocab.items():
        pairs += [F.lit(w), F.lit(i)]
    return F.create_map(*pairs)


def gazetteer_map_literal() -> Column:
    """Map literal surface -> entity_type (mention detector dimension)."""
    pairs: list[Column] = []
    for w, (et, _eid) in ENTITY_GAZETTEER.items():
        pairs += [F.lit(w), F.lit(et)]
    return F.create_map(*pairs)


def token_ids(tokens: Column) -> Column:
    """J1 vocab lookup with <UNK> fallback, as an array transform."""
    vmap = vocab_map_literal()
    unk = kernel_vocab()[UNK]
    return F.transform(
        tokens, lambda t: F.coalesce(F.element_at(vmap, t), F.lit(unk))
    )


def mention_positions(tokens: Column) -> Column:
    """array<struct<pos:int, surface:string>> of gazetteer hits (mention
    detection = broadcast dictionary match; positions are 0-based)."""
    gmap = gazetteer_map_literal()
    idx = F.transform(tokens, lambda t, i: F.struct(i.alias("pos"), t.alias("surface")))
    return F.filter(idx, lambda s: F.element_at(gmap, s["surface"]).isNotNull())


def part_masks(length: Column, split_pos: Column) -> Column:
    """SC11 two-part pooling masks: struct(maskL, maskR) with
    maskL_i = 1.0 if i <= p else 0.0 (DataFormat.md:54-76)."""
    seq = F.sequence(F.lit(0), length - 1)
    return F.struct(
        F.transform(
            seq, lambda i: F.when(i <= split_pos, F.lit(1.0)).otherwise(F.lit(0.0))
        ).alias("maskL"),
        F.transform(
            seq, lambda i: F.when(i > split_pos, F.lit(1.0)).otherwise(F.lit(0.0))
        ).alias("maskR"),
    )


def featurize_sentences(sentences: DataFrame) -> DataFrame:
    """sentences -> + token_ids (int array) + mentions (pos/surface structs)."""
    return sentences.withColumn(
        "token_ids", token_ids(F.col("tokens"))
    ).withColumn("mentions", mention_positions(F.col("tokens")))


def token_type_multihot(entities: Column, length: Column) -> Column:
    """M10: per-token entity-type MULTI-hot from (possibly overlapping)
    mention spans — array<array<double>> of shape (length, N_ENT), where
    a token covered by k mentions of one type gets k in that slot
    (MOGANED utils.py:117-145: the embedding layer SUMS all covering
    labels' type embeddings; kernels consume this via
    bilstm.encode(type_multihot=...)).

    entities: array<struct<start:int, end:int, entity_type:string>>
    (end exclusive, the S1 scan schema)."""
    from ..ontology import ENTITY_TYPE_TO_ID

    types_by_id = sorted(ENTITY_TYPE_TO_ID, key=ENTITY_TYPE_TO_ID.get)
    return F.transform(
        F.sequence(F.lit(0), length - 1),
        lambda i: F.array(
            *[
                F.size(
                    F.filter(
                        entities,
                        lambda e: (e["start"] <= i)
                        & (i < e["end"])
                        & (e["entity_type"] == F.lit(t)),
                    )
                ).cast("double")
                for t in types_by_id
            ]
        ),
    )
