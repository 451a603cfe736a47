"""Per-layer pass of the traced run.

Each layer's input is pinned first (``localCheckpoint``, untimed, under
job group ``pin``). The layer's public call is then timed and
forced with a ``noop`` write under job group ``layer:<layer>``; executor
CPU, shuffle bytes and job counts come from the status store for that
group. Because inputs are pinned, layer times need not add up to the
fused job's wall.

LAYERS maps each layer to the public call timed and the end-to-end metric
it should move, on which workload.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F

from deepee_spark.extract import documents_stage
from deepee_spark.functions.featurize import featurize_sentences
from deepee_spark.kernels.bilstm import decode_roles
from deepee_spark.kernels.dmcnn import decode_triggers
from deepee_spark.operators.dedup import band_rows, minhash_signatures
from deepee_spark.operators.linking import link_mentions, normalize_surface
from deepee_spark.plans.pipeline import (
    _pad_matrix,
    alias_df,
    arguments_from_triggers,
    canonicalize,
    facts_from,
    mentions_from_arguments,
    mentions_from_tables,
    table_triples_out,
    triggers_from_sentences,
    triples_from,
)
from deepee_spark.segment import sentences_stage
from deepee_spark.session import ARROW_BATCH_ROWS

from tracing import group_metrics, job_group

LAYERS = {
    "extract": ("extract.documents_stage", "docs_per_s on batch_snapshot"),
    "segment": ("segment.sentences_stage", "docs_per_s on batch_snapshot"),
    "functions.featurize": ("featurize_sentences", "docs_per_s on batch_snapshot"),
    "kernels.dmcnn": ("plans.pipeline.triggers_from_sentences",
                      "docs_per_s on batch_snapshot; near zero on crawl_drops"),
    "kernels.bilstm": ("plans.pipeline.arguments_from_triggers",
                       "docs_per_s on batch_snapshot; near zero on crawl_drops"),
    "operators.webtables_structured": ("table_facts_from + jsonld_facts_from",
                                       "docs_per_s on batch_snapshot"),
    "operators.linking": ("link_mentions", "job_wall_s.p50 on crawl_drops"),
    "operators.components": (
        "canonicalize (batch) / Pipeline.canonicalize_incremental (drops)",
        "job_wall_s.p50 on crawl_drops"),
    "plans.pipeline.triples": ("triples_from + table_triples_out",
                               "docs_per_s on batch_snapshot"),
    "plans.pipeline.graph": ("Pipeline.materialize_graph",
                             "job_wall_s.p50 on batch_snapshot only"),
    "sources.tables": (
        "StageCatalog.write/append/read/merge_bitmap/merge_accumulate",
        "docs_per_s and warehouse_mb on batch_snapshot; job_wall_s.p50 on crawl_drops"),
    "operators.bloom": ("Pipeline.frontier_gate",
                        "job_wall_s.p50 on crawl_drops; none on batch_snapshot"),
    "operators.dedup": (
        "Pipeline.dedup_drop_against_history",
        "spark.job_wall_slope_s and job_wall_s.p50 on crawl_drops; none on batch_snapshot"),
    "operators.links": ("Pipeline.accumulate_host_links",
                        "job_wall_s.p50 on crawl_drops; none on batch_snapshot"),
    "spark": ("whole workload", "every job_wall_s; largest share on crawl_drops"),
}

# layers each workload's job calls (for the layer-sum-versus-wall line)
CALLED = {
    "batch_snapshot": [
        "extract", "segment", "functions.featurize", "kernels.dmcnn",
        "kernels.bilstm", "operators.webtables_structured", "operators.linking",
        "operators.components", "plans.pipeline.triples", "plans.pipeline.graph",
        "sources.tables",
    ],
    "crawl_drops": [
        "operators.bloom", "operators.dedup", "operators.links", "extract",
        "segment", "functions.featurize", "kernels.dmcnn", "kernels.bilstm",
        "operators.webtables_structured", "operators.linking",
        "operators.components", "plans.pipeline.triples", "sources.tables",
    ],
}


def _direct(rows, decode) -> dict:
    """Time ``decode(ids, lengths, batch)`` on driver-collected rows
    ``(partition, token_ids, ...)`` cut into the kernels' batches: sorted
    by token count within each Spark partition, ARROW_BATCH_ROWS rows per
    batch, padded to the batch's longest row. Spark and Arrow serde are
    outside the timed calls."""
    parts: dict[int, list] = {}
    for r in rows:
        parts.setdefault(r[0], []).append(r)
    busy = real = cells = 0.0
    for p in sorted(parts):
        rs = sorted(parts[p], key=lambda r: len(r[1]))
        for i in range(0, len(rs), ARROW_BATCH_ROWS):
            batch = rs[i:i + ARROW_BATCH_ROWS]
            ids, lengths = _pad_matrix([r[1] for r in batch])
            t0 = time.perf_counter()
            decode(ids, lengths, batch)
            busy += time.perf_counter() - t0
            real += lengths.sum()
            cells += ids.size
    return {"direct_s": busy, "pad_efficiency": real / cells if cells else 0.0}


def direct_triggers(featurized) -> dict:
    """decode_triggers on the featurized sentences."""
    rows = featurized.select(F.spark_partition_id(), "token_ids").collect()
    return _direct(rows, lambda ids, lengths, _: decode_triggers(ids, lengths))


def direct_roles(triggers) -> dict:
    """decode_roles on the (trigger, mention) pairs."""
    rows = [
        (r[0], r[1], r[2], m.pos)
        for r in triggers.select(
            F.spark_partition_id(), "token_ids", "event_type_id", "mentions"
        ).collect()
        for m in r[3]
    ]
    return _direct(rows, lambda ids, lengths, batch: decode_roles(
        ids, lengths,
        np.array([r[2] for r in batch], dtype=np.int64),
        np.array([r[3] for r in batch], dtype=np.int64),
    ))


class LayerPass:
    def __init__(self, spark, tracer):
        self.spark, self.tracer = spark, tracer
        self.metrics: dict[str, dict] = {}

    def pin(self, df):
        with job_group(self.spark, "pin"):
            return df.localCheckpoint()

    def layer(self, name: str, call):
        """Time ``call()`` plus a noop write of every DataFrame it returns;
        returns the (unpinned) result. Row counts ride the noop writes;
        ``self.rows`` keeps them per returned DataFrame."""
        self.rows = []
        with job_group(self.spark, f"layer:{name}"), self.tracer.span(name) as sp:
            out = call()
            for df in out if isinstance(out, tuple) else (out,):
                obs = Observation(f"rows:{name}")
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                    "noop"
                ).mode("overwrite").save()
                self.rows.append(obs.get["n"])
        self.metrics[name] = {
            "busy_s": sp["end"] - sp["start"], "rows_out": sum(self.rows)
        }
        return out

    def run(self, docs, pipe, fingerprint: str, incremental: bool) -> dict:
        """All layers on ``docs`` against ``pipe``'s catalog. The crawl
        layers take ``docs`` as a drop; with ``incremental`` the
        extraction chain then runs on the novel docs and canonicalization
        is incremental, as in ``process_crawl_drop``."""
        spark, m, pin, layer = self.spark, self.metrics, self.pin, self.layer
        docs = pin(docs)
        n_docs = docs.count()
        try:
            prior_bands = pin(pipe.catalog.read(spark, "mh_bands"))
        except FileNotFoundError:
            prior_bands = None

        admitted = pin(layer(
            "operators.bloom", lambda: pipe.frontier_gate(docs, fingerprint)))
        n_adm = m["operators.bloom"]["rows_out"]
        m["operators.bloom"]["admit_ratio"] = n_adm / n_docs if n_docs else 0.0

        candidates = self._candidate_pairs(admitted, prior_bands)
        dups = layer(
            "operators.dedup",
            lambda: pipe.dedup_drop_against_history(admitted, fingerprint))
        dup_urls = dups.select("url").distinct()
        n_dup_urls = dup_urls.count()
        m["operators.dedup"].update(
            candidate_pairs=candidates,
            verified_ratio=(m["operators.dedup"]["rows_out"] / candidates
                            if candidates else 0.0),
            near_dup_ratio=n_dup_urls / n_adm if n_adm else 0.0,
        )
        novel = pin(admitted.join(dup_urls, "url", "left_anti"))
        layer("operators.links",
              lambda: pipe.accumulate_host_links(novel, fingerprint))

        src = novel if incremental else docs
        n_parts = spark.sparkContext.defaultParallelism
        src = pin(src.repartition(n_parts, F.xxhash64("url")))
        extracted = pin(layer("extract", lambda: documents_stage(src)))
        sentences = pin(layer("segment", lambda: sentences_stage(extracted)))
        feats = pin(layer(
            "functions.featurize", lambda: featurize_sentences(sentences)))
        triggers = pin(layer(
            "kernels.dmcnn", lambda: triggers_from_sentences(feats)))
        m["kernels.dmcnn"].update(direct_triggers(feats))
        arguments = pin(layer(
            "kernels.bilstm", lambda: arguments_from_triggers(triggers)))
        m["kernels.bilstm"].update(direct_roles(triggers))
        facts = pin(layer(
            "operators.webtables_structured", lambda: facts_from(src)))

        mentions = pin(mentions_from_arguments(arguments)
                       .select("mention_id", "surface")
                       .unionByName(mentions_from_tables(facts)))
        n_mentions = mentions.count()
        linked = pin(layer(
            "operators.linking", lambda: link_mentions(mentions, alias_df(spark))))
        m["operators.linking"]["link_ratio"] = (
            m["operators.linking"]["rows_out"] / n_mentions if n_mentions else 0.0)

        edges_in = linked.select(
            normalize_surface(F.col("surface")), "entity_id").distinct().count()
        if incremental:
            canonical = layer("operators.components",
                              lambda: pipe.canonicalize_incremental(linked, fingerprint))
        else:
            canonical = layer("operators.components", lambda: canonicalize(linked))
        canonical = pin(canonical)
        m["operators.components"]["edges_in"] = edges_in

        triples = pin(layer(
            "plans.pipeline.triples",
            lambda: triples_from(arguments, linked, canonical).unionByName(
                table_triples_out(facts, linked, canonical))))
        layer("plans.pipeline.graph",
              lambda: pipe.materialize_graph(triples, fingerprint, resume=False))
        m["plans.pipeline.graph"].update(nodes=self.rows[0], edges=self.rows[1])

        if not incremental:
            # the tables layer of the batch profile: commit and read back
            # every pinned stage output checkpoint="all" commits (the crawl
            # path's catalog calls are timed by the proxy in run.py)
            cat = pipe.catalog
            stage_outputs = {
                "documents": docs, "extracted": extracted, "table_facts": facts,
                "sentences": feats, "triggers": triggers, "arguments": arguments,
                "linked": linked, "canonical": canonical, "triples": triples,
            }

            def commit_all():
                for name, df in stage_outputs.items():
                    cat.write(df, f"layer_{name}", fingerprint)
                return tuple(cat.read(spark, f"layer_{name}")
                             for name in stage_outputs)

            layer("sources.tables", commit_all)

        groups = [f"layer:{name}" for name in m]
        for g, vals in group_metrics(spark, groups).items():
            del vals["tasks"], vals["rows_written"]
            m[g.split(":", 1)[1]].update(vals)
        return m

    def _candidate_pairs(self, admitted, prior_bands) -> int:
        """Band collisions of the admitted docs against the history index,
        via the public minhash_signatures/band_rows (untimed)."""
        if prior_bands is None:
            return 0
        toks = admitted.select(
            "url",
            F.array_distinct(F.split(F.lower(F.col("text")), r"\s+")).alias("tok_set"),
        )
        banded = band_rows(minhash_signatures(toks, "url", "tok_set"), "url", 8)
        return (
            banded.join(
                prior_bands.select(F.col("url").alias("dup_url"), "band", "band_key"),
                ["band", "band_key"],
            )
            .filter(F.col("url") != F.col("dup_url"))
            .select("url", "dup_url")
            .distinct()
            .count()
        )
