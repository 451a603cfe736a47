"""Seeded inputs, timed jobs and correctness checks of the two workloads.

The program sees only the generated parquet inputs; both workloads are a
closed loop with one caller.

batch_snapshot  one job = ``Pipeline(checkpoint="all").run`` (9 stage
                commits) + ``materialize_graph`` (2 more) over the seeded
                corpus, into a fresh warehouse.
crawl_drops     one job = ``process_crawl_drop`` of the next drop of a
                fixed seeded sequence, into one growing warehouse. Each
                drop after the first re-crawls a fifth of the previous
                drop's urls, half verbatim and half with ``utm_*``/``ref``
                parameters that the frontier's url canonicalization strips.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext

from pyspark.sql import functions as F

from deepee_spark.corpus import corpus_df, gold_triples_df
from deepee_spark.operators.metrics import tuple_set_prf
from deepee_spark.plans.pipeline import Pipeline
from deepee_spark.sources.tables import StageCatalog

from tracing import file_sizes

KEYS = ["url", "subj", "pred", "obj"]

# docs: batch corpus; warmups: untimed batch jobs before the timed ones;
# jobs: timed batch jobs per run; drop_docs: new docs per drop; drops:
# length of the drop sequence (drop 0 warms up, every later drop is
# timed). Per-job cost on 4 cores is dominated by a fixed ~10 s of Spark
# job latency, and set-up takes about 40 s, so the sizes are kept where a
# run takes about a minute. Batch job walls keep falling over the first
# few jobs of a session (JIT), by ~30% from the first job after one
# warm-up to the third, so the batch warms up twice. Drops of a few
# hundred docs keep the seed-to-seed spread of the committed triple count
# (it follows how many docs dedup flags) to a few percent.
SIZES = {
    "full": {"docs": 1000, "warmups": 2, "jobs": 1, "drop_docs": 400,
             "drops": 3},
    "tiny": {"docs": 40, "warmups": 1, "jobs": 1, "drop_docs": 20,
             "drops": 3},
}

TRACKING = "?utm_source=feed&ref=rss"


def write_corpus(spark, path: str, n_docs: int, seed: int):
    corpus_df(spark, n_docs, seed).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def write_drops(spark, path: str, n_drops: int, drop_docs: int, seed: int):
    """Materialize a drop sequence as parquet partitioned by ``drop`` and
    return (DataFrame, docs offered) per drop."""
    page = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("int")
    # generated once; the drops and their re-crawls read it back
    docs = write_corpus(
        spark, os.path.join(path, "corpus"), n_drops * drop_docs, seed
    ).withColumn("drop", F.floor(page / drop_docs).cast("int"))
    h = F.pmod(F.xxhash64("url", F.lit(seed)), F.lit(10))
    recrawl = (
        docs.filter((F.col("drop") < n_drops - 1) & (h < 2))
        .withColumn(
            "url",
            F.when(h == 1, F.concat("url", F.lit(TRACKING))).otherwise(
                F.col("url")
            ),
        )
        .withColumn("drop", F.col("drop") + 1)
    )
    out = os.path.join(path, "drops")
    docs.unionByName(recrawl).write.mode("overwrite").partitionBy(
        "drop"
    ).parquet(out)
    sizes = dict(spark.read.parquet(out).groupBy("drop").count().collect())
    return [
        (spark.read.parquet(os.path.join(out, f"drop={k}")), sizes[k])
        for k in range(n_drops)
    ]


def dir_mb(path: str) -> float:
    return sum(file_sizes(path).values()) / 2**20


def contract_failures(pipe: Pipeline) -> int:
    return pipe.check_triples_contract().filter(~F.col("passed")).count()


def check_triples(spark, pipe: Pipeline, gold, committed: int) -> dict:
    """P/R against gold on (url, subj, pred, obj), the triples contract
    of the pipeline's warehouse, and the committed triple count, which
    must equal the number of distinct gold triples exactly."""
    gold = gold.localCheckpoint()  # generated once for both of its scans
    prf = tuple_set_prf(pipe.catalog.read(spark, "triples"), gold, KEYS)
    bad = contract_failures(pipe)
    ok = (prf["precision"] >= 1.0 and prf["recall"] >= 1.0 and bad == 0
          and committed == prf["n_gold"])
    return {"ok": ok, "precision": prf["precision"], "recall": prf["recall"],
            "contract_failures": bad, "triples": committed,
            "expected_triples": prf["n_gold"]}


class BatchSnapshot:
    name = "batch_snapshot"
    incremental = False

    def __init__(self, spark, work: str, size: dict, seed: int):
        self.spark, self.work, self.size, self.seed = spark, work, size, seed
        self.n_jobs = 0
        self.n_gold: int | None = None

    def materialize(self) -> None:
        path = os.path.join(self.work, "inputs", "docs")
        self.docs = write_corpus(self.spark, path, self.size["docs"], self.seed)

    def gold(self):
        return gold_triples_df(self.spark, self.size["docs"], self.seed)

    def warm_up(self) -> list[float]:
        """Untimed jobs: they pay the cold costs (JIT and codegen of every
        stage, Python workers loading the kernels) that a long-running
        driver pays once; returns their walls."""
        return [self._run(self.docs, f"warm{i}")[1]
                for i in range(self.size["warmups"])]

    def more(self) -> bool:
        return self.n_jobs < self.size["jobs"]

    def _run(self, docs, tag: str, wrap=None, ctx=nullcontext):
        pipe = Pipeline(
            self.spark, StageCatalog(os.path.join(self.work, f"wh-{tag}")),
            checkpoint="all",
        )
        if wrap:
            wrap(pipe)
        with ctx():
            t0 = time.perf_counter()
            triples = pipe.run(docs, tag, resume=False)
            pipe.materialize_graph(triples, tag, resume=False)
            n = triples.count()
            wall = time.perf_counter() - t0
        return pipe, wall, n

    def job(self, wrap=None, ctx=nullcontext) -> dict:
        """One timed job into a fresh warehouse."""
        self.n_jobs += 1
        pipe, wall, n = self._run(self.docs, f"job{self.n_jobs}", wrap, ctx)
        return {"wall": wall, "docs": self.size["docs"], "triples": n,
                "warehouse_mb": dir_mb(pipe.catalog.root), "pipe": pipe}

    def check_job(self, res: dict, gold) -> dict:
        """Check the first job's warehouse in full; every later job must
        commit the same, gold-sized triple count. Removes the warehouse."""
        pipe = res.pop("pipe")
        if self.n_gold is None:
            check = check_triples(self.spark, pipe, gold, res["triples"])
            self.n_gold = check["expected_triples"]
        else:
            check = {"ok": res["triples"] == self.n_gold,
                     "triples": res["triples"], "expected_triples": self.n_gold}
        shutil.rmtree(pipe.catalog.root, ignore_errors=True)
        return check

    def check_end(self, gold) -> None:
        return None

    def summary(self, jobs: list[dict]) -> dict:
        return {
            "docs_per_s": statistics.median(j["docs"] / j["wall"] for j in jobs),
            "triples_per_s": statistics.median(j["triples"] / j["wall"] for j in jobs),
            "triples_committed": jobs[-1]["triples"],
            "warehouse_mb": statistics.median(j["warehouse_mb"] for j in jobs),
        }

    def traced(self, gold, wrap, ctx) -> dict:
        """A traced job, an untraced one, another traced one, so that job
        order does not bias the tracing overhead; the layer pass runs on
        the corpus against a fresh warehouse."""
        jobs, untraced, checks = [], [], []
        for traced in (True, False, True):
            res = self.job(wrap, ctx) if traced else self.job()
            checks.append(self.check_job(res, gold))
            (jobs if traced else untraced).append(res)
        layer_pipe = Pipeline(
            self.spark, StageCatalog(os.path.join(self.work, "wh-layers"))
        )
        return {"untraced": untraced, "jobs": jobs, "compared": jobs,
                "checks": checks, "xs": list(range(len(jobs))),
                "layer_docs": self.docs, "layer_pipe": layer_pipe}


class CrawlDrops:
    name = "crawl_drops"
    incremental = True

    def __init__(self, spark, work: str, size: dict, seed: int):
        self.spark, self.work, self.size, self.seed = spark, work, size, seed
        self.kept: set[str] = set()
        self.next_drop = 0

    def materialize(self) -> None:
        self.drops = write_drops(
            self.spark, os.path.join(self.work, "inputs"),
            self.size["drops"], self.size["drop_docs"], self.seed,
        )

    def gold(self):
        n = self.size["drops"] * self.size["drop_docs"]
        return gold_triples_df(self.spark, n, self.seed)

    def _open(self, name: str) -> Pipeline:
        return Pipeline(self.spark, StageCatalog(os.path.join(self.work, name)))

    def warm_up(self) -> list[float]:
        """Drop 0 of the sequence, untimed: it pays the cold costs and
        starts the history the timed drops are gated and deduplicated
        against; returns its wall."""
        self.pipe = self._open("wh")
        res = self.drop(self.pipe, 0)
        self.next_drop = 1
        self.triples_before = res["triples"]
        return [res["wall"]]

    def more(self) -> bool:
        return self.next_drop < len(self.drops)

    def drop(self, pipe: Pipeline, k: int, keep: bool = True) -> dict:
        """process_crawl_drop of drop k, timed until the committed triples
        are counted; records the urls the gate admitted and dedup kept."""
        t0 = time.perf_counter()
        r = pipe.process_crawl_drop(self.drops[k][0], f"drop:{k}")
        n = r["triples"].count()
        wall = time.perf_counter() - t0
        if keep:
            dup = {row.url for row in r["near_dups"].select("url").collect()}
            self.kept |= {
                row.url for row in r["admitted"].select("url").collect()
            } - dup
        return {"wall": wall, "docs": self.drops[k][1], "triples": n,
                "admitted": r["n_admitted"], "near_dup": r["n_near_dup"],
                "drop": k}

    def job(self, wrap=None, ctx=nullcontext) -> dict:
        """The next drop into the growing warehouse."""
        if wrap:
            wrap(self.pipe)
        with ctx():
            res = self.drop(self.pipe, self.next_drop)
        self.next_drop += 1
        res["warehouse_mb"] = dir_mb(self.pipe.catalog.root)
        return res

    def check_job(self, res: dict, gold) -> None:
        return None

    def check_end(self, gold) -> dict:
        """The whole sequence ingested; gold restricted to the urls the
        gate admitted and dedup kept."""
        kept = self.spark.createDataFrame(
            [(u,) for u in sorted(self.kept)], "url string"
        )
        committed = self.pipe.catalog.read(self.spark, "triples").count()
        return check_triples(
            self.spark, self.pipe, gold.join(kept, "url", "left_semi"), committed
        )

    def summary(self, jobs: list[dict]) -> dict:
        wall = sum(j["wall"] for j in jobs)
        return {
            "docs_per_s": sum(j["docs"] for j in jobs) / wall,
            "triples_per_s": (jobs[-1]["triples"] - self.triples_before) / wall,
            "triples_committed": jobs[-1]["triples"],
            "warehouse_mb": jobs[-1]["warehouse_mb"],
        }

    def traced(self, gold, wrap, ctx) -> dict:
        """The rest of the sequence traced. The first traced drop also
        runs untraced, once just before and once just after it, each on
        a copy of the warehouse taken before it, so that order does not
        bias the tracing overhead. The layer pass runs the last drop
        against a copy of the warehouse taken just before it."""
        k = self.next_drop
        copies = [f"wh-untraced-{i}" for i in (0, 1)]
        for name in copies:
            shutil.copytree(self.pipe.catalog.root, os.path.join(self.work, name))
        untraced = [self.drop(self._open(copies[0]), k, keep=False)]
        wrap(self.pipe)
        jobs = []
        while self.more():
            if self.next_drop == len(self.drops) - 1:
                shutil.copytree(
                    self.pipe.catalog.root, os.path.join(self.work, "wh-layers")
                )
            jobs.append(self.job(ctx=ctx))
            if len(jobs) == 1:
                untraced.append(self.drop(self._open(copies[1]), k, keep=False))
        return {"untraced": untraced, "jobs": jobs, "compared": jobs[:1],
                "checks": [self.check_end(gold)],
                "xs": [j["drop"] for j in jobs], "layer_docs": self.drops[-1][0],
                "layer_pipe": self._open("wh-layers")}


WORKLOADS = {w.name: w for w in (BatchSnapshot, CrawlDrops)}
