"""process_crawl_drop (plans/pipeline): the daily-drop composition —
frontier gating, history near-dedup, incremental ingest, and full-drop
replay idempotence, across two consecutive drops."""

from __future__ import annotations

from pyspark.sql import functions as F

from deepee_spark.corpus import corpus_df
from deepee_spark.plans.pipeline import Pipeline
from deepee_spark.sources.tables import StageCatalog


def test_two_drops_with_recrawl_and_near_dup(spark, tmp_path):
    docs = corpus_df(spark, 40)
    d1 = docs.filter("url LIKE '%page/1%' OR url LIKE '%page/2%'")
    pipe = Pipeline(spark, StageCatalog(str(tmp_path / "cat")))

    r1 = pipe.process_crawl_drop(d1, "drop1")
    assert r1["n_admitted"] == d1.count() > 0
    assert r1["n_near_dup"] == 0
    n_triples_1 = r1["triples"].count()
    assert n_triples_1 > 0

    # drop 2 = fresh pages + a RECRAWL of drop-1 urls (gated by the
    # frontier) + a near-copy of a drop-1 page under a NEW url
    # (caught by the history index)
    fresh = docs.filter("url LIKE '%page/3%'")
    recrawl = d1.limit(3)
    base = d1.filter("lang = 'en'").limit(1).collect()[0]
    near = spark.createDataFrame(
        [(base.url + "?copy", base.warc_ts, base.html,
          base.text, base.lang)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    d2 = fresh.unionByName(recrawl).unionByName(near)

    r2 = pipe.process_crawl_drop(d2, "drop2")
    # recrawled urls never re-admitted; the near-copy IS admitted
    # (new canonical url — '?copy' is not a tracking param) but then
    # flagged against history
    assert r2["n_admitted"] == fresh.count() + 1
    assert r2["n_near_dup"] == 1
    dup = r2["near_dups"].collect()[0]
    assert dup.url == base.url + "?copy" and dup.jaccard == 1.0
    # triples appended only for novel pages; total grows
    n_triples_2 = r2["triples"].count()
    assert n_triples_2 > n_triples_1

    # replay of drop 2: every sub-step idempotent, same totals
    r2b = Pipeline(spark, StageCatalog(str(tmp_path / "cat"))).process_crawl_drop(
        d2, "drop2"
    )
    assert r2b["triples"].count() == n_triples_2
    assert r2b["n_near_dup"] == 1


def test_repeated_url_within_drop(spark, tmp_path):
    """A url repeated (same text) inside a drop is signed once per row.
    The committed triples equal those of the same drops without the
    repeats, and so does the near-dup pair set; the repeated pair is
    reported once per (drop row, history row) in both signing forms."""
    docs = corpus_df(spark, 40).localCheckpoint()
    d1 = docs.filter("url LIKE '%page/1%' OR url LIKE '%page/2%'")
    base = d1.filter("lang = 'en'").orderBy("url").limit(1)
    copy = base.withColumn("url", F.concat("url", F.lit("?copy")))
    d2 = docs.filter("url LIKE '%page/3%'").unionByName(copy)

    def run(name, drops):
        pipe = Pipeline(spark, StageCatalog(str(tmp_path / name)))
        out = [pipe.process_crawl_drop(d, f"drop{i}") for i, d in enumerate(drops)]
        dups = [sorted(tuple(r) for r in o["near_dups"].collect()) for o in out]
        triples = sorted(
            tuple(r) for r in out[-1]["triples"]
            .select("url", "subj", "pred", "obj", "confidence").collect()
        )
        return dups, triples

    dups, triples = run("repeat", [d1.unionByName(base), d2.unionByName(copy)])
    ref_dups, ref_triples = run("once", [d1, d2])
    assert triples == ref_triples and len(triples) > 0
    # the repeated near-copy pair comes once per (drop row, history row)
    copy_url = copy.first().url
    assert dups[0] == ref_dups[0] == []
    assert sorted(set(dups[1])) == ref_dups[1]
    assert [p for p in dups[1] if p[0] == copy_url] == [
        p for p in ref_dups[1] if p[0] == copy_url
    ] * 4
    assert [p for p in dups[1] if p[0] != copy_url] == [
        p for p in ref_dups[1] if p[0] != copy_url
    ]
