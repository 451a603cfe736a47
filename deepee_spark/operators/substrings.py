"""Exact-substring (duplicated token-window) deduplication.

The missing member of the dedup family next to exact / MinHash /
SimHash / embedding near-dup (operators/dedup.py): document-LEVEL dedup
misses the boilerplate case where distinct pages share long verbatim
runs (licenses, navigation, quoted paragraphs). The public technique
(Lee et al., "Deduplicating Training Data Makes Language Models
Better", ACL 2022) removes any substring that occurs >= 2 times in the
corpus, keeping the first occurrence. The suffix-array construction in
that paper is a single-machine design; the distributed re-expression
here is the standard windowed rolling-hash form:

  1. tokenize (whitespace), hash each token with the engine-wide
     deterministic fold (operators/dedup.str_hash <-> _HASH_SQL);
  2. hash every w-token window with a second-level fold over the token
     hashes -- O(n*w) BIGINT ops per doc, all inside whole-stage
     codegen, no Python;
  3. explode (doc_id, pos, whash) and aggregate per whash: the ONLY
     corpus-wide shuffle, with map-side partial aggregation. A window
     is duplicated when its hash occurs >= 2 times; the occurrence
     with the smallest (doc_id, pos) is canonical (kept), every other
     occurrence is removable;
  4. per-doc rollup (stats) or gaps-and-islands merge of overlapping
     removable windows into maximal token spans (spans) -- per-doc
     windows only, docs are bounded.

Web-scale notes: the explode emits ~n_tokens rows/doc; the whash
groupBy partial-aggregates, so hot
boilerplate windows cost one long per mapper, not a skewed reduce.
The join back to occurrences re-uses the same key, so AQE coalesces
it onto the agg's exchange. Integer fractions (dup_frac_e6) keep the
output float-free for bit-exact cross-engine checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import MOD, str_hash

WINDOW_TOKENS = 8
_B2 = 131  # second-level fold base (token-hash -> window-hash)


def _tokens(text_col):
    return F.filter(F.split(text_col, " "), lambda t: t != "")


def window_occurrences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = WINDOW_TOKENS,
    with_n_windows: bool = True,
) -> DataFrame:
    """-> (id, pos, whash[, n_windows]): one row per w-token window.

    pos is 1-based; n_windows = max(n_tokens - w + 1, 0) rides along so
    downstream per-doc rollups need no second scan of the text — but
    it costs a per-id window (one Exchange), so callers that never
    read it (the substring-dedup chain) pass with_n_windows=False and
    keep the occurrence stream narrow.
    """
    from pyspark.sql import Window as W

    th = F.transform(_tokens(F.col(text_col)), str_hash)

    # Two evaluation-placement traps, both measured at sf0.1 before the
    # fix (37s -> ~1.5s for the winnowing query):
    #  1. the per-window formulation (aggregate over slice(th, i, w)
    #     inside transform(sequence(1, n_win))) re-inlines the WHOLE
    #     th expression at every window position via projection
    #     collapse — O(L^2·|chars|) per doc (the pathology documented
    #     at __spark_entry__._ngram_jaccard). Fixed by binding th ONCE
    #     as a transform lambda variable over a 1-element array wrapper
    #     and chaining zip_with over w shifted slices of the BOUND
    #     variable — the fold order ((h_1·B + h_2)·B + h_3).. mod M is
    #     identical, so whash values (and every oracle) are unchanged.
    #  2. an n_windows column selected NEXT TO the generator lands in
    #     the Project ABOVE Generate — evaluated per EXPLODED row, each
    #     evaluation re-tokenizing and re-hashing the full text. Fixed
    #     by deriving n_windows from the exploded rows themselves
    #     (count of non-null whash per doc) — a per-id window on rows
    #     that never touch the text; every consumer shuffles on id or
    #     whash right after, so the exchange is reused or marginal.
    def _wins(t):
        n = F.size(t) - F.lit(w - 1)
        ln = F.greatest(n, F.lit(1))
        acc = F.slice(t, 1, ln)
        for j in range(1, w):
            acc = F.zip_with(
                acc,
                F.slice(t, j + 1, ln),
                lambda a, b: (a * F.lit(_B2) + b) % F.lit(MOD),
            )
        # n < 1 -> null array; posexplode_outer keeps one (null, null)
        # row so zero-window docs stay visible to n_windows below
        return F.when(n >= 1, acc)

    wins = F.element_at(F.transform(F.array(th), _wins), 1)
    out = df.select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(wins).alias("pos0", "whash"),
    )
    if with_n_windows:
        out = out.withColumn(
            "n_windows",
            F.count("whash").over(W.partitionBy("id")).cast("long"),
        )
    return out.withColumn(
        "pos", (F.col("pos0") + 1).cast("long")
    ).drop("pos0")


def _removable(df: DataFrame, id_col: str, text_col: str, w: int) -> DataFrame:
    """Occurrences of >=2x windows that are NOT the canonical (first by
    (id, pos)) occurrence -- i.e. the removable ones under keep-first."""
    occ = window_occurrences(df, id_col, text_col, w, with_n_windows=False)
    per_hash = occ.filter(F.col("whash").isNotNull()).groupBy("whash").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ"),
        F.min(F.struct("id", "pos")).alias("first_occ"),
    )
    return (
        occ.join(per_hash, "whash")
        .filter(
            (F.col("n_occ") >= 2)
            & (
                (F.col("id") != F.col("first_occ.id"))
                | (F.col("pos") != F.col("first_occ.pos"))
            )
        )
        .select("id", "pos")
    )


def substring_dup_stats(
    df: DataFrame, id_col: str, text_col: str, w: int = WINDOW_TOKENS
) -> DataFrame:
    """-> (id, n_windows, n_dup_windows, dup_frac_e6) per document.

    n_dup_windows counts removable occurrences (keep-first rule);
    dup_frac_e6 is the exact integer floor of the fraction * 1e6 (0
    when the doc has no windows). Every input doc appears, dup or not.
    """
    rem = _removable(df, id_col, text_col, w).groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_windows")
    )
    n_win = F.greatest(
        F.size(_tokens(F.col(text_col))) - F.lit(w - 1), F.lit(0)
    ).cast("long")
    base = df.select(F.col(id_col).alias("id"), n_win.alias("n_windows"))
    return (
        base.join(rem, "id", "left")
        .withColumn(
            "n_dup_windows", F.coalesce("n_dup_windows", F.lit(0)).cast("long")
        )
        .withColumn(
            "dup_frac_e6",
            F.when(F.col("n_windows") > 0,
                   F.expr("n_dup_windows * 1000000 DIV n_windows"))
            .otherwise(F.lit(0)).cast("long"),
        )
    )


def substring_dup_spans(
    df: DataFrame, id_col: str, text_col: str, w: int = WINDOW_TOKENS
) -> DataFrame:
    """-> (id, start_pos, end_pos): maximal token spans covered by
    removable duplicated windows, per document (1-based, inclusive).

    Overlapping or adjacent windows merge (gaps-and-islands: with a
    fixed w the interval end is monotone in pos, so one lag suffices).
    These are the spans the keep-first rewrite would cut.
    """
    rem = _removable(df, id_col, text_col, w).select(
        "id", "pos", (F.col("pos") + F.lit(w - 1)).alias("end")
    )
    byid = Window.partitionBy("id").orderBy("pos")
    island = F.sum(
        F.when(
            F.col("pos") > F.coalesce(F.lag("end").over(byid), F.lit(-1)) + 1,
            1,
        ).otherwise(0)
    ).over(byid)
    return (
        rem.withColumn("island", island)
        .groupBy("id", "island")
        .agg(
            F.min("pos").cast("long").alias("start_pos"),
            F.max("end").cast("long").alias("end_pos"),
        )
        .drop("island")
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    w: int = WINDOW_TOKENS,
    g: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): from the stream of w-token
    window hashes, select in every run of g consecutive hashes the
    minimum one (ties -> leftmost, i.e. min on (whash, pos); the
    paper's rightmost rule is an equally valid convention — what
    matters is both engines share it). The selected (pos, fp) set is a
    position-aware sketch with the paper's guarantee: any two docs
    sharing a verbatim run of >= g+w-1 tokens share at least one
    fingerprint — the local/approximate complement to the exact
    substring dedup above, at ~1/g the index size of full window
    hashing.

    Scale: the selection window is PARTITIONED by document (parallel
    across the corpus, no global ordering); the fingerprint index this
    feeds groups on fp — one partial-agged shuffle, same shape as the
    whash aggregation. Docs with fewer than g window hashes emit no
    fingerprints (the guarantee needs a full guard window; documented,
    mirrored in the oracle).

    -> (id, pos, fp) distinct selected fingerprints, pos = position of
    the selected window."""
    from pyspark.sql import Window as W

    occ = window_occurrences(df, id_col, text_col, w).filter(
        F.col("whash").isNotNull()
    )
    win = W.partitionBy("id").orderBy("pos").rowsBetween(
        W.currentRow, g - 1
    )
    return (
        occ.withColumn(
            "_m", F.min(F.struct(F.col("whash"), F.col("pos"))).over(win)
        )
        .filter(F.col("pos") <= F.col("n_windows") - (g - 1))
        .select(
            "id",
            F.col("_m.pos").alias("pos"),
            F.col("_m.whash").alias("fp"),
        )
        .distinct()
    )
