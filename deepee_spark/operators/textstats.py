"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All whole-stage-codegen expressions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .dedup import str_hash

EN_STOPWORDS = ["the", "a", "of", "and", "in", "to", "is", "was", "on", "for"]
ZH_HINT_RANGE = ("一", "鿿")


def tokens_of(col):
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def stopword_ratio(tokens, stopwords: list[str] | None = None):
    """Share of stopword tokens; null when there are no tokens."""
    stop = F.array(*[F.lit(w) for w in (stopwords or EN_STOPWORDS)])
    return F.try_divide(
        F.size(F.filter(tokens, lambda t: F.array_contains(stop, t))), F.size(tokens)
    )


def cjk_ratio(text):
    """Share of CJK codepoints — the n-gram-free zh/en discriminator."""
    chars = F.split(text, "")
    is_cjk = F.filter(
        chars, lambda c: (c >= F.lit(ZH_HINT_RANGE[0])) & (c <= F.lit(ZH_HINT_RANGE[1]))
    )
    return F.size(is_cjk) / F.greatest(F.length(text), F.lit(1))


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: CJK ratio -> zh; stopword ratio -> en; else
    other (also for a page without tokens). Adds ``pred_lang``."""
    toks = tokens_of(F.col(text_col))
    pred = (
        F.when(cjk_ratio(F.col(text_col)) > 0.2, F.lit("zh"))
        .when(stopword_ratio(toks) >= 0.05, F.lit("en"))
        .otherwise(F.lit("other"))
    )
    return df.withColumn("pred_lang", pred)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_tokens, mean_token_len, stopword_ratio, punct_ratio, quality.

    quality = 0.01*n_tokens + 0.1*mean_token_len - 0.5*stopword_ratio
    - 2*punct_ratio over the unrounded terms, rounded once. A page
    without tokens gets null mean_token_len, stopword_ratio and quality."""
    toks = tokens_of(F.col(text_col))
    n = F.size(toks)
    total_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    mean_len = F.try_divide(total_chars, n)
    stop = stopword_ratio(toks)
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", "")) / F.greatest(
        F.length(text_col), F.lit(1)
    )
    quality = 0.01 * n.cast("double") + 0.1 * mean_len - 0.5 * stop - 2.0 * punct
    return df.withColumns({
        "n_tokens": n.cast("long"),
        "mean_token_len": F.round(mean_len, 6),
        "stopword_ratio": F.round(stop, 6),
        "punct_ratio": F.round(punct, 6),
        "quality": F.round(quality, 6),
    })


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex piece count."""
    return df.withColumn(
        "ws_tokens", F.size(tokens_of(F.col(text_col))).cast("long")
    ).withColumn(
        "re_tokens",
        F.size(
            F.regexp_extract_all(
                text_col, F.lit(r"[a-zA-Z]+|[0-9]+|[^\sa-zA-Z0-9]"), 0
            )
        ).cast("long"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Rolling-hash document fingerprint (deterministic, partition-stable)."""
    return df.withColumn("fingerprint", str_hash(F.col(text_col)))


def doc_frequency(df: DataFrame, text_col: str = "text",
                  min_df: int = 1) -> DataFrame:
    """Corpus-wide document frequency and IDF per token.

    The foundation for TF-IDF quality scoring and data-driven stopword
    derivation at corpus scale. Distributed shape: per-doc
    array_distinct BEFORE the explode (so a token counts once per doc
    and the explode volume is bounded by vocabulary-per-doc, not token
    count), then one partial-agged count per token — frequent tokens
    are exactly the skewed keys, and the map-side partial absorbs them.
    N (corpus size) rides in as a broadcast single-row cross join, not
    a driver-side collect.

    Returns (token, df, idf) with idf = round(ln(n_docs / df), 6),
    filtered to df >= min_df.
    """
    toks = F.array_distinct(tokens_of(F.col(text_col)))
    per_tok = (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df") >= min_df)
    )
    n = df.select(F.count(F.lit(1)).cast("double").alias("_n"))
    return per_tok.crossJoin(F.broadcast(n)).select(
        "token",
        "df",
        F.round(F.log(F.col("_n") / F.col("df")), 6).alias("idf"),
    )


def unigram_logprob(df: DataFrame, text_col: str = "text",
                    doc_col: str = "doc_id") -> DataFrame:
    """CCNet-style unigram-LM quality proxy: per-document mean token
    log-probability under the corpus's own unigram distribution
    (Wenzek et al. 2020 score documents with LM perplexity; the
    unigram variant is the in-corpus, model-free form). Gibberish and
    rare-token soup score low; fluent text built from common tokens
    scores high.

    Distributed as two passes over the exploded tokens:
      1. the LM: token -> count, one partial-agged shuffle; total
         token mass via a broadcast single-row cross join.
      2. per-doc score: explode again, join token->logp (shuffle on
         token, partial-agged on both sides; the LM side is one row
         per vocab entry so AQE may broadcast it when the vocabulary
         is small — either plan is correct), then mean per doc.

    Returns (doc_id, n_tokens, mean_logp) with mean_logp rounded to
    6dp; ln(count/total) per token, natural log.
    """
    toks = df.select(doc_col, F.explode(tokens_of(F.col(text_col))).alias("token"))
    lm = toks.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    total = lm.agg(F.sum("cnt").alias("_total"))
    lm = lm.crossJoin(F.broadcast(total)).select(
        "token", F.log(F.col("cnt") / F.col("_total")).alias("logp")
    )
    return (
        toks.join(lm, "token")
        .groupBy(doc_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg("logp"), 6).alias("mean_logp"),
        )
    )


def repetition_features(df: DataFrame, text_col: str = "text",
                        max_dup_token_frac: float = 0.6,
                        max_top_bigram_frac: float = 0.18) -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. 2021, table A1:
    'fraction of characters in most common n-gram' / duplicate-content
    rules), adapted to single-line web text:

      dup_token_frac  = 1 - n_distinct_tokens / n_tokens
      top_bigram_frac = occurrences of the most frequent word bigram
                        / total bigrams   (0 when the doc has <2 tokens)

    and a ``keep`` flag under the given thresholds. The bigram rule only
    fires when the top bigram actually repeats (count >= 2): with a
    single occurrence the fraction is just 1/n_bigrams and would
    spuriously reject every short clean document. The bigram mode is
    computed distributively: explode bigrams -> partial-agg count ->
    per-doc max by (count desc, bigram asc) — ties broken
    deterministically so both engines pick the same bigram. One shuffle
    keyed by (doc id, bigram), then one by doc id; both partial-agg
    before exchanging, so skew rides on doc id spread, not corpus size.
    """
    toks = tokens_of(F.col(text_col))
    base = df.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        toks.alias("toks"),
    )
    bigrams = base.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.greatest(F.size("toks") - 1, F.lit(0))),
                F.slice("toks", 2, F.greatest(F.size("toks") - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram"),
    )
    counts = bigrams.groupBy("doc_id", "bigram").count()
    # per-doc top-1 as a partial-agged min_by over struct(-count,
    # bigram): min of the negated count IS the max count, tie to the
    # lexicographically smallest bigram — same rule as the previous
    # (desc count, asc bigram) row_number window, without the
    # per-partition sort the window paid
    top = (
        counts.groupBy("doc_id")
        .agg(
            F.min_by(
                F.struct(F.col("bigram"), F.col("count")),
                F.struct((-F.col("count")).alias("nc"), F.col("bigram")),
            ).alias("b")
        )
        .select("doc_id", F.col("b.bigram").alias("top_bigram"),
                F.col("b.count").alias("top_bigram_n"))
    )
    out = (
        base.drop("toks")
        .join(top, "doc_id", "left")
        .withColumn(
            "dup_token_frac",
            F.round(
                1 - F.col("n_distinct")
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ),
        )
        .withColumn(
            "top_bigram_frac",
            F.when(
                F.col("n_tokens") < 2, F.lit(0.0)
            ).otherwise(
                F.round(
                    F.coalesce(F.col("top_bigram_n"), F.lit(0))
                    / (F.col("n_tokens") - 1),
                    6,
                )
            ),
        )
    )
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "dup_token_frac",
        "top_bigram",
        "top_bigram_frac",
        (
            (F.col("dup_token_frac") <= max_dup_token_frac)
            & (
                (F.coalesce(F.col("top_bigram_n"), F.lit(0)) < 2)
                | (F.col("top_bigram_frac") <= max_top_bigram_frac)
            )
        ).alias("keep"),
    )


def tfidf_topk(df: DataFrame, doc_col: str = "doc_id",
               text_col: str = "text", k: int = 5,
               min_df: int = 1) -> DataFrame:
    """Per-document top-k keywords by TF-IDF — the classic
    document-summarization / index-term extractor, composed from
    doc_frequency's corpus IDF and a per-doc term-frequency rollup.

    -> (doc_id, token, tf, score, rank), rank 1..k per doc. The rank
    order is made TOTAL by (round(score, 6) DESC, token ASC): raw
    float ordering could flip between engines when two scores differ
    by an ulp, so both this and the SQL twin rank on the rounded score
    with the token as the final tie-break.

    Distributed shape: the tf rollup explodes full token positions but
    groupBy-combines map-side; the IDF join keys on token (the skewed
    hot tokens are exactly the low-IDF ones — they arrive already
    aggregated per doc, so no key explodes); the top-k window
    partitions by doc (bounded by doc length). No corpus-global sort.
    """
    tf = (
        df.select(F.col(doc_col), F.explode(tokens_of(F.col(text_col))).alias("token"))
        .groupBy(doc_col, "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    idf = doc_frequency(df, text_col=text_col, min_df=min_df)
    scored = tf.join(idf, "token").withColumn(
        "score", F.round(F.col("tf") * F.col("idf"), 6)
    )
    w = W.partitionBy(doc_col).orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(doc_col, "token", "tf", "score", "rank")
    )


def bigram_logprob(df: DataFrame, text_col: str = "text",
                   doc_col: str = "doc_id") -> DataFrame:
    """Bigram-LM quality proxy with add-one smoothing: per-document
    mean ln((c(a,b) + 1) / (c(a) + V)) under the corpus's own bigram
    distribution — one modeling notch past unigram_logprob (fluent
    word ORDER now scores above a bag of common words).

    Distributed shape: bigrams come from a row-local zip of the token
    array with its own tail (no self-join on position); corpus bigram
    and unigram counts are two partial-agged shuffles; V (vocabulary)
    and nothing else crosses the driver. Documents with fewer than two
    tokens have no bigrams and drop out.

    Returns (doc_id, n_bigrams, mean_logp) with mean_logp rounded 6dp.
    """
    toks = df.select(
        F.col(doc_col), tokens_of(F.col(text_col)).alias("t")
    ).filter(F.size("t") >= 2)
    big = toks.select(
        doc_col,
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, F.size("t") - 1).alias("a"),
                F.slice(F.col("t"), 2, F.size("t") - 1).alias("b"),
            )
        ).alias("bg"),
    ).select(doc_col, F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
    uni = (
        df.select(F.explode(tokens_of(F.col(text_col))).alias("a"))
        .groupBy("a")
        .agg(F.count(F.lit(1)).cast("double").alias("c_a"))
    )
    vocab = uni.agg(F.count(F.lit(1)).cast("double").alias("_v"))
    bgc = big.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("double").alias("c_ab")
    )
    scored = (
        big.join(bgc, ["a", "b"])
        .join(uni, "a")
        .crossJoin(F.broadcast(vocab))
        .select(
            doc_col,
            F.log(
                (F.col("c_ab") + 1) / (F.col("c_a") + F.col("_v"))
            ).alias("logp"),
        )
    )
    return scored.groupBy(doc_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("logp"), 6).alias("mean_logp"),
    )


# Unicode script ranges for the triage profile (coarse, public ranges).
_SCRIPT_CLASSES = [
    ("latin", r"[A-Za-z]"),
    ("cjk", r"[一-鿿぀-ヿ가-힯]"),
    ("cyrillic", r"[Ѐ-ӿ]"),
    ("arabic", r"[؀-ۿ]"),
    ("digit", r"[0-9]"),
]


def script_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Coarse Unicode-script histogram per doc — the triage signal in
    front of language ID (a page that is 90% CJK never reaches the
    Latin n-gram models). Adds n_<class> counts plus n_chars_total;
    pure regexp_count columns, zero shuffle."""
    out = df
    for name, pat in _SCRIPT_CLASSES:
        out = out.withColumn(
            f"n_{name}",
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("long"),
        )
    return out.withColumn(
        "n_chars_total", F.length(F.col(text_col)).cast("long")
    )


def nfc_normalize(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode NFC normalization with a filter-then-map gate — the
    standard pre-tokenization canonicalization (decomposed e + U+0301
    and precomposed U+00E9 must be ONE token form, or every downstream
    exact-match op — vocab build, dedup shingles, alias linking —
    silently splits on an invisible byte difference).

    Gate: pure-ASCII strings are NFC by definition. A `F.when(gate,
    udf(...))` does NOT gate a pandas UDF — Spark hoists the UDF into
    an ArrowEvalPython node evaluated for EVERY row before the when
    selects (ADVICE r4, verified with a throwing UDF), so the gate
    here is structural: the input splits on the cheap JVM-side
    non-ASCII regexp, ONLY the non-ASCII branch carries the
    ArrowEvalPython node (python unicodedata is the only place the
    normalization tables live), and the branches union back. On a
    predominantly-ASCII web corpus the Arrow round-trip really does
    see only the non-ASCII sliver; the ASCII branch never leaves the
    JVM. Cost note: the union evaluates the upstream lineage once per
    branch — over a (pushdown-friendly) scan that is two
    filtered scans; callers mid-pipeline persist upstream first. The
    UDF additionally short-circuits str.isascii() rows inside each
    Arrow batch, so even a mis-routed batch never pays the tables.

    Output is row-UNORDERED (union of the two branches). Adds
    ``<text_col>_nfc`` and ``nfc_changed``. DuckDB twin:
    nfc_normalize()."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    # NOTE: hints must be module-resolvable (future-annotations makes
    # them strings; pyspark evaluates them against the function's
    # globals), hence the module-level pandas import below.
    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: unicodedata.normalize("NFC", t)
            if isinstance(t, str) and not t.isascii()
            else t
        )

    non_ascii = F.col(text_col).rlike(r"[^\x00-\x7F]")
    ascii_rows = df.filter(~F.coalesce(non_ascii, F.lit(False))).withColumn(
        f"{text_col}_nfc", F.col(text_col)
    )
    exotic_rows = df.filter(non_ascii).withColumn(
        f"{text_col}_nfc", _nfc(F.col(text_col))
    )
    return ascii_rows.unionByName(exotic_rows).withColumn(
        "nfc_changed", F.col(f"{text_col}_nfc") != F.col(text_col)
    )
