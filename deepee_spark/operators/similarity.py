"""Similarity search over embedding columns (array<float>).

  brute_force_topk   exact cosine top-k: queries x corpus cross join with a
                     per-query window. Baseline path; at scale the corpus
                     side is the big relation and queries broadcast.
  lsh_bucket_topk    scale path: random-hyperplane LSH buckets both sides;
                     candidates meet only within a bucket (and its
                     1-bit-flip neighbors for recall), then exact cosine
                     top-k. Hyperplanes are deterministic arithmetic, no
                     stored model.

Dot products are ordered left-folds over double-cast elements, so results
are bit-deterministic across partitionings (and match the DuckDB oracle).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dot(x, y, dim: int):
    prods = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda i: F.element_at(x, i).cast("double")
        * F.element_at(y, i).cast("double"),
    )
    return F.aggregate(prods, F.lit(0.0), lambda a, v: a + v)


def cosine(x, y, dim: int):
    return dot(x, y, dim) / (F.sqrt(dot(x, x, dim)) * F.sqrt(dot(y, y, dim)))


def hyperplane_plane(p: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane p (matches the SQL twin:
    plane[p][j] = ((p*73856093 + j*19349663) % 2000 - 1000)/1000, j=1..dim)."""
    return [
        ((p * 73856093 + j * 19349663) % 2000 - 1000) / 1000.0
        for j in range(1, dim + 1)
    ]


def hyperplane_bucket(vec, dim: int, planes: int = 8, plane_offset: int = 0):
    """-> bigint LSH bucket: bit p = sign(vec . plane_{offset+p}).

    One float64 gemm per Arrow batch (n x dim @ dim x planes) instead of
    `planes` interpreted Catalyst folds per row — the fold version cost
    ~4ms/row at dim=64/planes=8, which dominated every LSH consumer.
    `plane_offset` selects an independent plane family from the shared
    deterministic sequence — multi-table LSH uses offset = t * planes."""
    from pyspark.sql.functions import pandas_udf

    P = np.array(
        [hyperplane_plane(plane_offset + p, dim) for p in range(planes)],
        dtype=np.float64,
    ).T  # dim x planes
    weights = (1 << np.arange(planes)).astype(np.int64)

    @pandas_udf("long")
    def _bucket(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype="int64")
        A = np.stack(s.to_numpy()).astype(np.float64)
        return pd.Series(((A @ P > 0).astype(np.int64) @ weights))

    return _bucket(vec)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 10,
) -> DataFrame:
    """-> (q_id, rank, c_id, cosine); broadcast the (small) query side."""
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"))
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("q_id") != F.col("c_id"))
    scored = pairs.select(
        "q_id",
        "c_id",
        F.round(cosine(F.col("q_vec"), F.col("c_vec"), dim), 6).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", "cosine")
    )


def lsh_bucket_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 10,
    planes: int = 8,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket
    and its single-bit-flip neighbor buckets (multi-probe)."""
    bucket = hyperplane_bucket(F.col(vec_col), dim, planes)
    c = corpus.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        bucket.alias("bucket"),
    )
    probes = F.array(
        F.col("q_bucket"),
        *[
            F.col("q_bucket").bitwiseXOR(F.lit(1 << p)).cast("long")
            for p in range(planes)
        ],
    )
    q = (
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            bucket.alias("q_bucket"),
        )
        .withColumn("bucket", F.explode(probes))
        .drop("q_bucket")
    )
    pairs = c.join(F.broadcast(q), "bucket").filter(F.col("q_id") != F.col("c_id"))
    scored = pairs.select(
        "q_id",
        "c_id",
        F.round(cosine(F.col("q_vec"), F.col("c_vec"), dim), 6).alias("cosine"),
    ).distinct()
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "c_id", "cosine")
    )


def sub_sqdist(x, c, m, sub_dim: int):
    """Squared L2 distance between subvectors m (1-based) of x and c:
    ordered left-fold over double-cast elements (bit-deterministic,
    SQL-replicable)."""
    off = (m - 1) * F.lit(sub_dim)
    terms = F.transform(
        F.sequence(F.lit(1), F.lit(sub_dim)),
        lambda j: (
            F.element_at(x, (off + j).cast("int")).cast("double")
            - F.element_at(c, (off + j).cast("int")).cast("double")
        )
        ** 2,
    )
    return F.aggregate(terms, F.lit(0.0), lambda a, v: a + v)


def pq_encode(emb: DataFrame, codebook: DataFrame, id_col: str,
              vec_col: str, dim: int, n_sub: int) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): split each
    vector into n_sub subvectors and store, per subspace, the id of the
    nearest codebook centroid — compressing a dim-float vector to n_sub
    small ints.

    The codebook (c_id, c_emb) is a sampled-initialization PQ codebook:
    K seed vectors, no Lloyd iterations — deterministic, so an external
    oracle can replay the exact assignment. It is broadcast (K rows);
    the argmin per (vector, subspace) is a partial-agged min_by, so
    the K fan-out collapses map-side and the one exchange carries
    N x n_sub rows (the size of the code table itself), never
    N x n_sub x K — the same no-expanded-shuffle rule as
    assign_cells (r4 verdict task 2; a row_number window here
    exchanged the full expansion). Distances round to 6dp before the
    argmin with ties to the smaller centroid id (min_by over
    struct(d, c_id) — lexicographic struct order IS that rule), so
    the assignment is engine-independent.

    Returns (id, subspace m 1..n_sub, code).
    """
    sub_dim = dim // n_sub
    m = F.explode(F.sequence(F.lit(1), F.lit(n_sub))).alias("m")
    pairs = emb.select(F.col(id_col), F.col(vec_col), m).crossJoin(
        F.broadcast(codebook)
    )
    d = F.round(sub_sqdist(F.col(vec_col), F.col("c_emb"), F.col("m"),
                           sub_dim), 6)
    return (
        pairs.select(id_col, "m", F.col("c_id"), d.alias("d"))
        .groupBy(id_col, "m")
        .agg(
            F.min_by(
                F.col("c_id"), F.struct(F.col("d"), F.col("c_id"))
            ).alias("code")
        )
        .select(id_col, "m", "code")
    )


def pq_topk(emb: DataFrame, queries: DataFrame, codebook: DataFrame,
            id_col: str, vec_col: str, dim: int, n_sub: int,
            k: int) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each candidate's
    distance to a query is the sum over subspaces of the query
    subvector's distance to the candidate's ASSIGNED CENTROID — the
    query stays exact, the corpus is compressed. Corpus side carries
    only (id, m, code): at 10^12 vectors that is the difference between
    shipping 256 B and 8 B per vector through the shuffle.

    queries: (q_id, q_emb). Returns (q_id, id, adc) top-k by
    (adc asc, id asc), self-matches excluded. Each per-subspace
    distance is quantized to integer MICRO-UNITS in the lookup table
    and the cross-subspace sum runs in exact BIGINT — a float sum over
    hash-aggregate partials is partition-order-dependent, and an ADC
    within one ulp of a 6dp tie boundary would round differently
    across runs/engines and flip ranks at the k cutoff (the same
    failure class hyperplane_bucket_exact exists for). adc is the
    integer sum divided by 1e6 — one IEEE division of identical
    integers, bit-identical everywhere.
    """
    sub_dim = dim // n_sub
    codes = pq_encode(emb, codebook, id_col, vec_col, dim, n_sub)
    # per (query, subspace, centroid) lookup table: n_q x n_sub x K rows
    lut = (
        queries.select("q_id", "q_emb")
        .select("q_id", "q_emb",
                F.explode(F.sequence(F.lit(1), F.lit(n_sub))).alias("m"))
        .crossJoin(F.broadcast(codebook))
        .select(
            "q_id", "m", "c_id",
            F.round(
                sub_sqdist(F.col("q_emb"), F.col("c_emb"), F.col("m"),
                           sub_dim) * F.lit(1_000_000.0)
            ).cast("long").alias("pd_e6"),
        )
    )
    parts = codes.join(
        F.broadcast(lut),
        (codes["m"] == lut["m"]) & (codes["code"] == lut["c_id"]),
    ).select(codes[id_col], "q_id", "pd_e6")
    adc = parts.groupBy("q_id", id_col).agg(
        F.sum("pd_e6").cast("long").alias("_adc_e6")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.asc("_adc_e6"), F.asc(id_col)
    )
    return (
        adc.filter(F.col("q_id") != F.col(id_col))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "q_id",
            id_col,
            (F.col("_adc_e6").cast("double") / F.lit(1_000_000.0))
            .alias("adc"),
        )
    )


def hyperplane_bucket_exact(
    vec, dim: int, planes: int = 8, plane_offset: int = 0
):
    """Integer-exact LSH bucket: the embedding quantizes to 1e-6 and
    the plane coefficients are the integer numerators of
    hyperplane_plane, so the sign test is a BIGINT sum — independent of
    summation order, BLAS implementation, and engine. The float gemm
    version (hyperplane_bucket) can flip a bit when a dot product sits
    within rounding distance of zero (NumPy's pairwise gemm vs a SQL
    fold accumulate differently); with one 8-plane table those
    boundary hits never materialized, but 32 planes made them real —
    multi-table LSH uses this variant so its cross-engine twin matches
    bit-for-bit."""
    from pyspark.sql.functions import pandas_udf

    P = np.array(
        [
            [
                (plane_offset + p) * 73856093 + j * 19349663
                for j in range(1, dim + 1)
            ]
            for p in range(planes)
        ],
        dtype=np.int64,
    )
    P = P % 2000 - 1000  # integer numerators of the float planes
    P = P.T  # dim x planes
    weights = (1 << np.arange(planes)).astype(np.int64)

    @pandas_udf("long")
    def _bucket(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype="int64")
        A = np.rint(np.stack(s.to_numpy()) * 1_000_000.0).astype(np.int64)
        return pd.Series(((A @ P > 0).astype(np.int64) @ weights))

    return _bucket(vec)


def rrf_fuse(
    rankings: DataFrame, k_rrf: int = 60, topk: int = 10
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09 —
    public) of several per-query candidate rankings: input rows
    (q_id, c_id, rank) pooled from any number of retrieval paths (the
    engine's brute cosine / IVF / PQ / LSH lists), fused score per
    candidate = sum over lists of 1e9 div (k_rrf + rank) — INTEGER
    division, so the fusion is exact in any BIGINT engine and immune
    to float summation order. Returns the fused top-k per query:
    (q_id, rank_fused, c_id, rrf_score_e9, n_lists), ties broken by
    c_id for a total order.

    This is the standard way to combine heterogeneous retrieval paths
    without score calibration — ranks are scale-free where raw cosine
    vs ADC distances are not comparable.

    Scale shape: one (q_id, c_id) partial-agged shuffle over the
    pooled candidate lists (k rows per query per list — never corpus-
    sized), then a per-query window. Both stages partition on query;
    a million queries fan across the cluster.
    """
    if k_rrf < 1 or topk < 1:
        raise ValueError("k_rrf and topk must be >= 1")
    scored = (
        rankings.select("q_id", "c_id", "rank")
        .groupBy("q_id", "c_id")
        .agg(
            F.sum(F.expr(f"1000000000 DIV ({k_rrf} + rank)"))
            .cast("long")
            .alias("rrf_score_e9"),
            F.count(F.lit(1)).cast("long").alias("n_lists"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("rrf_score_e9"), F.asc("c_id")
    )
    return (
        scored.withColumn("rank_fused", F.row_number().over(w).cast("long"))
        .filter(F.col("rank_fused") <= topk)
        .select("q_id", "rank_fused", "c_id", "rrf_score_e9", "n_lists")
    )


def sparse_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    max_df: int | None = None,
    id_col: str = "id",
    tokens_col: str = "tokens",
    q_id_col: str = "q_id",
) -> DataFrame:
    """Sparse lexical retrieval via an inverted index — the term-at-a-
    time complement to the dense ANN family (brute/IVF/PQ/LSH): score
    every document sharing a term with the query and keep the top k.
    Scoring is integer-exact TF·IDF with the LINEAR inverse frequency
    idf(t) = (1e6 * N) div df(t) — deliberately not the log form,
    because ln() is a libm call whose last-ulp behavior differs
    between engines while integer division does not; rank order vs
    log-idf differs only in how hard rare terms dominate, which the
    engine's consumers tune via max_df anyway.

        score(q, d) = Σ_{t ∈ q ∩ d} tf(t, d) * idf(t)

    `max_df` drops terms appearing in more than that many documents
    BEFORE the term join — the standard stopword-pruning move, and at
    cluster scale the skew fix: without it the 'the' posting list is
    a hot key that one task pays for; with it the join key
    distribution is capped by construction. Ties break on doc id.

    Overflow bound (BIGINT scoring): the largest addend is
    tf * idf_e6 = tf * (1e6 * N) div df, maximized by a df=1 hapax —
    so exactness requires tf * N < 9.2e12 (e.g. N = 1e9 docs with
    per-doc tf up to ~9000). Beyond that, a rare-term hit overflows
    2^63: raise the effective df floor (pre-filter hapaxes), lower the
    idf scale, or move the sum to DECIMAL before deploying at larger N
    — the linear idf makes the bound explicit where log-idf would hide
    it until it bites.

    Scale shape: postings = one (doc, term) agg; df = one term agg;
    the probe is query-terms ⋈ postings on term (query side tiny —
    broadcastable), then one (q, doc) partial-agged sum and a
    per-query top-k window. N rides along as a broadcast literal-free
    1-row cross join, so the whole plan is still lazy/deterministic.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    postings = (
        docs.select(
            F.col(id_col).alias("doc"),
            F.explode(F.col(tokens_col)).alias("term"),
        )
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    if max_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_df)
    n_docs = docs.select(
        F.countDistinct(F.col(id_col)).cast("long").alias("n_docs")
    )
    idf = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "term",
        F.expr("(1000000 * n_docs) DIV df").cast("long").alias("idf_e6"),
    )
    qterms = queries.select(
        F.col(q_id_col).alias("q_id"),
        F.explode(F.array_distinct(F.col(tokens_col))).alias("term"),
    )
    scored = (
        qterms.join(idf, "term")
        .join(postings, "term")
        .groupBy("q_id", "doc")
        .agg(F.sum(F.expr("tf * idf_e6")).cast("long").alias("score_e6"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score_e6"), F.asc("doc"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "doc", "score_e6")
    )


def assign_cells(
    base: DataFrame,
    codebook: DataFrame,
    cdot_fn,
) -> DataFrame:
    """Coarse-quantizer cell assignment, shared by lloyd_codebook and
    the SemDeDup family: ``base``(pid, v) x ``codebook``(c_id, cent)
    -> (pid, v, cell:bigint) by argmax of ``cdot_fn(v, cent)`` (both
    Columns) with the IVF tie-break (cdot desc, c_id asc).

    crossJoin(broadcast codebook) + partial-agged
    max_by(struct(c_id, v), struct(cdot, -c_id)). The r4-flagged
    crossJoin + row_number()-over-Window shape hash-Exchanged N*k
    EXPANDED rows per call — at 10^12 rows x k=1024 cells three orders
    of magnitude of needless shuffle I/O; here the partial max_by
    collapses the k fan-out inside each input partition, so the
    exchange carries ~N rows, never N*k, and every real consumer
    (per-cell cogroup, groupBy(cell) sums, bucket join) immediately
    shuffles a same-sized relation anyway. Tie-break via the max_by
    ordering struct: max cdot wins, and on a cdot tie the max negated
    id picks the SMALLEST c_id. (A collected-codebook unrolled argmax
    was measured 2-4x slower once composed into those consumers,
    BENCH/BASELINE.md §10b, and is not offered.)
    """
    if not codebook.schema["c_id"].dataType.simpleString() in (
        "int", "bigint", "smallint", "tinyint"
    ):
        raise ValueError("assign_cells needs integral c_id")
    joined = base.crossJoin(
        F.broadcast(codebook.select("c_id", "cent"))
    ).withColumn("cdot", cdot_fn(F.col("v"), F.col("cent")))
    return (
        joined.groupBy("pid")
        .agg(
            F.max_by(
                F.struct(F.col("c_id"), F.col("v")),
                F.struct(F.col("cdot"), (-F.col("c_id")).alias("nid")),
            ).alias("b")
        )
        .select(
            "pid",
            F.col("b.v").alias("v"),
            F.col("b.c_id").cast("long").alias("cell"),
        )
    )


def lloyd_codebook(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    k: int = 8,
    iters: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd k-means codebook training with INTEGER-EXACT means — the
    honest upgrade of the seed-pick coarse quantizer the IVF and
    SemDeDup paths use (their contract only needs stable cells; this
    trains the cells that minimize quantization error like the real
    systems do).

    Determinism/cross-engine exactness: float means are shuffle-order
    dependent (float addition does not commute bitwise), so centroids
    are maintained in MICRO-UNITS — each coordinate bround(1e6*x) cast
    long at init, per-iteration means as exact BIGINT sums DIV counts.
    Assignment is argmax of round(dot(v, cent_micro)/1e6, 6) with the
    IVF tie-break (dot desc, c_id asc). Every operation replays
    bit-identically in the SQL twin. Cells that lose all members keep
    their previous centroid (documented; mirrored by the twin).

    Scale shape per iteration: one broadcast of the k x dim codebook
    into assign_cells' partial-agged max_by argmax — the exchange
    carries ~N rows, never the N*k expansion the r4-flagged
    crossJoin + window shape paid — then one groupBy(cell) aggregate
    of dim positional sums (partial-agged). Returns (assignment,
    codebook) = ((id, cell), (c_id, centroid array<long>
    micro-units))."""
    if k < 1 or iters < 0:
        raise ValueError("need k >= 1 and iters >= 0")
    from pyspark.sql import Window as W

    base = emb.select(F.col(id_col).alias("pid"), F.col(vec_col).alias("v"))
    micro = F.transform(
        F.col("v"), lambda x: F.bround(x * 1_000_000).cast("long")
    )
    seed = (
        base.orderBy("pid").limit(k)
        .select(F.col("pid").alias("c_id"), micro.alias("cent"))
    )
    # stable c_ids 0..k-1 in pid order (seed pids are arbitrary)
    w0 = W.orderBy("c_id")
    codebook = seed.select(
        (F.row_number().over(w0) - 1).cast("long").alias("c_id"), "cent"
    )

    def micro_cdot(v, cent):
        d = F.aggregate(
            F.zip_with(v, cent, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.round(d / 1_000_000.0, 6)

    def assign(cb: DataFrame) -> DataFrame:
        return assign_cells(base, cb, micro_cdot)

    for _ in range(iters):
        assigned = assign(codebook)
        sums = assigned.select(
            "cell",
            F.posexplode(
                F.transform(
                    F.col("v"),
                    lambda x: F.bround(x * 1_000_000).cast("long"),
                )
            ).alias("pos", "val"),
        ).groupBy("cell", "pos").agg(
            F.sum("val").alias("s"), F.count(F.lit(1)).alias("n")
        )
        new_cent = (
            sums.withColumn("m", F.expr("s DIV n"))
            .groupBy("cell")
            .agg(F.array_sort(
                F.collect_list(F.struct("pos", "m"))
            ).alias("pm"))
            .select(
                F.col("cell").alias("c_id"),
                F.transform(F.col("pm"), lambda x: x["m"]).alias("cent"),
            )
        )
        codebook = (
            codebook.alias("old")
            .join(new_cent.alias("new"), "c_id", "left")
            .select(
                "c_id",
                F.coalesce(F.col("new.cent"), F.col("old.cent")).alias(
                    "cent"
                ),
            )
            .localCheckpoint()
        )
    return assign(codebook).select(
        F.col("pid").alias(id_col), "cell"
    ), codebook


def lloyd_oracle_sql(
    emb_sql: str, dim: int, k: int = 8, iters: int = 2
) -> str:
    """DuckDB twin of lloyd_codebook's final ASSIGNMENT over
    ``emb_sql`` (a SELECT yielding pid, v): unrolled CTE per Lloyd
    iteration. round_even matches Spark's bround (HALF_EVEN); DuckDB's
    BIGINT ``//`` truncates toward zero exactly like Spark's DIV, so
    the micro-unit centroid recurrence replays bit-identically."""
    micro = (
        "list_transform({v}, x -> CAST(round_even(x * 1000000, 0) AS BIGINT))"
    )
    dot = (
        "ROUND(list_sum(list_transform(list_zip({v}, {c}), "
        "z -> z[1] * z[2])) / 1000000.0, 6)"
    )
    parts = [
        f"WITH e AS ({emb_sql}),",
        f"""cent0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY pid) - 1 AS BIGINT) AS c_id,
         {micro.format(v='v')} AS cent
  FROM (SELECT pid, v FROM e ORDER BY pid LIMIT {k})),""",
    ]
    for t in range(iters):
        parts.append(f"""assign{t} AS (
  SELECT pid, v, c_id AS cell FROM (
    SELECT e.pid, e.v, c.c_id,
           row_number() OVER (PARTITION BY e.pid
             ORDER BY {dot.format(v='e.v', c='c.cent')} DESC,
                      c.c_id ASC) AS rk
    FROM e CROSS JOIN cent{t} c) WHERE rk = 1),
sums{t} AS (
  SELECT cell, pos, SUM(val) AS s, COUNT(*) AS n FROM (
    SELECT cell,
           UNNEST(range(1, {dim + 1})) AS pos,
           UNNEST({micro.format(v='v')}) AS val
    FROM assign{t})
  GROUP BY cell, pos),
cent{t + 1} AS (
  SELECT o.c_id, COALESCE(nc.cent, o.cent) AS cent
  FROM cent{t} o LEFT JOIN (
    SELECT cell AS c_id, list(s // n ORDER BY pos) AS cent
    FROM sums{t} GROUP BY cell) nc USING (c_id)),""")
    parts.append(f"""final_assign AS (
  SELECT pid, c_id AS cell FROM (
    SELECT e.pid, c.c_id,
           row_number() OVER (PARTITION BY e.pid
             ORDER BY {dot.format(v='e.v', c='c.cent')} DESC,
                      c.c_id ASC) AS rk
    FROM e CROSS JOIN cent{iters} c) WHERE rk = 1)
SELECT pid AS vec_id, CAST(cell AS BIGINT) AS cell FROM final_assign""")
    return "\n".join(parts)
