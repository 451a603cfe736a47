"""Deduplication operators for training-data pipelines.

All DataFrame-native (no Python UDFs); each returns a DataFrame so the
caller composes them into the DAG. Web-scale notes per operator:

  exact_duplicates      one shuffle on md5(text); partial agg upstream
  minhash_signatures    one fold over a row's distinct token hashes
                        keeps the K running minima: narrow, no shuffle
  minhash_dup_pairs     banded LSH: candidates meet only inside
                        (band, band_key) buckets -> no quadratic join;
                        the B band rows are one transform + explode
  simhash               explode(tokens) + bit-sum aggregations
  ngram_jaccard_pairs   bounded by a blocking key (lang, length bucket) —
                        never run unblocked at scale
  embedding_dup_pairs   cosine pairs; DEFAULT blocking is hyperplane-LSH
                        buckets with 1-bit multi-probe (bucket-local at
                        any scale); scoring is one float64 gemm per
                        bucket in a cogrouped pandas UDF, not a per-pair
                        expression; value blocking available opt-in

The rolling string hash is the engine-wide deterministic fold; the
contract queries in __spark_entry__ import it, and its DuckDB twin
(_HASH_SQL) replays the same fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MOD = 1_000_000_007
MINHASH_K = 16
_MH = [
    ((1103515245 * k + 12345) % MOD, (12345 * k + 1103515245) % MOD)
    for k in range(MINHASH_K)
]
SIMHASH_BITS = 16


def str_hash(col):
    """Ordered left-fold rolling hash (acc*31 + ascii) % MOD."""
    return F.aggregate(
        F.transform(F.split(col, ""), lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % F.lit(MOD),
    )


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """-> (text_md5, n_docs, keep_id): hash-groupBy exact dedup; keep_id is
    the deterministic survivor (min id)."""
    return df.groupBy(F.md5(F.col(text_col)).alias("text_md5")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min(id_col).alias("keep_id"),
    )


def minhash_signatures(
    df: DataFrame, id_col: str, tokens_col: str, k: int = MINHASH_K
) -> DataFrame:
    """-> (id, sig0..sig{k-1}) MinHash over distinct tokens, signed row
    by row with no shuffle. Precondition: one row per id (a repeated id
    gets one signature row per input row). Rows without tokens emit
    nothing."""
    a = F.lit([ak for ak, _ in _MH[:k]])
    b = F.lit([bk for _, bk in _MH[:k]])
    sig = F.aggregate(
        F.transform(F.array_distinct(F.col(tokens_col)), str_hash),
        F.array_repeat(F.lit((1 << 63) - 1), k),
        lambda acc, h: F.transform(
            acc, lambda m, i: F.least(m, (a[i] * h + b[i]) % F.lit(MOD))
        ),
    )
    return (
        df.filter(F.size(F.col(tokens_col)) > 0)
        .select(id_col, sig.alias("_sig"))
        .select(id_col, *[F.col("_sig")[i].alias(f"sig{i}") for i in range(k)])
    )


def minhash_dup_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    bands: int = 8,
    min_jaccard: float = 0.5,
    portable_bands: bool = False,
    k: int = MINHASH_K,
) -> DataFrame:
    """Banded-LSH near-duplicate pairs verified by exact token Jaccard.

    -> (id_a, id_b, jaccard) with id_a < id_b.

    `portable_bands` switches the band bucket key from xxhash64 (fast,
    engine-native — fine when both join sides live in this engine) to
    the plain concatenation of the band's signature values: wider keys,
    but reproducible in ANY engine, which is what lets the end-to-end
    resolve pipeline carry a hard cross-engine oracle. Candidate SETS
    are identical either way (same signatures bucket together) modulo
    xxhash64 collisions.
    """
    sigs = minhash_signatures(df, id_col, tokens_col, k)
    # xxhash64 keys are engine-native; portable keys are the plain
    # concatenation of the band's signature values (wider, but any
    # engine can reproduce them)
    key = (lambda *c: F.concat_ws("_", *c)) if portable_bands else F.xxhash64
    banded = _banded(sigs, id_col, bands, k, key).withColumnRenamed(
        id_col, "bid"
    )
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.bid") < F.col("y.bid")),
        )
        .select(F.col("x.bid").alias("id_a"), F.col("y.bid").alias("id_b"))
        .distinct()
    )
    sets = df.select(
        F.col(id_col).alias("sid"),
        F.array_distinct(F.col(tokens_col)).alias("tok_set"),
    )
    verified = (
        cand.join(sets.withColumnRenamed("sid", "id_a"), "id_a")
        .withColumnRenamed("tok_set", "set_a")
        .join(sets.withColumnRenamed("sid", "id_b"), "id_b")
        .withColumnRenamed("tok_set", "set_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("set_a", "set_b"))
            / F.size(F.array_union("set_a", "set_b")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )
    return verified.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def simhash(df: DataFrame, id_col: str, tokens_col: str) -> DataFrame:
    """-> (id, simhash): 16-bit SimHash over token rolling hashes."""
    toks = df.select(id_col, F.explode(F.col(tokens_col)).alias("token"))
    h = str_hash(F.col("token"))
    bits = toks.select(
        id_col,
        *[
            (F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ],
    )
    agg = bits.groupBy(id_col).agg(
        *[F.sum(f"b{j}").alias(f"s{j}") for j in range(SIMHASH_BITS)]
    )
    sim = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select(id_col, sim.cast("long").alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    block_cols: list[str],
    n: int = 3,
    min_jaccard: float = 0.1,
) -> DataFrame:
    """Token-n-gram Jaccard over pairs sharing the blocking key."""
    toks = F.col(tokens_col)
    # n shifted slices zipped together: references `toks` O(n) per ROW.
    # (A per-position element_at lambda gets re-inlined by projection
    # collapse — O(L*n) references — which is catastrophic when callers
    # pass a derived tokenization expression rather than a stored column.)
    width = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    acc = F.slice(toks, 1, width)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(toks, j + 1, width),
            lambda a, b: F.concat_ws("_", a, b),
        )
    d = df.select(
        F.col(id_col).alias("pid"),
        *block_cols,
        F.array_distinct(acc).alias("shingles"),
    ).filter(F.size("shingles") >= n)
    a, b = d.alias("a"), d.alias("b")
    cond = F.col("a.pid") < F.col("b.pid")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    jac = F.size(F.array_intersect("a.shingles", "b.shingles")) / F.size(
        F.array_union("a.shingles", "b.shingles")
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.pid").alias("id_a"),
            F.col("b.pid").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def embedding_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    min_cosine: float = 0.95,
    block_col: str | None = None,
    planes: int = 8,
    tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-dup candidate pairs.

    DEFAULT blocking (block_col=None) is hyperplane-LSH with 1-bit
    multi-probe: a pair is a candidate iff the two sign-buckets are
    within Hamming distance 1 (left side explodes to its bucket + the
    `planes` one-bit flips; join on right.bucket). Candidates therefore
    only ever meet inside a hash bucket — the join stays bucket-local at
    any corpus size, unlike value blocking where one skewed block (e.g.
    one language = 60% of the corpus) turns quadratic.

    Passing block_col keeps caller-supplied value blocking for the cases
    where the caller can bound block sizes.

    Pair SCORING is one float64 gemm per bucket inside a (co)grouped
    pandas UDF — the candidate volume is quadratic in bucket size, so a
    per-pair Catalyst expression pays an interpreted 64-term fold per
    candidate (measured 21.6s for 2k vectors at sf0.1); the gemm scores
    the same pairs in milliseconds. The UDF emits the raw float64
    cosine with a loose prefilter (>= min_cosine - 1e-6); the exact
    round-to-6-then-threshold happens in the Spark expression below so
    the oracle-visible boundary rule is identical to the SQL twin."""
    import numpy as np
    import pandas as pd

    id_dt = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_dt}, id_b {id_dt}, cosine double"
    loose = float(min_cosine) - 1e-6
    empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})

    def _score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return empty
        A = np.stack(left["v"].to_numpy()).astype(np.float64)
        B = np.stack(right["v"].to_numpy()).astype(np.float64)
        C = (A @ B.T) / np.outer(
            np.linalg.norm(A, axis=1), np.linalg.norm(B, axis=1)
        )
        ida = left["pid"].to_numpy()
        idb = right["pid"].to_numpy()
        ii, jj = np.nonzero((ida[:, None] < idb[None, :]) & (C >= loose))
        return pd.DataFrame(
            {"id_a": ida[ii], "id_b": idb[jj], "cosine": C[ii, jj]}
        )

    # explicit key repartition on BOTH grouped sides: pair generation is
    # quadratic per bucket, so task sizing must follow keys, not input
    # bytes (AQE would coalesce a sub-MB scan into one task and
    # serialize the whole pairwise stage through it); the cogroup's
    # ClusteredDistribution is satisfied by the repartition, so no
    # second exchange is inserted
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    if block_col is not None:
        d = df.select(
            F.col(id_col).alias("pid"),
            F.col(block_col).alias("blk"),
            F.col(vec_col).alias("v"),
        ).repartition(n_parts, "blk")
        scored = d.groupby("blk").applyInPandas(
            lambda pdf: _score(pdf, pdf), out_schema
        )
    else:
        from .similarity import hyperplane_bucket

        # MULTI-TABLE recall amplification (Indyk-Motwani style, the
        # standard LSH knob): `tables` independent plane families; a
        # pair is a candidate if it collides (hamming <= 1) in ANY
        # table. P[miss] = prod over tables of P[miss in one] — the
        # kg_lsh_recall audit measures the effect. Cost is linear in
        # `tables` on both exploded sides. The table id is encoded in
        # the join key's high bits (t << planes | bucket), so one
        # cogroup serves every table and the 1-bit probe flips can
        # never cross tables.
        d = df.select(F.col(id_col).alias("pid"), F.col(vec_col).alias("v"))
        if tables > 1:
            # integer-exact buckets: 32+ planes make float sign
            # boundaries real (NumPy gemm vs a SQL fold accumulate in
            # different orders near zero) — see
            # similarity.hyperplane_bucket_exact
            from .similarity import hyperplane_bucket_exact as _bucket_fn
        else:
            _bucket_fn = hyperplane_bucket
        keys = [
            (
                _bucket_fn(F.col("v"), dim, planes, plane_offset=t * planes)
                + F.lit(t << planes)
            ).cast("long")
            for t in range(tables)
        ]
        d = d.withColumn("keys", F.array(*keys))
        probe_cols = []
        for t in range(tables):
            k = F.element_at("keys", t + 1)
            probe_cols.append(k)
            probe_cols.extend(
                k.bitwiseXOR(F.lit(1 << p)).cast("long")
                for p in range(planes)
            )
        # within ONE table a hamming<=1 pair matches exactly one probe
        # value; across tables a pair can collide several times. A
        # value-level distinct CANNOT dedupe those: the same pair's
        # gemm cosine is computed in different group matrices, and BLAS
        # blocking makes the float bits batch-shape-dependent (observed:
        # +426 phantom "distinct" pairs at sf0.01). Instead each pair is
        # emitted ONLY by its FIRST colliding table — a structural,
        # float-free dedup: both sides carry their full key arrays, and
        # the scorer drops a pair whose minimum colliding table is not
        # this group's.
        a = (
            d.withColumn("probe", F.explode(F.array(*probe_cols)))
            .select("pid", "v", "keys", "probe")
            .repartition(n_parts, "probe")
        )
        # distinct names on the right side: both cogroup children derive
        # from `d`, and shared attribute ids let the optimizer mis-prune
        # the right child's columns (observed KeyError 'v' in the UDF)
        b = (
            d.select(
                F.col("pid").alias("rpid"),
                F.col("v").alias("rv"),
                F.col("keys").alias("rkeys"),
                F.explode("keys").alias("bucket"),
            )
            .repartition(n_parts, "bucket")
        )

        def _score_first_table(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if len(left) == 0 or len(right) == 0:
                return empty
            out = _score(
                left, right.rename(columns={"rpid": "pid", "rv": "v"})
            )
            if len(out) == 0 or tables == 1:
                return out
            t_group = int(left["probe"].iloc[0]) >> planes
            Ka = {p: np.asarray(k) for p, k in zip(left["pid"], left["keys"])}
            Kb = {p: np.asarray(k) for p, k in zip(right["rpid"], right["rkeys"])}
            keep = []
            for ia, ib in zip(out["id_a"], out["id_b"]):
                x = Ka.get(ia, Kb.get(ia)) ^ Kb.get(ib, Ka.get(ib))
                coll = (x & (x - 1)) == 0
                keep.append(int(np.argmax(coll)) == t_group)
            return out[np.array(keep, dtype=bool)]

        scored = a.groupby("probe").cogroup(b.groupby("bucket")).applyInPandas(
            _score_first_table,
            out_schema,
        )
    return scored.select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    ).filter(F.col("cosine") >= min_cosine)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    block_cols: list[str],
    n: int = 3,
    min_containment_e6: int = 500_000,
) -> DataFrame:
    """ASYMMETRIC shingle containment over pairs sharing the blocking
    key: containment(A in B) = |shingles(A) ∩ shingles(B)| / |A| — the
    Broder containment coefficient, which catches what symmetric
    Jaccard structurally cannot: a short document wholly quoted inside
    a much longer one scores |A|/|A| = 1.0 containment while its
    Jaccard |A|/|B| is arbitrarily low. The curation use is partial-
    duplication sweeps (syndicated quotes, boilerplate reuse, wrapper
    pages around a shared body).

    One row per unordered candidate pair with BOTH directions —
    (id_a, id_b, inter, n_a, n_b, cont_a_in_b_e6, cont_b_in_a_e6),
    kept when either direction reaches min_containment_e6. All counts
    are set sizes and the fractions integer e6 divisions, so the
    operator is BIGINT-exact cross-engine (unlike the float Jaccard
    verify, which needs a rounding convention).

    Same scale shape as ngram_jaccard_pairs: shingles via n zipped
    shifted slices (O(n) refs per row), candidates meet only inside a
    block; at corpus scale this runs as the verify stage AFTER
    MinHash/LSH pruning, never all-pairs.
    """
    toks = F.col(tokens_col)
    width = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    acc = F.slice(toks, 1, width)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(toks, j + 1, width),
            lambda a, b: F.concat_ws("_", a, b),
        )
    # guard on TOKEN count, not shingle count: a doc needs >= n tokens
    # for its shingles to be well-formed (shorter docs yield zip_with
    # null-padding artifacts), but a short doc with only 1-2 distinct
    # shingles is exactly the fully-quoted-snippet case this operator
    # exists to catch — a >= n shingle guard would silently drop it
    d = df.filter(F.size(toks) >= n).select(
        F.col(id_col).alias("pid"),
        *block_cols,
        F.array_distinct(acc).alias("shingles"),
    )
    a, b = d.alias("a"), d.alias("b")
    cond = F.col("a.pid") < F.col("b.pid")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = F.size(F.array_intersect("a.shingles", "b.shingles"))
    scored = a.join(b, cond).select(
        F.col("a.pid").alias("id_a"),
        F.col("b.pid").alias("id_b"),
        inter.cast("long").alias("inter"),
        F.size("a.shingles").cast("long").alias("n_a"),
        F.size("b.shingles").cast("long").alias("n_b"),
    )
    return scored.select(
        "*",
        F.expr("(1000000 * inter) DIV n_a").cast("long").alias(
            "cont_a_in_b_e6"
        ),
        F.expr("(1000000 * inter) DIV n_b").cast("long").alias(
            "cont_b_in_a_e6"
        ),
    ).filter(
        F.greatest(
            F.col("cont_a_in_b_e6"), F.col("cont_b_in_a_e6")
        )
        >= min_containment_e6
    )


def simhash_dup_pairs(
    sims: DataFrame,
    id_col: str = "id",
    sim_col: str = "simhash",
    max_hamming: int = 3,
    blocks: int = 4,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, found WITHOUT
    an all-pairs comparison: split the `bits`-bit fingerprint into
    `blocks` contiguous bit blocks; by pigeonhole, any pair within
    Hamming distance <= blocks - 1 agrees EXACTLY on at least one
    block, so candidates only meet inside per-block equality buckets
    (Manku/Jarlin/Sarma, WWW'07 — the production simhash-dedup join),
    then the exact distance check (xor + bit_count, portable BIGINT
    ops) keeps pairs <= max_hamming. max_hamming must stay <=
    blocks - 1 for the blocking to be lossless (asserted).

    -> (id_a, id_b, hamming) with id_a < id_b, one row per pair even
    when several blocks agree (distinct after the bucket join).

    Scale: same shape as the MinHash banding — the quadratic stage is
    confined to same-block-value buckets; a degenerate bucket (every
    page sharing one block value) is the signal of boilerplate
    fingerprint saturation, the same failure mode the MinHash path
    documents."""
    if max_hamming > blocks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs > {blocks - 1} agreeing-"
            "block guarantee; raise blocks or lower max_hamming"
        )
    width = bits // blocks
    banded = sims.select(
        F.col(id_col).alias("bid"),
        F.col(sim_col).alias("sh"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftright(F.col(sim_col), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .cast("long")
                        .alias("blk_val"),
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("bk"),
    ).select("bid", "sh", "bk.blk", "bk.blk_val")
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.blk") == F.col("y.blk"))
            & (F.col("x.blk_val") == F.col("y.blk_val"))
            & (F.col("x.bid") < F.col("y.bid")),
        )
        .select(
            F.col("x.bid").alias("id_a"),
            F.col("y.bid").alias("id_b"),
            F.col("x.sh").alias("sh_a"),
            F.col("y.sh").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(
        F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    ).cast("long")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def band_rows(
    sigs: DataFrame, id_col: str, bands: int = 8, k: int = MINHASH_K
) -> DataFrame:
    """(id, sig0..sig{k-1}) -> (id, band, band_key): the banded-LSH
    bucket rows, band_key = xxhash64 of the band's signature slice.
    The index shape the cross-drop incremental dedup accumulates
    (plans/pipeline.dedup_drop_against_history) — one row per (doc,
    band), joinable on (band, band_key)."""
    return _banded(sigs, id_col, bands, k, F.xxhash64)


def _banded(sigs: DataFrame, id_col: str, bands: int, k: int, key) -> DataFrame:
    """(id, band, band_key string) rows from one transform over the band
    indices; ``key`` maps a band's signature values to its bucket key."""
    rows = k // bands
    sig = F.array(*[F.col(f"sig{i}") for i in range(k)])
    structs = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            key(
                *[F.element_at(sig, b * rows + r + 1) for r in range(rows)]
            ).cast("string").alias("band_key"),
        ),
    )
    return sigs.select(id_col, F.inline(structs))


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    centroids: DataFrame,
    min_cosine: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public): embeddings are blocked into coarse
    cells by a small quantizer codebook, cosine near-dup pairs are
    scored ONLY within a cell, and of every near-dup relation the
    lowest-id member is kept.

    ``centroids``: (c_id, c_vec) — the coarse codebook (k-means
    centroids in the paper; ANY stable quantizer works because the
    cells only bound the pair search, they carry no semantics of their
    own). It is dimension-scale and broadcast. Assignment is argmax
    dot with the IVF tie-break (dot desc rounded to 6dp, c_id asc) —
    the same rule as the ANN coarse quantizer, so one codebook can
    serve both retrieval and dedup.

    Keep rule: a row drops iff SOME lower-id row in its cell has
    cosine >= min_cosine with it (the pair emitter already orders
    id_a < id_b, so "appears as id_b" == "has an earlier near-dup").
    Deterministic, engine-replicable, and one-sided like the
    keep-first rules of the textual dedup family.

    Scale shape: the assignment is similarity.assign_cells'
    broadcast + partial-agged max_by argmax (~N rows through the
    exchange, never the r4-flagged N*k expansion; the codebook is
    quantizer-sized by construction), then embedding_dup_pairs'
    per-cell gemm cogroup — quadratic only within a cell, so the
    codebook size is the knob that bounds cell population exactly as
    in the paper (|cell| ~ N/k). Returns (id, cell:bigint, kept)."""
    from .similarity import assign_cells, dot as _dot_expr

    c_id, c_vec = centroids.columns[0], centroids.columns[1]
    assigned = assign_cells(
        df.select(F.col(id_col).alias("pid"), F.col(vec_col).alias("v")),
        centroids.select(
            F.col(c_id).alias("c_id"), F.col(c_vec).alias("cent")
        ),
        lambda v, cv: F.round(_dot_expr(v, cv, dim), 6),
    )
    pairs = embedding_dup_pairs(
        assigned,
        id_col="pid",
        vec_col="v",
        dim=dim,
        min_cosine=min_cosine,
        block_col="cell",
    )
    dropped = pairs.select(F.col("id_b").alias("pid")).distinct()
    return assigned.join(
        dropped.withColumn("_drop", F.lit(True)), "pid", "left"
    ).select(
        F.col("pid").alias(id_col),
        "cell",
        F.coalesce(~F.col("_drop"), F.lit(True)).alias("kept"),
    )


def lsh_plan(
    threshold: float, n_hashes: int, fp_weight: float = 1.0
) -> dict:
    """Banded-MinHash parameter planning (the standard S-curve math,
    Leskovec/Rajaraman/Ullman MMDS ch.3 — public): choose (bands,
    rows) for a signature of ``n_hashes`` so the collision S-curve
    P(candidate | J) = 1 - (1 - J^rows)^bands best separates pairs at
    the target Jaccard ``threshold``.

    Scored by estimated error mass: false-negative rate at J =
    threshold plus ``fp_weight`` times the false-positive rate at
    J = threshold/2 (the verify step prunes FPs cheaply, so callers
    that trust their verifier pass fp_weight < 1 to buy recall).
    Driver-side pure math — runs once per job to size band_rows /
    minhash_signatures, never per row.

    Returns {bands, rows, p_at_threshold, p_at_half, est_threshold}
    where est_threshold is the curve's (1/bands)^(1/rows) knee."""
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    if n_hashes < 2:
        raise ValueError("need at least 2 hashes")
    best = None
    for rows in range(1, n_hashes + 1):
        bands = n_hashes // rows  # >= 1 for every rows in range
        p_hit = 1.0 - (1.0 - threshold ** rows) ** bands
        p_fp = 1.0 - (1.0 - (threshold / 2.0) ** rows) ** bands
        err = (1.0 - p_hit) + fp_weight * p_fp
        cand = (err, rows, bands, p_hit, p_fp)
        if best is None or cand[0] < best[0]:
            best = cand
    _, rows, bands, p_hit, p_fp = best
    return {
        "bands": bands,
        "rows": rows,
        "p_at_threshold": round(p_hit, 6),
        "p_at_half": round(p_fp, 6),
        "est_threshold": round((1.0 / bands) ** (1.0 / rows), 6),
    }


def semantic_dedup_drop(
    drop: DataFrame,
    history: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    centroids: DataFrame,
    min_cosine: float = 0.95,
) -> DataFrame:
    """Cross-drop incremental SemDeDup — the embedding twin of the
    MinHash band-index incremental path (plans/pipeline.
    dedup_drop_against_history): a new crawl drop's embeddings are
    near-dup-checked against BOTH the accumulated corpus and
    themselves, per coarse cell, so daily cost is the drop's own cells,
    never a rescan of the corpus pair space.

    Rules (equivalent BY CONSTRUCTION to running semantic_dedup over
    history-then-drop with history ids ordered first — pinned by
    test):
      - a drop row DROPS if ANY history row in its cell has
        cosine >= min_cosine with it (history rows are all "earlier",
        kept or not — the keep-first rule looks at all earlier rows);
      - otherwise the within-drop keep-lowest-id rule applies.

    Scale shape: one max_by argmax assignment per side
    (similarity.assign_cells — ~N rows exchanged, no N*k expansion),
    then ONE cogrouped per-cell gemm for drop x history plus
    semantic_dedup's drop x drop cogroup. The history side streams
    through the cogroup partition by cell — it is never collected,
    broadcast, or re-paired with itself. Returns (id, cell, kept) for
    the DROP rows only."""
    import numpy as np
    import pandas as pd

    from .similarity import assign_cells, dot as _dot_expr

    c_id, c_vec = centroids.columns[0], centroids.columns[1]
    cent = centroids.select(
        F.col(c_id).alias("c_id"), F.col(c_vec).alias("cent")
    )

    def assign(df: DataFrame) -> DataFrame:
        return assign_cells(
            df.select(F.col(id_col).alias("pid"), F.col(vec_col).alias("v")),
            cent,
            lambda v, cv: F.round(_dot_expr(v, cv, dim), 6),
        )

    drop_a = assign(drop)
    hist_a = assign(history)
    empty = pd.DataFrame({"pid": [], "maxc": []})
    loose = float(min_cosine) - 1e-6

    def _hist_hits(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left = drop rows of one cell, right = history rows of the cell
        if len(left) == 0 or len(right) == 0:
            return empty
        A = np.stack(left["v"].to_numpy()).astype(np.float64)
        B = np.stack(right["v"].to_numpy()).astype(np.float64)
        C = (A @ B.T) / np.outer(
            np.linalg.norm(A, axis=1), np.linalg.norm(B, axis=1)
        )
        # emit the raw per-row MAX cosine with only a loose prefilter;
        # the exact boundary rule (Spark F.round HALF_UP at 6dp, the
        # SAME expression embedding_dup_pairs applies to the within-
        # drop pairs) runs Spark-side below. round is monotone, so
        # round(max) >= tau iff some pair rounds past tau — previously
        # this path used np.round (HALF_EVEN) and could disagree with
        # the within-drop verdict at an exact 7th-digit tie (ADVICE r4)
        m = C.max(axis=1)
        keep = m >= loose
        return pd.DataFrame(
            {"pid": left["pid"].to_numpy()[keep], "maxc": m[keep]}
        )

    n_parts = drop.sparkSession.sparkContext.defaultParallelism
    id_dt = drop.schema[id_col].dataType.simpleString()
    hist_hit = (
        drop_a.select("pid", "cell", "v")
        .repartition(n_parts, "cell")
        .groupby("cell")
        .cogroup(
            hist_a.select("pid", "cell", "v").repartition(n_parts, "cell")
            .groupby("cell")
        )
        .applyInPandas(
            lambda l, r: _hist_hits(l, r), f"pid {id_dt}, maxc double"
        )
        .filter(F.round("maxc", 6) >= min_cosine)
        .select("pid")
        .withColumn("_hist_dup", F.lit(True))
    )
    # within-drop keep-first over the SAME assignment (drop_a) — the
    # cells were already computed for the history cogroup, so the
    # argmax assignment projection is paid once, not twice
    within_pairs = embedding_dup_pairs(
        drop_a, id_col="pid", vec_col="v", dim=dim,
        min_cosine=min_cosine, block_col="cell",
    )
    within_dropped = within_pairs.select(
        F.col("id_b").alias("pid")
    ).distinct().withColumn("_wd", F.lit(True))
    return (
        drop_a.select("pid", "cell")
        .join(within_dropped, "pid", "left")
        .join(hist_hit, "pid", "left")
        .select(
            F.col("pid").alias(id_col),
            "cell",
            (
                F.coalesce(~F.col("_wd"), F.lit(True))
                & F.coalesce(~F.col("_hist_dup"), F.lit(True))
            ).alias("kept"),
        )
    )
