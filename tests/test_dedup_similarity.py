"""Dedup / similarity / textstats operator tests."""

from __future__ import annotations

from deepee_spark.operators.dedup import (
    _MH,
    MINHASH_K,
    MOD,
    band_rows,
    exact_duplicates,
    minhash_dup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from deepee_spark.operators.similarity import brute_force_topk, lsh_bucket_topk
from deepee_spark.operators.textstats import lang_id, quality_features, token_counts


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy cat", "en"),  # near-dup of 1
        (3, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 1
        (4, "completely different text about market reports today", "en"),
        (5, "天气晴朗市场平稳数据显示增长缓慢情况良好继续保持", "zh"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    from pyspark.sql import functions as F

    return df.withColumn("tokens", F.split("text", " "))


def test_exact_duplicates(spark):
    out = exact_duplicates(_docs(spark), "doc_id", "text").collect()
    dup = [r for r in out if r["n_docs"] == 2]
    assert len(dup) == 1 and dup[0]["keep_id"] == 1


def test_minhash_identical_signatures(spark):
    sigs = {r["doc_id"]: tuple(r[f"sig{i}"] for i in range(8))
            for r in minhash_signatures(_docs(spark), "doc_id", "tokens").collect()}
    assert sigs[1] == sigs[3]
    common_near = sum(a == b for a, b in zip(sigs[1], sigs[2]))
    common_far = sum(a == b for a, b in zip(sigs[1], sigs[4]))
    assert common_near >= 2  # J=0.8 pair shares minima...
    assert common_far == 0  # ...disjoint docs share none
    assert sigs[1] != sigs[4]


def _py_str_hash(token: str) -> int:
    acc = 0
    for ch in token:
        acc = (acc * 31 + ord(ch)) % MOD
    return acc


def test_minhash_signatures_match_python_minhash(spark):
    """Each signature is the pure-Python MinHash of the str_hash fold."""
    docs = _docs(spark)
    got = {r["doc_id"]: [r[f"sig{i}"] for i in range(MINHASH_K)]
           for r in minhash_signatures(docs, "doc_id", "tokens").collect()}
    want = {}
    for r in docs.collect():
        hs = [_py_str_hash(t) for t in set(r["tokens"])]
        want[r["doc_id"]] = [min((a * h + b) % MOD for h in hs) for a, b in _MH]
    assert got == want


def test_band_keys_match_per_band_xxhash(spark):
    """band_rows keys equal the per-band xxhash64 of the same sig columns."""
    from pyspark.sql import functions as F

    sigs = minhash_signatures(_docs(spark), "doc_id", "tokens")
    for bands in (8, 4):
        rows = MINHASH_K // bands
        ref = sigs.select(
            "doc_id",
            F.explode(F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(*[F.col(f"sig{b * rows + r}") for r in range(rows)])
                    .cast("string").alias("band_key"),
                )
                for b in range(bands)
            ])).alias("bk"),
        ).select("doc_id", "bk.band", "bk.band_key")
        got = band_rows(sigs, "doc_id", bands)
        assert got.schema == ref.schema
        assert sorted(got.collect()) == sorted(ref.collect())


def test_minhash_dup_pairs(spark):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_dup_pairs(_docs(spark), "doc_id", "tokens",
                                        min_jaccard=0.5).collect()}
    assert (1, 3) in pairs and pairs[(1, 3)] == 1.0
    assert (1, 2) in pairs and 0.6 < pairs[(1, 2)] < 1.0
    assert not any(4 in p for p in pairs)


def test_simhash_near_dups_close(spark):
    h = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark), "doc_id", "tokens").collect()}
    assert h[1] == h[3]
    hamming = bin(h[1] ^ h[2]).count("1")
    assert hamming <= 6


def test_ngram_jaccard_pairs(spark):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(_docs(spark), "doc_id", "tokens",
                                          ["lang"], min_jaccard=0.3).collect()}
    assert (1, 3) in pairs and pairs[(1, 3)] == 1.0
    assert (1, 2) in pairs


def test_brute_force_and_lsh_topk(spark):
    import math

    rows = []
    for i in range(40):
        base = [math.sin(0.7 * (i % 4) + 0.13 * j) for j in range(8)]
        rows.append((i, [v + 0.001 * i for v in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id < 2")
    exact = brute_force_topk(q, df, "vec_id", "embedding", dim=8, k=3)
    got = {(r["q_id"], r["rank"]): r["c_id"] for r in exact.collect()}
    assert len(got) == 6
    # nearest neighbours of vec 0 come from the same residue class (i%4==0)
    assert all(c % 4 == 0 for (qid, _), c in got.items() if qid == 0)

    approx = lsh_bucket_topk(q, df, "vec_id", "embedding", dim=8, k=3)
    agot = {(r["q_id"], r["rank"]): r["c_id"] for r in approx.collect()}
    # multi-probe LSH recovers the exact top-1 for each query
    for qid in (0, 1):
        assert agot[(qid, 1)] == got[(qid, 1)]


def test_textstats(spark):
    df = _docs(spark)
    lid = {r["doc_id"]: r["pred_lang"] for r in lang_id(df).collect()}
    assert lid[1] == "en" and lid[5] == "zh"
    q = {r["doc_id"]: r for r in quality_features(df).collect()}
    assert q[1]["n_tokens"] == 9
    assert q[1]["stopword_ratio"] > 0.2
    t = {r["doc_id"]: r for r in token_counts(df).collect()}
    assert t[1]["ws_tokens"] == 9 and t[1]["re_tokens"] == 9


def test_embedding_dup_pairs_lsh_default_blocking(spark):
    """Default (no block_col) blocking is hyperplane-LSH with 1-bit
    multi-probe: same-bucket and Hamming-1 pairs are found; a
    high-cosine pair whose buckets differ in TWO plane signs is
    excluded — the candidate rule, not the cosine, decides."""
    import numpy as np

    from deepee_spark.operators.dedup import embedding_dup_pairs

    dim, planes = 64, 8
    P = np.array(
        [
            [((p * 73856093 + j * 19349663) % 2000 - 1000) / 1000.0
             for j in range(1, dim + 1)]
            for p in range(planes)
        ]
    )
    rng = np.random.default_rng(5)
    v = rng.normal(size=dim)
    # make v near-orthogonal to planes 0 and 1 (iterate: planes not orthogonal)
    for _ in range(30):
        for p in (0, 1):
            v -= (v @ P[p]) / (P[p] @ P[p]) * P[p]
    eps = 1e-4 * (P[0] / np.linalg.norm(P[0]) + P[1] / np.linalg.norm(P[1]))
    v1 = v + eps          # planes 0,1 positive
    v2 = v - eps          # planes 0,1 negative -> Hamming 2 from v1
    v3 = v1 + rng.normal(scale=1e-3, size=dim)  # near-dup of v1
    assert np.sign(v1 @ P[0]) != np.sign(v2 @ P[0])
    assert np.sign(v1 @ P[1]) != np.sign(v2 @ P[1])
    cos12 = (v1 @ v2) / np.linalg.norm(v1) / np.linalg.norm(v2)
    assert cos12 > 0.99  # high cosine yet outside the candidate rule

    df = spark.createDataFrame(
        [(1, [float(x) for x in v1]),
         (2, [float(x) for x in v2]),
         (3, [float(x) for x in v3])],
        ["vec_id", "embedding"],
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_dup_pairs(
            df, "vec_id", "embedding", dim=dim, min_cosine=0.9
        ).collect()
    }
    assert (1, 3) in pairs          # same/adjacent bucket near-dup found
    assert (1, 2) not in pairs      # Hamming-2 pair excluded by design


def test_repetition_features_gopher_rules(spark):
    """Gopher repetition filters: dup-token fraction and most-common
    bigram fraction with deterministic tie-break, vs a python oracle."""
    from collections import Counter

    from deepee_spark.operators.textstats import repetition_features

    docs = [
        (0, "spam spam spam spam ham"),          # heavy repetition
        (1, "a clean document with unique words"),
        (2, "x y x y x y x y"),                  # dominant bigrams
        (3, "solo"),                             # 1 token: no bigram
        (4, "tie a tie b"),                      # bigram tie -> asc order
    ]
    out = {
        r["doc_id"]: r
        for r in repetition_features(
            spark.createDataFrame(docs, ["doc_id", "text"])
        ).collect()
    }
    for doc_id, text in docs:
        toks = text.split()
        n = len(toks)
        want_dup = round(1 - len(set(toks)) / n, 6)
        bgs = Counter(
            " ".join(toks[i : i + 2]) for i in range(n - 1)
        )
        r = out[doc_id]
        assert r["n_tokens"] == n
        assert r["dup_token_frac"] == want_dup, text
        if n < 2:
            assert r["top_bigram"] is None and r["top_bigram_frac"] == 0.0
        else:
            top = min(bgs.items(), key=lambda kv: (-kv[1], kv[0]))
            assert r["top_bigram"] == top[0], text
            assert r["top_bigram_frac"] == round(top[1] / (n - 1), 6)
    assert not out[0]["keep"] and not out[2]["keep"]
    # clean/short docs keep: the bigram rule only fires on count >= 2
    assert out[1]["keep"] and out[3]["keep"] and out[4]["keep"]


def test_canonical_url_rules(spark):
    """Each canonicalization rule against hand-derived expectations."""
    from deepee_spark.operators.urls import canonical_url, host_of

    cases = [
        ("HTTPS://WWW.Example.COM/Path/X", "https://www.example.com/Path/X"),
        ("https://a.com:443/p", "https://a.com/p"),
        ("http://a.com:80/p", "http://a.com/p"),
        ("https://a.com:8443/p", "https://a.com:8443/p"),  # non-default kept
        ("https://a.com/p#frag", "https://a.com/p"),
        ("https://a.com/p?utm_source=x", "https://a.com/p"),
        ("https://a.com/p?utm_source=x&id=2", "https://a.com/p?id=2"),
        ("https://a.com/p?id=2&utm_medium=y&z=3", "https://a.com/p?id=2&z=3"),
        ("https://a.com/p?ref=tw", "https://a.com/p"),
        ("https://a.com/p/", "https://a.com/p"),
        ("https://a.com/", "https://a.com/"),  # root slash kept
        ("https://a.com/p/?utm_source=x#f", "https://a.com/p"),
    ]
    df = spark.createDataFrame(cases, ["url", "want"])
    from pyspark.sql import functions as F

    rows = df.select(
        "url", "want", canonical_url(F.col("url")).alias("got"),
        host_of(F.col("url")).alias("host"),
    ).collect()
    for r in rows:
        assert r["got"] == r["want"], (r["url"], r["got"], r["want"])
        assert r["host"] == r["url"].split("://")[1].split("/")[0].split(":")[0].lower()


def test_pq_encode_and_adc_topk_on_clustered_vectors(spark):
    """Vectors built as seed + tiny per-subspace noise: every subspace
    code must be the generating seed, and ADC top-k must retrieve
    same-cluster members first."""
    import numpy as np
    from pyspark.sql import functions as F

    from deepee_spark.operators.similarity import pq_encode, pq_topk

    rng = np.random.default_rng(3)
    seeds = rng.normal(0, 1, size=(4, 64)).astype(np.float32)  # 4 centroids
    rows = []
    for i in range(24):
        c = i % 4
        v = seeds[c] + rng.normal(0, 0.01, size=64).astype(np.float32)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    codebook = spark.createDataFrame(
        [(c, [float(x) for x in seeds[c]]) for c in range(4)],
        ["c_id", "c_emb"],
    )
    codes = pq_encode(emb, codebook, "vec_id", "embedding",
                      dim=64, n_sub=8)
    got = {(r["vec_id"], r["m"]): r["code"] for r in codes.collect()}
    assert len(got) == 24 * 8
    for (vid, _m), code in got.items():
        assert code == vid % 4, (vid, _m, code)

    q = emb.filter("vec_id < 2").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    top = pq_topk(emb, q, codebook, "vec_id", "embedding",
                  dim=64, n_sub=8, k=3)
    for r in top.collect():
        assert r["vec_id"] % 4 == r["q_id"] % 4, r   # same cluster
        assert r["vec_id"] != r["q_id"]              # self excluded


# ---------------------------------------------------------------------------
# exact prefix-filter set-similarity join


def test_jaccard_similarity_join_exact(spark):
    import random

    from deepee_spark.operators.setjoin import jaccard_similarity_join

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(40)]
    docs = []
    for i in range(60):
        n = rng.randrange(3, 12)
        docs.append((f"d{i:02d}", rng.sample(vocab, n)))
    # planted near-identical pair
    docs.append(("dup1", ["w0", "w1", "w2", "w3", "w4"]))
    docs.append(("dup2", ["w0", "w1", "w2", "w3", "w4", "w5"]))
    docs.append(("empty", []))
    df = spark.createDataFrame(docs, ["doc_id", "tokens"])

    theta = 600
    exp = set()
    data = {d: set(t) for d, t in docs if t}
    ids = sorted(data)
    for i, x in enumerate(ids):
        for y in ids[i + 1:]:
            inter = len(data[x] & data[y])
            uni = len(data[x] | data[y])
            j = 1_000_000 * inter // uni
            if j >= theta * 1000:
                exp.add((x, y, inter, uni, j))
    got = {
        (r.a, r.b, r.n_common, r.n_union, r.jaccard_e6)
        for r in jaccard_similarity_join(df, "doc_id", "tokens", theta).collect()
    }
    assert got == exp
    assert any(a == "dup1" and b == "dup2" for a, b, *_ in got)


def test_jaccard_similarity_join_no_false_negatives_low_theta(spark):
    """theta=1 permille: prefix = whole set, so EVERY overlapping pair
    must appear — the exhaustive stress of the prefix bound."""
    from deepee_spark.operators.setjoin import jaccard_similarity_join

    docs = [
        ("a", ["x", "y"]),
        ("b", ["y", "z"]),
        ("c", ["p", "q"]),
        ("d", ["z", "x", "y"]),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "tokens"])
    got = {
        (r.a, r.b)
        for r in jaccard_similarity_join(df, "doc_id", "tokens", 1).collect()
    }
    assert got == {("a", "b"), ("a", "d"), ("b", "d")}


def test_jaccard_similarity_join_blocked(spark):
    """block_cols restricts pairing to same-block records; within a
    block results equal the unblocked join filtered to that block."""
    from deepee_spark.operators.setjoin import jaccard_similarity_join

    docs = [
        ("a", "g1", ["x", "y", "z"]),
        ("b", "g1", ["x", "y", "w"]),
        ("c", "g2", ["x", "y", "z"]),  # identical to a, other block
        ("d", "g2", ["x", "y", "z", "q"]),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "grp", "tokens"])
    got = {
        (r.a, r.b)
        for r in jaccard_similarity_join(
            df, "doc_id", "tokens", 500, block_cols=["grp"]
        ).collect()
    }
    assert got == {("a", "b"), ("c", "d")}


def test_rrf_fuse_bruteforce_and_guards(spark):
    """RRF vs a literal Python fold over three synthetic rankings,
    including candidates present in only some lists; ties broken by
    c_id; bad params raise."""
    import random

    import pytest as _pytest

    from deepee_spark.operators.similarity import rrf_fuse

    rng = random.Random(5)
    rows = []
    for q in range(4):
        for src in range(3):
            cands = rng.sample(range(30), 10)
            rows += [(q, c, r + 1) for r, c in enumerate(cands)]
    df = spark.createDataFrame(rows, "q_id: long, c_id: long, rank: long")
    got = {
        (r.q_id, r.rank_fused): (r.c_id, r.rrf_score_e9, r.n_lists)
        for r in rrf_fuse(df, k_rrf=60, topk=7).collect()
    }
    from collections import defaultdict

    score = defaultdict(int)
    nlists = defaultdict(int)
    for q, c, r in rows:
        score[(q, c)] += 1_000_000_000 // (60 + r)
        nlists[(q, c)] += 1
    want = {}
    for q in range(4):
        cs = sorted(
            (c for (qq, c) in score if qq == q),
            key=lambda c: (-score[(q, c)], c),
        )
        for i, c in enumerate(cs[:7]):
            want[(q, i + 1)] = (c, score[(q, c)], nlists[(q, c)])
    assert got == want
    with _pytest.raises(ValueError):
        rrf_fuse(df, k_rrf=0)
    with _pytest.raises(ValueError):
        rrf_fuse(df, topk=0)


def test_containment_pairs_bruteforce_and_asymmetry(spark):
    """Containment vs a literal Python shingle fold; a short doc fully
    quoted inside a long one must score 1.0 containment while its
    Jaccard stays low; blocking keeps cross-block pairs out."""
    from deepee_spark.operators.dedup import containment_pairs

    quote = "the quick brown fox jumps over the lazy dog tonight"
    long_doc = (
        "intro words here " + quote + " and then a very long tail "
        + " ".join(f"filler{i}" for i in range(40))
    )
    rows = [
        (1, "b1", quote.split()),
        (2, "b1", long_doc.split()),
        (3, "b1", [f"other{i}" for i in range(30)]),
        (4, "b2", quote.split()),  # different block: never paired with 1
    ]
    df = spark.createDataFrame(rows, "pid: long, blk: string, toks: array<string>")
    got = {
        (r.id_a, r.id_b): (
            r.inter, r.n_a, r.n_b, r.cont_a_in_b_e6, r.cont_b_in_a_e6
        )
        for r in containment_pairs(
            df, "pid", "toks", ["blk"], n=3, min_containment_e6=100_000
        ).collect()
    }

    def sh(toks):
        return {
            "_".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    s1, s2 = sh(rows[0][2]), sh(rows[1][2])
    inter = len(s1 & s2)
    want = {
        (1, 2): (
            inter, len(s1), len(s2),
            (1_000_000 * inter) // len(s1),
            (1_000_000 * inter) // len(s2),
        )
    }
    assert got == want
    assert got[(1, 2)][3] == 1_000_000  # quote fully contained
    assert got[(1, 2)][4] < 250_000     # but Jaccard-style ratio is low


def test_sparse_topk_bruteforce_maxdf_and_guards(spark):
    """Inverted-index retrieval vs a literal Python scorer; max_df
    pruning removes the stop-term's contribution; k guard raises."""
    import pytest as _pytest

    from deepee_spark.operators.similarity import sparse_topk

    corpus = [
        (1, ["the", "fox", "ran"]),
        (2, ["the", "the", "fox", "slept"]),
        (3, ["the", "dog", "ran", "ran"]),
        (4, ["cat", "sat"]),
    ]
    queries = [(10, ["the", "fox", "ran", "ran"]), (11, ["cat"])]
    docs = spark.createDataFrame(corpus, "id: long, tokens: array<string>")
    qs = spark.createDataFrame(queries, "q_id: long, tokens: array<string>")

    def brute(max_df):
        from collections import Counter

        tf = {d: Counter(t) for d, t in corpus}
        df_ = Counter()
        for d, t in corpus:
            for term in set(t):
                df_[term] += 1
        n = len(corpus)
        out = {}
        for q, qt in queries:
            sc = Counter()
            for term in set(qt):
                if term not in df_ or (max_df and df_[term] > max_df):
                    continue
                idf = (1_000_000 * n) // df_[term]
                for d in tf:
                    if tf[d][term]:
                        sc[d] += tf[d][term] * idf
            ranked = sorted(sc.items(), key=lambda kv: (-kv[1], kv[0]))
            for i, (d, s) in enumerate(ranked[:3]):
                out[(q, i + 1)] = (d, s)
        return out

    for mdf in (None, 2):
        got = {
            (r.q_id, r.rank): (r.doc, r.score_e6)
            for r in sparse_topk(docs, qs, k=3, max_df=mdf).collect()
        }
        assert got == brute(mdf), f"max_df={mdf}"
    with _pytest.raises(ValueError):
        sparse_topk(docs, qs, k=0)


def test_simhash_dup_pairs_lossless_blocking(spark):
    """Block-bucketed simhash pairs must equal the brute-force
    Hamming-<=k pair set (pigeonhole: k <= blocks-1 loses nothing),
    and the guard must reject an unsound k."""
    import itertools

    import pytest as _pytest

    from deepee_spark.operators.dedup import simhash_dup_pairs

    rows = [
        (1, 0b1010101010101010),
        (2, 0b1010101010101011),  # ham 1 from id 1
        (3, 0b1010101010100110),  # ham 3 from id 1
        (4, 0b0101010101010101),  # ham 16 from id 1
        (5, 0b1010101010101010),  # ham 0 from id 1
        (6, 0b1111000011110000),
        (7, 0b1111000011110100),  # ham 1 from id 6
    ]
    df = spark.createDataFrame(rows, "id: long, simhash: long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_dup_pairs(df, "id", "simhash", max_hamming=3).collect()
    }
    want = {}
    for (ia, sa), (ib, sb) in itertools.combinations(rows, 2):
        d = bin(sa ^ sb).count("1")
        if d <= 3:
            want[(ia, ib)] = d
    assert got == want
    with _pytest.raises(ValueError):
        simhash_dup_pairs(df, "id", "simhash", max_hamming=4, blocks=4)


def test_semantic_dedup_keep_first_within_cells(spark):
    # hand fixture: two cells (codebook = axis vectors); within cell 0,
    # ids 10/11/12 are near-identical (cos ~1) -> keep 10 only; id 13
    # is orthogonal-ish -> kept. Cell 1 has a single member -> kept.
    import math

    from deepee_spark.operators.dedup import semantic_dedup

    dim = 4
    rows = [
        (10, [1.0, 0.0, 0.1, 0.0]),
        (11, [0.99, 0.0, 0.12, 0.0]),   # dup of 10
        (12, [1.01, 0.0, 0.08, 0.0]),   # dup of 10 (and 11)
        (13, [0.6, 0.0, -0.8, 0.0]),    # cell 0 but far from all
        (20, [0.0, 1.0, 0.0, 0.2]),     # alone in cell 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "c_id long, c_vec array<double>",
    )
    out = {
        r.vec_id: (r.cell, r.kept)
        for r in semantic_dedup(
            emb, "vec_id", "embedding", dim, cent, min_cosine=0.95
        ).collect()
    }
    assert out == {
        10: (0, True), 11: (0, False), 12: (0, False),
        13: (0, True), 20: (1, True),
    }
    # independent check of the fixture's intent
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(sum(x * x for x in a) * sum(x * x for x in b))

    assert cos(rows[0][1], rows[1][1]) > 0.95
    assert cos(rows[0][1], rows[3][1]) < 0.95


def test_lsh_plan_s_curve_properties():
    from deepee_spark.operators.dedup import lsh_plan

    import pytest as _pytest

    # recall-leaning at J=0.45/32 hashes reproduces EXACTLY the 16x2
    # banding operators/linking.py documents ("catch J=0.45 w.p. ~0.98")
    p45 = lsh_plan(0.45, 32, fp_weight=0.3)
    assert (p45["bands"], p45["rows"]) == (16, 2)
    assert p45["p_at_threshold"] > 0.9  # catches true near-dups
    p9 = lsh_plan(0.9, 128)
    assert p9["rows"] > p45["rows"]  # higher threshold -> longer bands
    assert p9["est_threshold"] > p45["est_threshold"]
    # recall-greedy caller accepts more FPs -> shorter rows
    loose = lsh_plan(0.8, 64, fp_weight=0.1)
    strict = lsh_plan(0.8, 64, fp_weight=5.0)
    assert loose["rows"] <= strict["rows"]
    assert loose["p_at_threshold"] >= strict["p_at_threshold"]
    with _pytest.raises(ValueError):
        lsh_plan(1.5, 32)
    with _pytest.raises(ValueError):
        lsh_plan(0.5, 1)


def test_semantic_dedup_drop_equals_full_run(spark):
    # cross-drop incremental == one full semantic_dedup over
    # history-then-drop when history ids order first
    import numpy as np

    from deepee_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_drop,
    )

    rng = np.random.default_rng(20260821)
    dim = 16

    def mk(n, id0):
        base = rng.standard_normal((max(n // 3, 1), dim))
        rows = []
        for i in range(n):
            v = base[i % len(base)] + 0.05 * rng.standard_normal(dim)
            rows.append((id0 + i, [float(x) for x in v]))
        return rows

    hist_rows = mk(40, 0)
    drop_rows = mk(25, 1000)   # ids strictly after history
    hist = spark.createDataFrame(
        hist_rows, "vec_id long, embedding array<double>"
    )
    drop = spark.createDataFrame(
        drop_rows, "vec_id long, embedding array<double>"
    )
    cent = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(4)],
        "c_id long, c_vec array<double>",
    )
    tau = 0.9
    full = {
        r.vec_id: r.kept
        for r in semantic_dedup(
            hist.unionByName(drop), "vec_id", "embedding", dim, cent, tau
        ).collect()
        if r.vec_id >= 1000
    }
    inc = {
        r.vec_id: r.kept
        for r in semantic_dedup_drop(
            drop, hist, "vec_id", "embedding", dim, cent, tau
        ).collect()
    }
    assert inc == full
    # sanity: the fixture actually exercises both drop reasons
    assert any(not k for k in inc.values())
    assert any(k for k in inc.values())


def _lloyd_reference(rows, dim, k, iters):
    # single-process replay of the integer-exact recurrence
    import math

    def micro(v):
        out = []
        for x in v:
            m = x * 1_000_000
            f = math.floor(m)
            diff = m - f
            if diff > 0.5 or (diff == 0.5 and f % 2 == 1):
                f += 1
            out.append(int(f))
        return out

    rows = sorted(rows)
    cents = {i: micro(v) for i, (_, v) in enumerate(rows[:k])}

    def assign():
        a = {}
        for pid, v in rows:
            best = None
            for cid in sorted(cents):
                d = round(sum(x * c for x, c in zip(v, cents[cid])) / 1e6, 6)
                key = (-d, cid)
                if best is None or key < best[0]:
                    best = (key, cid)
            a[pid] = best[1]
        return a

    for _ in range(iters):
        a = assign()
        sums = {}
        for pid, v in rows:
            c = a[pid]
            s, n = sums.setdefault(c, ([0] * dim, 0))
            mv = micro(v)
            sums[c] = ([x + y for x, y in zip(s, mv)], n + 1)
        for c, (s, n) in sums.items():
            # python // floors; SQL DIV truncates toward zero
            cents[c] = [
                x // n if x >= 0 else -((-x) // n) for x in s
            ]
    return assign(), cents


def test_lloyd_codebook_matches_reference(spark):
    import numpy as np

    from deepee_spark.operators.similarity import lloyd_codebook

    rng = np.random.default_rng(11)
    dim, k, iters = 8, 3, 2
    rows = [
        (i, [float(x) for x in rng.standard_normal(dim)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cb = lloyd_codebook(emb, "vec_id", "embedding", dim, k, iters)
    got_assign = {r.vec_id: r.cell for r in assigned.collect()}
    got_cents = {r.c_id: list(r.cent) for r in cb.collect()}
    ref_assign, ref_cents = _lloyd_reference(rows, dim, k, iters)
    assert got_cents == ref_cents
    assert got_assign == ref_assign
    # all k cells non-empty on this fixture and partition the ids
    assert set(got_assign) == set(range(40))
    assert set(got_assign.values()) == set(range(k))


def test_textstats_define_rows_for_pages_without_tokens(spark):
    """Under ANSI mode an empty or blank page gets a defined row
    (pred_lang 'other', null ratios) instead of aborting the job with
    DIVIDE_BY_ZERO."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "the cat sat on the mat")],
        "doc_id long, text string",
    )
    lid = {r.doc_id: r.pred_lang for r in lang_id(df).collect()}
    assert lid == {1: "other", 2: "other", 3: "en"}
    q = {r.doc_id: r for r in quality_features(df).collect()}
    for i in (1, 2):
        assert q[i].n_tokens == 0 and q[i].punct_ratio == 0.0
        assert q[i].mean_token_len is None and q[i].stopword_ratio is None
        assert q[i].quality is None
    assert q[3].n_tokens == 6 and q[3].stopword_ratio == 0.5
    assert q[3].quality == round(0.06 + 0.1 * 17 / 6 - 0.25, 6)


def test_text_oracles_state_engine_rules(spark, tmp_path):
    """The text_* contract queries run operators/textstats; their DuckDB
    oracles must agree on pages that hit the branches the contract
    corpus (lower-case, single-spaced, punctuation-free) never does:
    CJK text, the stopwords beyond the six most common, punctuation,
    upper case, tabs/newlines and pages without tokens."""
    import importlib.util
    import os

    import duckdb
    import pandas as pd

    import __spark_entry__ as entry

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_contract", os.path.join(repo, "tools", "check_contract.py")
    )
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)

    pages = [
        (1, "the cat sat on the mat and it was fine", "en"),
        (2, "中文文本 混合 words", "zh"),
        (3, "Hello, World! Is THIS ok? Yes: 42 times; 3.5", "en"),
        (4, "", "en"),
        (5, "   ", "de"),
        (6, "tab\tseparated\nlines  with  double  spaces", "en"),
        (7, "xyz is for abc def ghi jkl mno pqr stu", "en"),
        (8, "Der Hund schläft im Haus", "de"),
    ]
    pd.DataFrame(pages, columns=["doc_id", "text", "lang"]).to_parquet(
        tmp_path / "documents.parquet"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    qs, oracles = entry.queries(), entry.oracle_sql()
    for name in ("text_lang_id", "text_token_counts", "text_quality_score"):
        got = qs[name](spark, str(tmp_path)).toPandas()
        want = con.execute(oracles[name]).df()
        assert sorted(got.columns) == sorted(want.columns), name
        assert check.canonical(got) == check.canonical(want), name
        if name == "text_lang_id":
            assert set(got.pred_lang) == {"en", "zh", "other"}
