"""Distributed graph analytics over the materialized KG edge tables.

Once the pipeline has emitted triples and rolled them up into node/edge
tables (plans/pipeline.nodes_from / edges_from), a KG user immediately
asks graph-shaped questions: which entities share neighbors, how densely
is a neighborhood interconnected, which nodes are structurally central,
how far is everything from a seed set. The reference's downstream
consumers do this off-engine; here each op is a first-class distributed
DataFrame plan designed for the 10^12-triple graph, and each has a
DuckDB twin (`*_oracle_sql`) that the driver contract checks it against.

The module is organized by FAMILY: one private Spark loop and one
private DuckDB-twin builder per family, with each public function
keeping only the set-up that differs.

- PageRank: pagerank_int, pagerank_int_converged (tolerance stop, warm
  start), pagerank_int_weighted (weight-split contributions) and
  pagerank_int_seeded (teleport to a seed set) all run _pagerank around
  the one iteration body _pr_iteration; their three twins are
  _pagerank_twin. Ranks are EXACT integer micro-units (PR_SCALE = 1e9,
  damping DAMPING_PCT/100 by integer division), so the result is
  bit-identical regardless of partitioning, shuffle order or engine,
  unlike float PageRank where partial-sum order drifts. Dangling mass
  is dropped (documented; both sides agree).
- BFS: bfs_distances (keyed node) and bfs_per_seed (keyed seed, node;
  harmonic_centrality reads it) run the frontier loop _bfs; twins
  _bfs_twin.
- HyperBall: hyperball_harmonic and hyperball_neighborhood read the
  per-radius ball estimates of _hyperball_ests; twins _hyperball_twin.
- Peeling and propagation, one loop and one twin each: kcore, ktruss
  (edge_support), label_propagation, scc, sssp_hops,
  transitive_closure, hits_int, wl_fingerprints.
- One-shot joins: co_neighbors, neighbor_jaccard, resource_allocation,
  co_occurrence_pmi, triangle_count (degree orientation, O(d_min²)
  wedge work per node — Suri & Vassilvitskii, WWW'11),
  predicate_implications.

Shared pieces: _node_set (src ∪ dst, distinct) and its SQL form
_NODES_CTE, _symmetric (the persisted undirected edge list every
frontier loop probes), undirect, _closed_triangles. Iterative loops
cut lineage per round, so plans do not grow with the round count.

All outputs are integer or canonically-ordered, so every op here gets a
hard rows+schema+hash driver oracle (see __spark_entry__.kg_* queries).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# PageRank micro-unit scale. 1e9 keeps every intermediate (85 * sum of
# per-node ranks) far below 2^63 even for graphs with ~1e9 nodes.
PR_SCALE = 1_000_000_000
# PageRank damping in percent, shared by every variant and its twin.
DAMPING_PCT = 85

# SQL form of _node_set over a CTE named `e`.
_NODES_CTE = "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)"


def _node_set(e: DataFrame) -> DataFrame:
    """(node): the distinct endpoints (src ∪ dst) of an edge frame.
    Callers add their own repartition/persist/localCheckpoint."""
    return (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )


def co_neighbors(
    edges: DataFrame, max_fanout: int | None = None
) -> DataFrame:
    """(src, dst) -> (a, b, n_shared) pairs of distinct src nodes that
    share a dst, a < b, with the number of shared neighbors.

    Scale: the self-join key is dst; a dst with fanout f yields f²
    pairs. `max_fanout` drops dst nodes above the cap before the join
    (the standard guard: a hub shared by everyone carries no similarity
    signal anyway). The probe side is repartitioned on dst with an
    EXPLICIT partition count — a bare repartition("dst") is
    REPARTITION_BY_COL, which AQE coalesces by input BYTES, and the
    input here is tiny relative to its quadratic output (73k rows ->
    26.6M pairs at sf0.1), so AQE would serialize the whole explosion
    into one task (measured: flat 9.5s at both 4 and 16 cores before
    this, 4x spread after). Same guard as operators/dedup.py:253.
    """
    return _co_neighbors_distinct(
        edges.select("src", "dst").distinct(), max_fanout
    )


def _co_neighbors_distinct(
    e: DataFrame, max_fanout: int | None = None
) -> DataFrame:
    """co_neighbors body for an ALREADY-distinct (src, dst) frame —
    callers that dedup for their own degree/occurrence dimensions
    (neighbor_jaccard, co_occurrence_pmi) enter here so the hot path
    does not pay a second full-distinct exchange."""
    if max_fanout is not None:
        keep = e.groupBy("dst").agg(F.count(F.lit(1)).alias("f")).filter(
            F.col("f") <= max_fanout
        )
        e = e.join(keep.select("dst"), "dst")
    n_parts = e.sparkSession.sparkContext.defaultParallelism
    e = e.repartition(n_parts, "dst")
    a = e.select(F.col("src").alias("a"), "dst")
    b = e.select(F.col("src").alias("b"), "dst")
    return (
        a.join(b, "dst")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )


def neighbor_jaccard(
    edges: DataFrame, max_fanout: int | None = None
) -> DataFrame:
    """Neighbor-set Jaccard similarity for pairs of src nodes:
    |N(a) ∩ N(b)| / |N(a) ∪ N(b)|, reported as an EXACT integer
    fraction — (n_shared, deg_a, deg_b, jaccard_e6) with jaccard_e6 =
    (1e6 * n_shared) div (deg_a + deg_b - n_shared) — so the result is
    engine-independent (no float division to drift).

    The quadratic stage is co_neighbors (fanout-cappable); degrees are
    a node-count-sized dimension joined onto the aggregated pair
    output, broadcast-able at any realistic node count.

    With max_fanout set, degrees stay TRUE (uncapped) while shared
    counts only accumulate through non-hub dsts, so the reported
    jaccard is a LOWER BOUND — the right direction for a similarity
    threshold (capping can only miss pairs, never inflate them)."""
    e = edges.select("src", "dst").distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    pairs = _co_neighbors_distinct(e, max_fanout)
    return (
        pairs.join(
            deg.select(F.col("src").alias("a"), F.col("deg").alias("deg_a")),
            "a",
        )
        .join(
            deg.select(F.col("src").alias("b"), F.col("deg").alias("deg_b")),
            "b",
        )
        .select(
            "a",
            "b",
            "n_shared",
            "deg_a",
            "deg_b",
            F.expr(
                "(1000000 * n_shared) div (deg_a + deg_b - n_shared)"
            ).cast("long").alias("jaccard_e6"),
        )
    )


def _symmetric(
    edges: DataFrame, key: str, dedup: bool = True
) -> DataFrame:
    """Symmetric (src, dst) expansion, persisted PRE-PARTITIONED on
    `key` — the iteration-invariant edge input every frontier/peeling
    loop probes (persist keeps the child's hashpartitioning where
    localCheckpoint would not, so per-round joins move only the small
    changing side). ``dedup=False`` skips the distinct for inputs
    already canonical-deduped (undirect output: the lo<hi frame and
    its swap are disjoint by construction, so a distinct there would
    be a pure extra exchange)."""
    n_parts = edges.sparkSession.sparkContext.defaultParallelism
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    if dedup:
        sym = sym.distinct()
    return sym.repartition(n_parts, key).persist()


def undirect(edges: DataFrame) -> DataFrame:
    """-> distinct canonical (lo, hi) with lo < hi; self-loops dropped."""
    return (
        edges.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )


def _closed_triangles(und: DataFrame) -> DataFrame:
    """-> (u, lo, hi): every triangle of the canonical (lo, hi) edge
    set exactly once, via degree orientation (see triangle_count).
    u is the (degree, id)-smallest corner; (lo, hi) the closing edge.
    """
    deg = (
        und.select(F.col("lo").alias("node"))
        .unionByName(und.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by (degree, id): u -> v iff (d_u, u) < (d_v, v)
    dl = deg.select(
        F.col("node").alias("lo"), F.col("d").alias("d_lo")
    )
    dh = deg.select(F.col("node").alias("hi"), F.col("d").alias("d_hi"))
    ranked = und.join(dl, "lo").join(dh, "hi")
    fwd = (F.col("d_lo") < F.col("d_hi")) | (
        (F.col("d_lo") == F.col("d_hi")) & (F.col("lo") < F.col("hi"))
    )
    oriented = ranked.select(
        F.when(fwd, F.col("lo")).otherwise(F.col("hi")).alias("u"),
        F.when(fwd, F.col("hi")).otherwise(F.col("lo")).alias("v"),
    )
    # wedges at u: pairs of out-neighbors (v, w), v < w in id order.
    # Same AQE guard as co_neighbors: the wedge join's input is tiny
    # relative to its quadratic output, so an explicit partition count
    # keeps AQE from coalescing the explosion into one task.
    n_parts = und.sparkSession.sparkContext.defaultParallelism
    e1 = oriented.select("u", F.col("v").alias("x")).repartition(
        n_parts, "u"
    )
    e2 = oriented.select("u", F.col("v").alias("y"))
    wedges = (
        e1.join(e2, "u")
        .filter(F.col("x") < F.col("y"))
        .select(
            "u",
            F.least("x", "y").alias("lo"),
            F.greatest("x", "y").alias("hi"),
        )
    )
    return wedges.join(und, ["lo", "hi"])  # wedge closed by an edge


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over the undirected simple graph.

    Degree orientation: rank nodes by (degree, id); orient every edge
    from the rank-smaller endpoint u to the larger v. Wedges (u; v, w)
    are enumerated only at u (the smaller endpoint), so per-node wedge
    work is O(d_min²); the closure check is an equi-join of the wedge
    set against the oriented edge set on (v, w). Every triangle is
    found exactly once, then credited to all three corners.

    Returns (node, n_triangles) for nodes in >= 1 triangle.
    """
    tri = _closed_triangles(undirect(edges))
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("lo").alias("node")))
        .unionByName(tri.select(F.col("hi").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def pagerank_int(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Fixed-iteration PageRank in exact integer micro-units.

    rank_0(v)   = PR_SCALE div n                      (n = |nodes|)
    teleport    = ((100 - DAMPING_PCT) * rank_0) div 100
    rank_i(v)   = teleport
                + (DAMPING_PCT * sum_{u->v} (rank_{i-1}(u) div outdeg(u)))
                  div 100

    Every operation is BIGINT, so the result is independent of shuffle
    partitioning and bit-identical across engines (the property the
    cross-engine oracle needs). Dangling-node mass is dropped rather
    than redistributed — a documented variant choice, mirrored exactly
    in the SQL oracle. Set-up and loop are the family's shared
    _pagerank: each iteration is one shuffle (groupBy dst) + a left
    join back onto the node set so sink nodes keep their teleport mass,
    and lineage is cut per iteration so the plan stays O(1) deep.

    Returns (node, rank) with rank in micro-units (long).
    """
    return _pagerank(edges.select("src", "dst").distinct(), iters)[0]


def _pagerank(
    e: DataFrame,
    iters: int,
    seeds: DataFrame | None = None,
    seed_ranks: DataFrame | None = None,
    tol_units: int | None = None,
) -> tuple[DataFrame, int, bool]:
    """The one PageRank set-up and loop behind all four variants.

    `e` holds the deduplicated edges: (src, dst) splits rank uniformly
    (rank div outdeg); (src, dst, w) splits it by weight ((rank * w)
    div outw). Teleport mass goes to every node, or with `seeds` only
    to the seeds inside the node set (r0 = PR_SCALE div n_seeds on
    seeds, 0 elsewhere). `seed_ranks` warm-starts round 0; nodes
    without a seed row get r0. Without `tol_units` exactly `iters`
    rounds run; with it the loop stops early once max |rank_i -
    rank_{i-1}| <= tol_units.

    Iteration-invariant inputs are PERSISTED PRE-PARTITIONED on their
    join keys (not localCheckpoint'd: the PySpark localCheckpoint
    round-trip surfaces as UnknownPartitioning, so every iteration
    would re-shuffle the full edge list — measured 20s/run extra at 20M
    edges). InMemoryRelation keeps its child's hashpartitioning, so the
    per-iteration joins exchange only the node-count-sized rank/contrib
    side; the one unavoidable big shuffle per iteration is the
    groupBy(dst). MEMORY_AND_DISK persist spills instead of OOMing.

    Returns (rank, rounds_run, converged).
    """
    n_parts = e.sparkSession.sparkContext.defaultParallelism
    nodes = _node_set(e)
    if seeds is None:
        nodes = nodes.repartition(n_parts, "node").persist()
        n = nodes.count()
        if n == 0:
            empty = nodes.select("node", F.lit(0).cast("long").alias("rank"))
            return empty, 0, True
        r0 = PR_SCALE // n
        teleport: int | str = ((100 - DAMPING_PCT) * r0) // 100
        rank = nodes.select("node", F.lit(r0).cast("long").alias("rank"))
    else:
        seed_nodes = seeds.select(
            F.col(seeds.columns[0]).alias("node")
        ).distinct()
        n = nodes.join(seed_nodes, "node", "left_semi").count()
        if n == 0:
            # a stale/mistyped seed list should fail loudly, not as a
            # bare ZeroDivisionError three layers down
            raise ValueError(
                "pagerank_int_seeded: no seed intersects the graph's node set"
            )
        r0 = PR_SCALE // n
        is_seed = F.col("_seed").isNotNull()
        nodes = (
            nodes.join(seed_nodes.withColumn("_seed", F.lit(1)), "node", "left")
            .select(
                "node",
                F.when(is_seed, ((100 - DAMPING_PCT) * r0) // 100)
                .otherwise(0).cast("long").alias("tp"),
                F.when(is_seed, r0).otherwise(0).cast("long").alias("r0"),
            )
            .repartition(n_parts, "node")
            .persist()
        )
        teleport = "tp"
        rank = nodes.select("node", F.col("r0").alias("rank"))
    if seed_ranks is not None:
        rank = (
            nodes.join(
                seed_ranks.select("node", F.col("rank").alias("_seed")),
                "node",
                "left",
            )
            .select(
                "node",
                F.coalesce("_seed", F.lit(r0)).cast("long").alias("rank"),
            )
            .localCheckpoint()
        )
    if "w" in e.columns:
        out = F.sum("w").cast("long").alias("outw")
        contrib_expr = "(rank * w) div outw"
    else:
        out = F.count(F.lit(1)).cast("long").alias("outdeg")
        contrib_expr = "rank div outdeg"
    links = (
        e.join(e.groupBy("src").agg(out), "src")
        .repartition(n_parts, "src")
        .persist()
    )
    rounds, converged = 0, False
    while rounds < iters and not converged:
        new = _pr_iteration(
            links, rank, nodes, teleport, contrib_expr
        ).localCheckpoint()
        rounds += 1
        if tol_units is not None:
            max_delta = (
                new.join(
                    rank.select("node", F.col("rank").alias("_old")), "node"
                )
                .agg(F.max(F.abs(F.col("rank") - F.col("_old"))).alias("d"))
                .collect()[0]["d"]
            )
            converged = max_delta is not None and max_delta <= tol_units
        rank = new
    # rank is localCheckpoint-pinned (eager), so the caches can go
    nodes.unpersist()
    links.unpersist()
    return rank, rounds, converged


def _pr_iteration(
    links: DataFrame,
    rank: DataFrame,
    nodes: DataFrame,
    teleport: int | str,
    contrib_expr: str = "rank div outdeg",
) -> DataFrame:
    """One PageRank iteration, un-checkpointed (split out so the plan
    gate in tests/test_plans.py can assert its join strategy). The ONE
    iteration body of _pagerank — uniform, weighted (contrib_expr=
    '(rank * w) div outw'), and seeded (teleport names a per-node
    COLUMN on `nodes` instead of a constant).

    SHUFFLE_HASH on the rank/contrib side: the links⋈rank join would
    otherwise plan as sort-merge and re-sort the full edge list every
    iteration (measured 80s/run at 20M edges); hash-building the
    node-count-sized side and streaming the edges is the plan that
    holds at 10^12 edges too (the build side is per-partition small,
    and unlike a broadcast hint it never assumes rank fits anywhere).
    """
    contrib = (
        links.join(
            rank.select(F.col("node").alias("src"), "rank").hint(
                "shuffle_hash"
            ),
            "src",
        )
        .select(
            F.col("dst").alias("node"),
            F.expr(contrib_expr).alias("c"),
        )
        .groupBy("node")
        .agg(F.sum("c").alias("s"))
    )
    tp = F.col(teleport) if isinstance(teleport, str) else F.lit(teleport)
    return nodes.join(contrib.hint("shuffle_hash"), "node", "left").select(
        "node",
        (
            tp + F.expr(f"({DAMPING_PCT} * coalesce(s, 0L)) div 100")
        ).cast("long").alias("rank"),
    )


def pagerank_int_converged(
    edges: DataFrame,
    seed_ranks: DataFrame | None = None,
    max_iters: int = 100,
    tol_units: int = 100,
) -> tuple[DataFrame, int, bool]:
    """PageRank iterated to a tolerance-band fixpoint, with an
    optional WARM START from a previous snapshot's scores — the
    incremental crawl-drop path (r3 verdict task 8): a daily drop
    perturbs a sliver of a 10^12-edge graph, so re-running from the
    uniform vector spends extra full-graph rounds closing distance the
    previous snapshot already closed; seeding from yesterday's ranks
    saves log(uniform_error / drop_shift) / log(1/damping) rounds —
    modest on a toy graph, real at corpus scale where every round is a
    full edge shuffle (measured in BENCH/BASELINE.md §7).

    Convergence is max |rank_i - rank_{i-1}| <= tol_units (micro-units
    of PR_SCALE=1e9; the default 100 = 1e-7 relative). It is NOT
    exact-equality on purpose: the truncating integer recurrence does
    not generally have a reachable exact fixpoint — iterates enter a
    small limit cycle whose amplitude depends on the div-truncation
    pattern, and different starting vectors can land on different
    members of that band (verified empirically: exact-fixpoint
    convergence stalls forever on graphs with high-gain funnel loops).
    Different starts therefore agree to within the band, not bitwise:
    cold vs warm finals differ by O(tol_units), never more than the
    contraction lets the per-round tolerance accumulate
    (tol_units / (1 - damping) worst case; the pytest pins an
    empirical bound well inside that).

    Same recurrence, arithmetic, and per-iteration plan as
    pagerank_int (the shared _pagerank loop); the additions are the
    seed join at round 0 and one O(V) partial-agged max-|delta| probe
    per round. New nodes absent from the seed get the uniform r0; seed
    rows for departed nodes drop via the join onto the CURRENT node
    set.

    Returns (ranks, rounds_run, converged); the explicit flag exists
    because rounds_run == max_iters is AMBIGUOUS — convergence can land
    exactly on the final allowed round (caller decides whether
    converged=False is an error).
    """
    return _pagerank(
        edges.select("src", "dst").distinct(),
        max_iters,
        seed_ranks=seed_ranks,
        tol_units=tol_units,
    )


def pagerank_int_weighted(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Support-weighted PageRank in exact integer micro-units: the KG
    edge table carries observation weights, and a contribution should
    follow the evidence — rank mass splits proportionally to edge
    weight instead of uniformly.

    contribution(u->v) = (rank(u) * w(u,v)) div W(u),  W(u) = Σ_v w
    rank_i(v) = teleport + (d * Σ contributions) div 100

    Overflow bound: the largest intermediate is rank*w with rank <
    PR_SCALE (1e9), so any edge weight below 2^63 / 1e9 ≈ 9.2e9
    observations stays exact BIGINT — far beyond any real support
    count. Same exactness property as pagerank_int: integer end-to-end,
    so the unrolled-CTE twin (pagerank_weighted_oracle_sql)
    hash-matches.

    `edges` must carry (src, dst, weight); multi-edges are summed first.
    """
    e = (
        edges.groupBy("src", "dst")
        # bround before the long cast: a float weight column summing to
        # x.5 would TRUNCATE under a bare cast while the DuckDB twin's
        # CAST(SUM(weight) AS BIGINT) rounds half-even — bround matches
        # that convention and is the identity on integer weights
        .agg(F.bround(F.sum("weight")).cast("long").alias("w"))
    )
    return _pagerank(e, iters)[0]


def pagerank_int_seeded(
    edges: DataFrame, seeds: DataFrame, iters: int = 3
) -> DataFrame:
    """Personalized PageRank in exact integer micro-units: teleport
    mass is split over the SEED set only, so rank measures proximity
    to the seeds instead of global centrality — "importance relative
    to this entity set", the query a KG consumer asks about a domain
    (all seed companies, all seed people).

    rank_0(v) = PR_SCALE div n_seeds  if v is a seed, else 0
    tp(v)     = ((100 - DAMPING_PCT) * rank_0(v)) div 100
    rank_i(v) = tp(v)
              + (DAMPING_PCT * sum_{u->v} rank_{i-1}(u) div outdeg(u))
                div 100

    Same exact-BIGINT discipline as pagerank_int (shuffle-order
    independent => bit-identical cross-engine); dangling mass dropped;
    seeds outside the graph's node set are ignored (mirrored in the
    SQL twin), and a seed list missing the graph entirely raises. The
    only structural change vs pagerank_int is that the teleport is a
    per-node COLUMN (NULL-coalesced seed join) instead of a constant,
    so the per-iteration plan is identical.
    """
    return _pagerank(edges.select("src", "dst").distinct(), iters, seeds)[0]


def _pagerank_twin(
    e_sql: str, iters: int, seeds_sql: str | None = None
) -> str:
    """The one DuckDB twin of _pagerank: the same integer recurrence
    unrolled as chained CTEs over `e_sql`, a SELECT yielding the
    deduplicated (src, dst, w). Unweighted twins pass w = 1, where
    (rank * w) div outw is exactly rank div outdeg. The teleport set
    `sd` is every node, or the seeds inside the node set.

    `e` and `r0` are MATERIALIZED. DuckDB otherwise inlines `e` at each
    of its many references, and the multi-threaded plan over the
    inlined copies returned a different rank set in a few percent of
    runs on the same input (over sf0.01 and over a 9000-edge in-memory
    table alike; Spark's side was stable). Materialized once, repeated
    runs agree, and the query runs faster.
    """
    sd = (
        "SELECT node FROM nodes"
        if seeds_sql is None
        else f"SELECT DISTINCT node FROM ({seeds_sql})"
        " WHERE node IN (SELECT node FROM nodes)"
    )
    parts = [
        f"WITH e AS MATERIALIZED ({e_sql})",
        _NODES_CTE,
        f"sd AS ({sd})",
        "ns AS (SELECT COUNT(*) AS n FROM sd)",
        "ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outw"
        " FROM e GROUP BY src)",
        # a graph with no seed in it raises, like _pagerank
        "r0 AS MATERIALIZED (SELECT nodes.node,"
        " CAST(CASE WHEN ns.n = 0"
        " THEN error('no seed intersects the graph''s node set')"
        " WHEN sd.node IS NULL THEN 0"
        f" ELSE {PR_SCALE} // ns.n END AS BIGINT) AS rank,"
        f" CAST(CASE WHEN sd.node IS NULL THEN 0"
        f" ELSE ({100 - DAMPING_PCT} * ({PR_SCALE} // ns.n)) // 100"
        f" END AS BIGINT) AS tp"
        " FROM nodes CROSS JOIN ns"
        " LEFT JOIN sd ON sd.node = nodes.node)",
    ]
    prev = "r0"
    for i in range(1, iters + 1):
        parts.append(
            f"r{i} AS (SELECT nodes.node, CAST(t.tp + ({DAMPING_PCT} *"
            f" COALESCE(SUM(({prev}.rank * e.w) // ow.outw), 0))"
            " // 100 AS BIGINT) AS rank"
            " FROM nodes"
            " JOIN r0 t ON t.node = nodes.node"
            " LEFT JOIN e ON e.dst = nodes.node"
            f" LEFT JOIN {prev} ON {prev}.node = e.src"
            " LEFT JOIN ow ON ow.src = e.src"
            " GROUP BY nodes.node, t.tp)"
        )
        prev = f"r{i}"
    return ",\n".join(parts) + f"\nSELECT node, rank FROM {prev}"


def pagerank_oracle_sql(edges_sql: str, iters: int = 3) -> str:
    """DuckDB twin of pagerank_int over `edges_sql` (a SELECT yielding
    src, dst)."""
    return _pagerank_twin(
        "SELECT DISTINCT src, dst, CAST(1 AS BIGINT) AS w"
        f" FROM ({edges_sql})",
        iters,
    )


def pagerank_weighted_oracle_sql(edges_sql: str, iters: int = 3) -> str:
    """DuckDB twin of pagerank_int_weighted over `edges_sql`
    (a SELECT yielding src, dst, weight)."""
    return _pagerank_twin(
        "SELECT src, dst, CAST(SUM(weight) AS BIGINT) AS w"
        f" FROM ({edges_sql}) GROUP BY src, dst",
        iters,
    )


def pagerank_seeded_oracle_sql(
    edges_sql: str, seeds_sql: str, iters: int = 3
) -> str:
    """DuckDB twin of pagerank_int_seeded: per-node teleport from the
    seed set inside the node set."""
    return _pagerank_twin(
        "SELECT DISTINCT src, dst, CAST(1 AS BIGINT) AS w"
        f" FROM ({edges_sql})",
        iters,
        seeds_sql,
    )


def bfs_distances(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 3
) -> DataFrame:
    """Multi-source BFS over the UNDIRECTED expansion of (src, dst), up
    to max_hops. `seeds` is a one-column DataFrame (node). Returns
    (node, dist) for every reached node, dist in [0, max_hops]: the
    shared _bfs loop keyed by node alone.
    """
    return _bfs(
        edges, seeds.select(F.col(seeds.columns[0]).alias("node")), max_hops
    )


def bfs_per_seed(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 3
) -> DataFrame:
    """Per-seed BFS over the undirected expansion: (seed, node, dist)
    for every node reached from each seed within max_hops — the
    distance MATRIX restricted to a seed sample, where bfs_distances
    collapses to the min over the seed set.

    The shared _bfs loop keyed (seed, node), so memory is |seeds| x
    reachable — the operator is built for a SAMPLE of seeds (landmark
    methods), not all-pairs.
    """
    s = F.col(seeds.columns[0])
    return _bfs(edges, seeds.select(s.alias("seed"), s.alias("node")), max_hops)


def _bfs(edges: DataFrame, start: DataFrame, max_hops: int) -> DataFrame:
    """The one BFS frontier loop. `start` holds the hop-0 keys, its
    LAST column named node; any earlier key column (seed) rides along
    each hop unchanged. Returns start's columns + dist for every key
    reached within max_hops.

    Hop i joins the hop-(i-1) frontier against the symmetric edge list,
    anti-joins out already-visited keys, and localCheckpoints the new
    frontier — each hop is one shuffle join on the frontier, never a
    pass over the full visited set. The hop-invariant edge list is
    persisted pre-partitioned on the probe key (_symmetric), same
    rationale as _pagerank: only the frontier (the small, changing
    side) moves per hop.
    """
    keys = start.columns
    sym = _symmetric(edges, "src")
    visited = (
        start.withColumn("dist", F.lit(0).cast("long"))
        .distinct()
        .localCheckpoint()
    )
    frontier = visited.select(*keys)
    for hop in range(1, max_hops + 1):
        nxt = (
            sym.join(
                frontier.withColumnRenamed("node", "src").hint(
                    "shuffle_hash"
                ),
                "src",
            )
            .select(*keys[:-1], F.col("dst").alias("node"))
            .distinct()
            .join(visited.select(*keys), keys, "left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(
            nxt.withColumn("dist", F.lit(hop).cast("long"))
        ).localCheckpoint()
        frontier = nxt
    sym.unpersist()
    return visited


def harmonic_centrality(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 3
) -> DataFrame:
    """Sampled harmonic centrality: for each reached node, the sum of
    1e6 div dist over the seed sample (self-distances excluded) — the
    landmark estimator of SUM(1/d(u, v)); integer division keeps the
    score engine-exact. -> (node, n_seeds_reaching, harmonic_e6).
    """
    d = bfs_per_seed(edges, seeds, max_hops).filter(F.col("dist") > 0)
    return d.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_seeds_reaching"),
        F.sum(F.expr("1000000 div dist")).cast("long").alias("harmonic_e6"),
    )


def _bfs_twin(
    edges_sql: str, seeds_sql: str, max_hops: int, seed: str
) -> str:
    """The one DuckDB twin of _bfs: hop CTEs h0..h{max_hops} unrolled
    over the symmetric edges, ending in `reached` (seed, node, dist),
    dist = the first hop at which (seed, node) appears. `seed` is the
    hop-0 expression of the seed key: `node` keeps one BFS per seed,
    a constant merges all seeds into one multi-source BFS. Callers
    append the final SELECT."""
    parts = [
        f"WITH e0 AS (SELECT src, dst FROM ({edges_sql}))",
        "sym AS (SELECT DISTINCT src, dst FROM"
        " (SELECT src, dst FROM e0 UNION ALL"
        "  SELECT dst AS src, src AS dst FROM e0))",
        f"h0 AS (SELECT DISTINCT {seed} AS seed, node,"
        f" CAST(0 AS BIGINT) AS dist FROM ({seeds_sql}))",
    ]
    for i in range(1, max_hops + 1):
        parts.append(
            f"h{i} AS (SELECT DISTINCT h{i - 1}.seed, sym.dst AS node,"
            f" CAST({i} AS BIGINT) AS dist"
            f" FROM sym JOIN h{i - 1} ON sym.src = h{i - 1}.node)"
        )
    hops = " UNION ALL ".join(
        f"SELECT seed, node, dist FROM h{i}" for i in range(max_hops + 1)
    )
    parts.append(
        f"reached AS (SELECT seed, node, MIN(dist) AS dist FROM ({hops})"
        " GROUP BY seed, node)"
    )
    return ",\n".join(parts)


def bfs_oracle_sql(
    edges_sql: str, seeds_sql: str, max_hops: int = 3
) -> str:
    """DuckDB twin of bfs_distances."""
    return (
        _bfs_twin(edges_sql, seeds_sql, max_hops, seed="0")
        + "\nSELECT node, dist FROM reached"
    )


def harmonic_oracle_sql(
    edges_sql: str, seeds_sql: str, max_hops: int = 3
) -> str:
    """DuckDB twin of harmonic_centrality."""
    return (
        _bfs_twin(edges_sql, seeds_sql, max_hops, seed="node")
        + "\nSELECT node, CAST(COUNT(*) AS BIGINT) AS n_seeds_reaching,"
        " CAST(SUM(1000000 // dist) AS BIGINT) AS harmonic_e6"
        " FROM reached WHERE dist > 0 GROUP BY node"
    )


def kcore(edges: DataFrame, k: int, max_rounds: int = 20) -> DataFrame:
    """k-core of the undirected simple graph: the maximal subgraph in
    which every node has degree >= k. Returns (node, deg) where deg is
    the node's degree WITHIN the core.

    Iterative peeling: each round computes degrees over the surviving
    edge set and drops nodes below k; edges touching a dropped node die
    with it. Converges when the survivor count stops changing (the set
    shrinks monotonically, so equal counts mean equal sets); bounded by
    `max_rounds` as a runaway guard — the peel depth of real web/KG
    graphs is small (it is at most the degeneracy ordering depth), and
    callers that need a hard bound pass the same constant to
    kcore_oracle_sql so both engines unroll identically.

    Scale shape — DELTA peeling with degree maintenance, the standard
    distributed k-core: the full edge set is shuffled exactly ONCE (the
    initial degree agg); each later round touches only the edges
    incident to that round's newly dropped nodes. Per round: the drop
    set (node-sized, usually tiny) shuffle-hash joins the PERSISTED
    pre-partitioned symmetric edge list — persist (not checkpoint)
    keeps the src hash-partitioning visible to the planner, so the edge
    side is scanned in place, never re-exchanged (the pagerank lesson,
    BENCH/BASELINE.md §3e) — and only the matched incident edges (anti
    the already-dropped set) flow into a loss count that decrements the
    maintained degree table. O(V) shuffle per round, O(E) total across
    all rounds; the recompute-per-round formulation this replaces paid
    O(E) shuffle EVERY round plus two blocking jobs (sf0.1 bench:
    19.9s -> see BENCH). Degree maintenance is exact, so the per-round
    survivor progression — and therefore the kcore_oracle_sql twin,
    including a pre-convergence `max_rounds` cap (degrees over the set
    peeled max_rounds-1 times) — is bit-identical.
    """
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    lohi = undirect(edges)
    # dedup=False: the lo<hi frame and its swap are disjoint already
    sym = _symmetric(
        lohi.select(F.col("lo").alias("src"), F.col("hi").alias("dst")),
        "src",
        dedup=False,
    )
    deg = (
        sym.groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .select(F.col("src").alias("node"), "deg")
        .localCheckpoint()
    )
    dropped = None
    for _ in range(max_rounds - 1):
        new_dropped = (
            deg.filter(F.col("deg") < k).select("node").localCheckpoint()
        )
        if new_dropped.count() == 0:
            break
        all_dropped = (
            new_dropped
            if dropped is None
            else dropped.unionByName(new_dropped).localCheckpoint()
        )
        lost = (
            sym.join(
                new_dropped.select(F.col("node").alias("src")).hint(
                    "shuffle_hash"
                ),
                "src",
                "left_semi",
            )
            .join(
                all_dropped.select(F.col("node").alias("dst")).hint(
                    "shuffle_hash"
                ),
                "dst",
                "left_anti",
            )
            .groupBy("dst")
            .agg(F.count(F.lit(1)).cast("long").alias("lost"))
            .select(F.col("dst").alias("node"), "lost")
        )
        deg = (
            deg.filter(F.col("deg") >= k)
            .join(lost, "node", "left")
            .withColumn(
                "deg",
                F.col("deg") - F.coalesce("lost", F.lit(0)).cast("long"),
            )
            .drop("lost")
            .localCheckpoint()
        )
        dropped = all_dropped
    out = deg.filter(F.col("deg") >= k).localCheckpoint()
    sym.unpersist()
    return out


def kcore_oracle_sql(edges_sql: str, k: int, rounds: int) -> str:
    """DuckDB twin of kcore with the peeling unrolled `rounds` times.
    Once the peel has converged every further round is a no-op, so any
    rounds >= the true peel depth reproduces the fixpoint bit-for-bit
    (pytest asserts convergence within `rounds` on the contract data).

    The per-round CTEs are MATERIALIZED: each survivor set s_i is
    referenced three times by round i+1, and DuckDB inlines plain CTEs,
    so without materialization the plan tree grows 3^rounds and the
    optimizer never returns."""
    parts = [
        f"WITH e0x AS (SELECT src, dst FROM ({edges_sql})"
        " WHERE src <> dst)",
        "s0 AS (SELECT DISTINCT lo AS src, hi AS dst FROM"
        " (SELECT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi"
        "  FROM e0x)"
        " UNION ALL"
        " SELECT DISTINCT hi AS src, lo AS dst FROM"
        " (SELECT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi"
        "  FROM e0x))",
    ]
    prev = "s0"
    for i in range(1, rounds + 1):
        parts.append(
            f"a{i} AS MATERIALIZED (SELECT src AS node,"
            f" CAST(COUNT(*) AS BIGINT) AS deg"
            f" FROM {prev} GROUP BY src HAVING COUNT(*) >= {k})"
        )
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT e.src, e.dst FROM {prev} e"
            f" JOIN a{i} x ON e.src = x.node"
            f" JOIN a{i} y ON e.dst = y.node)"
        )
        prev = f"s{i}"
    return ",\n".join(parts) + f"\nSELECT node, deg FROM a{rounds}"


def resource_allocation(
    edges: DataFrame, max_fanout: int | None = None
) -> DataFrame:
    """Resource-allocation link-prediction index (Zhou, Lü & Zhang,
    Eur. Phys. J. B 2009 — public) for pairs of src nodes sharing dst
    neighbors: ra_e9(a, b) = sum over shared z of (1e9 div fanout(z)),
    with n_shared alongside. Exact BIGINT => hard cross-engine oracle.

    Same wedge shape as co_neighbors (explicit repartition on dst so
    AQE cannot serialize the quadratic stage), but each wedge carries
    weight PR_SCALE div fanout(dst) instead of 1 — a hub shared by
    everyone contributes ~0 by construction, which is exactly the RA
    intuition and makes `max_fanout` capping nearly lossless here:
    the score a cap drops is bounded by pairs * PR_SCALE/cap."""
    e = edges.select("src", "dst").distinct()
    fan = e.groupBy("dst").agg(
        F.count(F.lit(1)).cast("long").alias("fan")
    )
    if max_fanout is not None:
        fan = fan.filter(F.col("fan") <= max_fanout)
    n_parts = edges.sparkSession.sparkContext.defaultParallelism
    ew = e.join(fan, "dst").repartition(n_parts, "dst")
    a = ew.select(F.col("src").alias("a"), "dst", "fan")
    b = ew.select(F.col("src").alias("b"), "dst")
    return (
        a.join(b, "dst")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", F.expr(f"{PR_SCALE} div fan").alias("w"))
        .groupBy("a", "b")
        .agg(
            F.sum("w").cast("long").alias("ra_e9"),
            F.count(F.lit(1)).cast("long").alias("n_shared"),
        )
    )


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan,
    Albert & Kumara, Phys. Rev. E 2007 — public), made DETERMINISTIC:
    every node starts as its own label; each round every node adopts
    the label most frequent among its neighbors, ties broken by the
    SMALLEST label. Classic async LPA is order-dependent (its results
    vary run to run); the synchronous fixed-round variant with a total
    tie-break is a pure function of (graph, rounds), which is what lets
    a cross-engine oracle hash-match it. Returns (node, label) after
    exactly `rounds` rounds — communities are label-equality classes.
    Node ids must be integral (labels are compared numerically).

    Synchronous LPA can oscillate on bipartite-ish structures instead
    of converging; fixed rounds make that a defined answer, not a bug
    (both engines run the SAME R). Per round: one shuffle_hash join of
    the node-count-sized label table against the pre-partitioned
    symmetric edge list + two aggs (vote count, then argmax via struct
    max — max count, then min label via negation). Lineage cut per
    round; the edge list never re-shuffles.
    """
    lohi = undirect(edges)
    sym = _symmetric(
        lohi.select(F.col("lo").alias("src"), F.col("hi").alias("dst")),
        "dst",
        dedup=False,
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint()
    )
    for _ in range(rounds):
        votes = (
            sym.join(
                labels.select(
                    F.col("node").alias("dst"), "lbl"
                ).hint("shuffle_hash"),
                "dst",
            )
            .groupBy("src", "lbl")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        labels = (
            votes.groupBy("src")
            .agg(
                F.max(
                    F.struct(
                        F.col("cnt").alias("c"),
                        (-F.col("lbl")).alias("nl"),
                    )
                ).alias("m")
            )
            .select(
                F.col("src").alias("node"),
                (-F.col("m.nl")).cast("long").alias("lbl"),
            )
            .localCheckpoint()
        )
    sym.unpersist()
    return labels


def label_propagation_oracle_sql(edges_sql: str, rounds: int = 4) -> str:
    """DuckDB twin of label_propagation: the same synchronous rounds
    unrolled, argmax spelled as ROW_NUMBER over (cnt DESC, lbl ASC).
    MATERIALIZED per round (each round is referenced by the next; the
    vote CTE references the label CTE twice via the final projection,
    and materializing keeps the tree linear regardless)."""
    parts = [
        f"WITH e0x AS (SELECT src, dst FROM ({edges_sql})"
        " WHERE src <> dst)",
        "symx AS MATERIALIZED (SELECT DISTINCT lo AS src, hi AS dst FROM"
        " (SELECT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi"
        "  FROM e0x)"
        " UNION ALL"
        " SELECT DISTINCT hi AS src, lo AS dst FROM"
        " (SELECT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi"
        "  FROM e0x))",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node,"
        " CAST(src AS BIGINT) AS lbl FROM symx)",
    ]
    prev = "l0"
    for i in range(1, rounds + 1):
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT s.src AS node, l.lbl AS lbl,"
            " CAST(COUNT(*) AS BIGINT) AS cnt"
            f" FROM symx s JOIN {prev} l ON l.node = s.dst"
            " GROUP BY s.src, l.lbl)"
        )
        parts.append(
            f"l{i} AS MATERIALIZED (SELECT node, lbl FROM ("
            " SELECT node, lbl, ROW_NUMBER() OVER ("
            " PARTITION BY node ORDER BY cnt DESC, lbl ASC) AS rn"
            f" FROM c{i}) WHERE rn = 1)"
        )
        prev = f"l{i}"
    return ",\n".join(parts) + f"\nSELECT node, lbl FROM {prev}"


def edge_support(und: DataFrame) -> DataFrame:
    """-> (lo, hi, support): triangles through each canonical edge.

    Each triangle from _closed_triangles credits its three edges; one
    groupBy on the edge key (partial-agged) does the counting. Edges in
    zero triangles are absent (join back with a left join + coalesce).
    """
    tri = _closed_triangles(und)
    sides = (
        tri.select(
            F.least("u", "lo").alias("lo"), F.greatest("u", "lo").alias("hi")
        )
        .unionByName(
            tri.select(
                F.least("u", "hi").alias("lo"),
                F.greatest("u", "hi").alias("hi"),
            )
        )
        .unionByName(tri.select("lo", "hi"))
    )
    return sides.groupBy("lo", "hi").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )


def ktruss(edges: DataFrame, k: int, max_rounds: int = 10) -> DataFrame:
    """k-truss decomposition: the maximal subgraph in which every edge
    sits in >= k-2 triangles (within the subgraph). Edge-level cohesion,
    one notch stricter than kcore's node degrees — the classic
    community-backbone extractor (Cohen 2008, public).

    -> (lo, hi, support) for surviving edges, where support is the
    triangle count computed at the final round's entry (the value both
    engines agree on under the shared `max_rounds` cap, exactly like
    kcore: converged rounds are no-ops, so any cap >= the true peel
    depth returns the fixpoint).

    Scale shape: each round is one support recomputation (degree-
    oriented triangle enumeration, O(Σ d_min²) — the same bound as
    triangle_count) plus an edge filter. Support recomputation per
    round is the honest distributed baseline; a delta formulation
    (decrement supports of edges in triangles containing a dropped
    edge) saves work only when drops are sparse and needs a triangle
    index held across rounds — out of scope until a bench shows the
    recompute dominating. Lineage is cut per round; the peel usually
    converges in a handful of rounds because dropping an edge only
    reduces support of edges in ITS triangles.
    """
    if k < 3:
        raise ValueError("ktruss requires k >= 3 (k-2 >= 1 triangles)")
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    n_parts = edges.sparkSession.sparkContext.defaultParallelism
    cur = undirect(edges).repartition(n_parts, "lo").localCheckpoint()
    n_cur = cur.count()
    kept = None
    for _ in range(max_rounds):
        sup = edge_support(cur)
        kept = (
            cur.join(sup, ["lo", "hi"], "left")
            .withColumn(
                "support",
                F.coalesce("support", F.lit(0)).cast("long"),
            )
            .filter(F.col("support") >= k - 2)
            .localCheckpoint()
        )
        n_kept = kept.count()
        if n_kept == n_cur or n_kept == 0:
            break
        cur = kept.select("lo", "hi").localCheckpoint()
        n_cur = n_kept
    return kept


def ktruss_oracle_sql(edges_sql: str, k: int, rounds: int) -> str:
    """DuckDB twin of ktruss with the peel unrolled `rounds` times.
    Per round: enumerate triangles over the surviving canonical edges
    (a<b<c three-way join), credit each edge, keep support >= k-2.
    CTEs are MATERIALIZED for the same 3^rounds-inlining reason as
    kcore_oracle_sql. Output = round `rounds`'s surviving edges with
    the support computed at that round's entry (ktruss's return value
    under the shared cap)."""
    parts = [
        f"WITH eraw AS (SELECT src, dst FROM ({edges_sql})"
        " WHERE src <> dst)",
        "t0 AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS lo,"
        " GREATEST(src, dst) AS hi FROM eraw)",
    ]
    prev = "t0"
    for i in range(1, rounds + 1):
        parts.append(
            f"tr{i} AS MATERIALIZED ("
            f" SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c"
            f" FROM {prev} e1"
            f" JOIN {prev} e2 ON e2.lo = e1.lo AND e2.hi > e1.hi"
            f" JOIN {prev} e3 ON e3.lo = e1.hi AND e3.hi = e2.hi)"
        )
        parts.append(
            f"sp{i} AS MATERIALIZED (SELECT lo, hi,"
            f" CAST(COUNT(*) AS BIGINT) AS support FROM ("
            f" SELECT a AS lo, b AS hi FROM tr{i}"
            f" UNION ALL SELECT a AS lo, c AS hi FROM tr{i}"
            f" UNION ALL SELECT b AS lo, c AS hi FROM tr{i})"
            f" GROUP BY lo, hi)"
        )
        parts.append(
            f"t{i} AS MATERIALIZED (SELECT e.lo, e.hi, s.support"
            f" FROM {prev} e JOIN sp{i} s"
            f" ON e.lo = s.lo AND e.hi = s.hi"
            f" WHERE s.support >= {k - 2})"
        )
        prev = f"t{i}"
    return ",\n".join(parts) + f"\nSELECT lo, hi, support FROM t{rounds}"


def co_occurrence_pmi(
    edges: DataFrame, max_fanout: int | None = None
) -> DataFrame:
    """Pointwise mutual information between src nodes of a bipartite
    (src, dst) edge set: PMI(a, b) = ln(n_dst * c_ab / (c_a * c_b)),
    the standard association score separating "co-occur because both
    are common" from genuine affinity — the edge-weighting a KG uses
    before thresholding co-occurrence edges into relations.

    -> (a, b, n_shared, n_a, n_b, pmi) with a < b and pmi rounded to
    6dp (matching doc_frequency's idf convention: the only float is a
    single ln on a ratio of exact integers, so both engines agree at
    6dp). Scale shape: the quadratic stage is co_neighbors (fanout cap
    available); per-node occurrence counts are a node-sized dimension
    joined after aggregation; n_dst rides in as a broadcast scalar.
    """
    e = edges.select("src", "dst").distinct()
    pairs = _co_neighbors_distinct(e, max_fanout)
    occ = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("occ"))
    n = e.select("dst").distinct().agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    return (
        pairs.join(
            occ.select(F.col("src").alias("a"), F.col("occ").alias("n_a")),
            "a",
        )
        .join(
            occ.select(F.col("src").alias("b"), F.col("occ").alias("n_b")),
            "b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "a",
            "b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.log(
                    F.col("_n")
                    * F.col("n_shared")
                    / (F.col("n_a") * F.col("n_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def predicate_implications(
    triples: DataFrame, min_support: int = 1
) -> DataFrame:
    """Rule mining, 1-atom form (the AMIE family's base case, public):
    for every ordered predicate pair (p, r), how often does p(x, y)
    imply r(x, y)? -> (p, r, n_p, support, confidence_e6) with
    support = |pairs asserting both|, confidence = support / |p pairs|
    as an exact integer fraction. High-confidence rules expose
    redundant or hierarchically-related predicates — schema discovery
    over the emitted KG.

    Scale shape: distinct (subj, pred, obj) once; the implication join
    keys on (subj, obj) — pair fanout equals the number of predicates
    per entity pair (ontology-bounded, typically < 10), so the join
    output is |triples| x avg-preds-per-pair, never quadratic in
    entities. Two partial-agged aggregations; predicate-pair-sized
    output.
    """
    t = triples.select("subj", "pred", "obj").distinct()
    n_p = t.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_p")
    )
    joint = (
        t.join(
            t.select(
                "subj", F.col("pred").alias("r"), "obj"
            ),
            ["subj", "obj"],
        )
        .filter(F.col("pred") != F.col("r"))
        .groupBy(F.col("pred").alias("p"), "r")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    return (
        joint.join(n_p.select(F.col("pred").alias("p"), "n_p"), "p")
        .select(
            "p",
            "r",
            "n_p",
            "support",
            F.expr("1000000 * support DIV n_p").cast("long").alias(
                "confidence_e6"
            ),
        )
    )


def transitive_closure(edges: DataFrame, max_depth: int = 16) -> DataFrame:
    """(src, dst) DAG edges -> (src, dst, dist): every pair connected by
    a directed path of length <= max_depth, dist = length of the
    SHORTEST such path. The KG use is taxonomy/ancestor materialization
    (is-a / part-of hierarchies): downstream type inference wants "all
    ancestors of X" as a table, not a per-query traversal.

    Path DOUBLING on the min-plus semiring: round t holds the exact
    shortest distance for every pair at distance <= 2^t; each round
    self-joins the closure-so-far (a.dst = b.src), unions the previous
    set, and min-aggs per pair. O(log2 max_depth) shuffle rounds rather
    than max_depth frontier rounds — for the deep-hierarchy case (a
    taxonomy 1000 levels deep costs 10 rounds, not 1000). Converged
    when a round adds no pair: pairs always FIRST appear with their
    exact shortest distance (both halves of the split are exact by
    induction), so count equality is a true fixpoint test.

    Scale shape: per round one self-join shuffle on the compose key
    plus one (src, dst) min-agg; lineage cut per round. Output is
    O(V * depth) for trees/forests (the taxonomy case this is built
    for); for dense DAGs the closure itself is the quadratic object —
    max_depth is the honest cap and callers pass the same constant to
    closure_oracle_sql so both engines cut identically. Cycles are the
    caller's contract (a cycle inside would stabilize at its shortest
    distances but the "DAG depth" reading of max_depth no longer
    applies).
    """
    if max_depth < 1:
        raise ValueError("max_depth must be >= 1")
    n_parts = edges.sparkSession.sparkContext.defaultParallelism
    clo = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .withColumn("dist", F.lit(1).cast("long"))
        .repartition(n_parts, "src")
        .localCheckpoint()
    )
    n = clo.count()
    depth = 1
    while depth < max_depth:
        a = clo.select(
            F.col("src"), F.col("dst").alias("mid"), F.col("dist").alias("da")
        )
        b = clo.select(
            F.col("src").alias("mid"), F.col("dst"), F.col("dist").alias("db")
        )
        composed = a.join(b, "mid").select(
            "src", "dst", (F.col("da") + F.col("db")).alias("dist")
        ).filter(F.col("dist") <= max_depth)
        clo = (
            clo.unionByName(composed)
            .groupBy("src", "dst")
            .agg(F.min("dist").alias("dist"))
            .filter(F.col("src") != F.col("dst"))
            .repartition(n_parts, "src")
            .localCheckpoint()
        )
        n_next = clo.count()
        if n_next == n:
            break
        n = n_next
        depth *= 2
    return clo


def closure_oracle_sql(edges_sql: str, max_depth: int = 16) -> str:
    """DuckDB twin of transitive_closure: recursive CTE extending one
    edge per step, capped at the same max_depth, min-dist per pair.
    Step-wise extension enumerates exactly the paths of length <=
    max_depth, so the capped sets agree with the doubling formulation
    (which also only emits dist <= max_depth)."""
    return f"""
WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ({edges_sql})
                     WHERE src <> dst),
r(src, dst, dist) AS (
  SELECT src, dst, 1 AS dist FROM e
  UNION
  SELECT r.src, e.dst, r.dist + 1 FROM r JOIN e ON r.dst = e.src
  WHERE r.dist < {max_depth}
)
SELECT src, dst, CAST(MIN(dist) AS BIGINT) AS dist FROM r
WHERE src <> dst GROUP BY src, dst
"""


def _scc_minlabel(
    edges: DataFrame, nodes: DataFrame, max_hops: int
) -> DataFrame:
    """Min-label propagation along the DIRECTION of `edges` to the true
    fixpoint: returns (node, lab) where lab = min id over {node} union
    every node with a directed path TO node. Each hop is one
    shuffle-hash join of the node-sized label table against the
    persisted pre-partitioned edge list (only labels move — the
    pagerank/bfs lesson) plus one min-agg; convergence is detected by
    the (count, hash-sum) signature of the label table (labels only
    ever decrease, so a stable signature is a true fixpoint). Raises
    if max_hops rounds pass without converging rather than returning a
    silently-unconverged labeling — the SCC peel above it needs EXACT
    ancestor minima."""
    lab = nodes.select("node", F.col("node").alias("lab")).localCheckpoint()
    sig = None
    for _ in range(max_hops):
        pushed = (
            edges.join(
                lab.withColumnRenamed("node", "src").hint("shuffle_hash"),
                "src",
            )
            .select(F.col("dst").alias("node"), "lab")
        )
        lab = (
            lab.unionByName(pushed)
            .groupBy("node")
            .agg(F.min("lab").alias("lab"))
            .localCheckpoint()
        )
        nxt = lab.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(node, lab))").alias("h"),
        ).collect()[0]
        nxt = (nxt["n"], nxt["h"])
        if nxt == sig:
            return lab
        sig = nxt
    raise RuntimeError(
        f"scc: label propagation did not converge in {max_hops} hops"
    )


def scc(
    edges: DataFrame, max_rounds: int = 10, max_hops: int = 64
) -> DataFrame:
    """Strongly connected components of the DIRECTED graph (src, dst):
    (node, scc_id) for every node incident to an edge, scc_id = the
    minimum node id in the component. Mutual-reachability semantics —
    the directed sibling of components.connected_components, which this
    deliberately does NOT reuse: direction is the whole question (a
    purchase edge u->i plus a view edge i->u is a cycle; either alone
    is not).

    Algorithm (label-peeling FW-BW, the Pregel-standard formulation of
    Orzan's coloring): per round, F(v) = min id over v's ancestor
    closure and B(v) = min id over its descendant closure, each by
    min-label propagation to fixpoint; F(v) = B(v) = c certifies
    c -> v -> c, i.e. v is in SCC(c) — and c, being an ancestor AND
    descendant minimum, is the min id IN that SCC. Settled nodes and
    their edges leave the graph; unsettled nodes (their ancestor min
    differed from their descendant min — both outside their SCC) retry
    on the shrunken graph. Each round settles at least the SCC of the
    smallest surviving id (it is its own ancestor and descendant
    minimum), so the peel terminates; real web/KG graphs settle almost
    everything in round one because most SCC-DAG chains are short.

    Scale shape: state is two node-sized label tables; the edge set is
    shuffled once per round per direction into a persisted
    hash-partitioned list that every propagation hop probes in place.
    No step materializes reachability PAIRS — the closure object the
    DuckDB oracle builds (oracle-side only) would be quadratic at
    cluster scale; labels keep it O(V) here.
    """
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    n_parts = edges.sparkSession.sparkContext.defaultParallelism
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = _node_set(e).localCheckpoint()
    settled = nodes.limit(0).select("node", F.col("node").alias("scc_id"))
    for _ in range(max_rounds):
        if nodes.isEmpty():
            return settled
        fwd = e.repartition(n_parts, "src").persist()
        bwd = (
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            .repartition(n_parts, "src")
            .persist()
        )
        f_lab = _scc_minlabel(fwd, nodes, max_hops)
        b_lab = _scc_minlabel(bwd, nodes, max_hops)
        roots = (
            f_lab.join(b_lab.withColumnRenamed("lab", "blab"), "node")
            .filter(F.col("lab") == F.col("blab"))
            .select("node", F.col("lab").alias("scc_id"))
        )
        settled = settled.unionByName(roots).localCheckpoint()
        nodes = nodes.join(
            settled.select("node"), "node", "left_anti"
        ).localCheckpoint()
        e = (
            e.join(
                nodes.withColumnRenamed("node", "src"), "src", "left_semi"
            )
            .join(nodes.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint()
        )
        fwd.unpersist()
        bwd.unpersist()
    if not nodes.isEmpty():
        raise RuntimeError(
            f"scc: peel did not settle every node in {max_rounds} rounds"
        )
    return settled


def scc_oracle_sql(edges_sql: str) -> str:
    """DuckDB twin of scc via the definition itself: the recursive
    reachability closure, mutual pairs, min partner per node. The
    closure is quadratic in SCC size — fine for the oracle's sf0.01
    world, and exactly the object the Spark side avoids building."""
    return f"""
WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ({edges_sql})
                     WHERE src <> dst),
reach(a, b) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src
),
{_NODES_CTE},
mutual AS (
  SELECT r1.a AS node, r1.b AS partner
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
)
SELECT n.node,
       LEAST(n.node, COALESCE(MIN(m.partner), n.node)) AS scc_id
FROM nodes n LEFT JOIN mutual m ON m.node = n.node
GROUP BY n.node
"""


def sssp_hops(
    edges: DataFrame, seeds: DataFrame, hops: int = 8
) -> DataFrame:
    """Weighted single-source(-set) shortest paths, hop-bounded: (node,
    dist) = the minimum total weight over directed paths from any seed
    using at most `hops` edges. Weights are NON-NEGATIVE BIGINTs (the
    caller's contract), so arithmetic is exact and both engines agree
    bit-for-bit at any shared hop cap — pass the same `hops` to
    sssp_oracle_sql, the kcore/closure cap convention.

    Bellman-Ford with the frontier optimization: round r relays only
    nodes whose distance improved in round r-1, which preserves the
    hop-bounded semantics exactly (every value in the table after
    round r is a <= r-hop path cost, and every <= r-hop optimum has
    arrived by round r) while touching only the changing part of the
    graph. The weighted generalization of bfs_distances: same
    persisted pre-partitioned edge list probed in place by a
    frontier-sized shuffle-hash join each round, state never larger
    than the reached node set.
    """
    if hops < 1:
        raise ValueError("hops must be >= 1")
    n_parts = edges.sparkSession.sparkContext.defaultParallelism
    e = (
        # bround first: DuckDB's CAST(w AS BIGINT) rounds half-even
        # where Spark's bare cast truncates — identity on int weights
        edges.select(
            "src", "dst", F.bround(F.col("w")).cast("long").alias("w")
        )
        .repartition(n_parts, "src")
        .persist()
    )
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    frontier = dist
    for _ in range(hops):
        if frontier.isEmpty():
            break
        cand = (
            e.join(
                frontier.withColumnRenamed("node", "src").hint(
                    "shuffle_hash"
                ),
                "src",
            )
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("d"),
            )
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
        upd = (
            cand.join(
                dist.withColumnRenamed("dist", "old"), "node", "left"
            )
            .filter(F.col("old").isNull() | (F.col("d") < F.col("old")))
            .select("node", F.col("d").alias("dist"))
            .localCheckpoint()
        )
        dist = (
            dist.join(upd, "node", "left_anti")
            .unionByName(upd)
            .localCheckpoint()
        )
        frontier = upd
    e.unpersist()
    return dist


def sssp_oracle_sql(
    edges_sql: str, seeds_sql: str, hops: int = 8
) -> str:
    """DuckDB twin of sssp_hops: recursive CTE extending one edge per
    step, capped at the same hop count, min cost per node. Enumerates
    paths (the object the Spark side never materializes); the UNION
    dedup on (node, dist, hop) keeps it bounded for oracle-scale
    graphs."""
    return f"""
WITH RECURSIVE se AS (SELECT src, dst, CAST(w AS BIGINT) AS w
                      FROM ({edges_sql})),
sn AS (SELECT DISTINCT node FROM ({seeds_sql})),
r(node, dist, hop) AS (
  SELECT node, CAST(0 AS BIGINT) AS dist, 0 AS hop FROM sn
  UNION
  SELECT se.dst, r.dist + se.w, r.hop + 1
  FROM r JOIN se ON se.src = r.node
  WHERE r.hop < {hops}
)
SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM r GROUP BY node
"""


# HITS hub/authority scale. 1e6 (not PR_SCALE's 1e9) because the
# normalization step multiplies a raw sum (bounded by max-in-degree *
# SCALE) by SCALE again before the integer divide: exactness needs
# max_degree * SCALE^2 < 2^63, i.e. degree <= ~9.2e6 at 1e6. Beyond
# that (planet-scale hubs), swap the multiply-divide to DECIMAL(38,0)
# — the recurrence itself is unchanged.
HITS_SCALE = 1_000_000


def hits_int(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) in exact integer units —
    the hub/authority complement to pagerank_int for web-shaped graphs
    (crawl frontiers, user→item interactions): authorities are pointed
    to by good hubs, hubs point to good authorities.

        h_0(v)     = SCALE
        raw_a_i(v) = sum_{u->v} h_{i-1}(u)
        a_i(v)     = (SCALE * raw_a_i(v)) div max_v raw_a_i   (max-norm)
        raw_h_i(u) = sum_{u->v} a_i(v)
        h_i(u)     = (SCALE * raw_h_i(u)) div max_u raw_h_i

    Max-normalization (instead of the textbook L2) keeps every step in
    BIGINT: the result is independent of shuffle/partition order and
    bit-identical across engines, so it gets a hard cross-engine oracle
    (hits_oracle_sql) — float HITS could not. Power iteration is
    normalization-invariant in the limit, and at a FIXED iteration
    count both engines unroll the same recurrence, so the choice is
    free as long as both sides agree (they share this definition).

    Scale shape: per iteration exactly two keyed shuffles (groupBy dst
    for authorities, groupBy src for hubs) over the edge list — both
    against edge copies persisted PRE-PARTITIONED on their join key so
    only the node-sized score side moves — plus two scalar max
    aggregates broadcast back. Lineage is cut per iteration; the plan
    depth is O(1) in iters. Dangling behavior: a node with no in-edges
    has authority 0, no out-edges hub 0 — both stay in the output via
    the left joins (mirrored in the oracle).

    Returns (node, hub, authority), both in SCALE units (long).
    """
    e = edges.select("src", "dst").distinct()
    spark = edges.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    nodes = _node_set(e).repartition(n_parts, "node").persist()
    if nodes.isEmpty():
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("hub"),
            F.lit(0).cast("long").alias("authority"),
        )
    e_by_src = e.repartition(n_parts, "src").persist()
    e_by_dst = e.repartition(n_parts, "dst").persist()
    h = nodes.select(
        "node", F.lit(HITS_SCALE).cast("long").alias("score")
    )
    a = None
    for _ in range(iters):
        a = _hits_half_step(
            e_by_src, h, nodes, in_key="src", out_key="dst"
        ).localCheckpoint()
        h = _hits_half_step(
            e_by_dst, a, nodes, in_key="dst", out_key="src"
        ).localCheckpoint()
    out = (
        h.select("node", F.col("score").alias("hub"))
        .join(a.select("node", F.col("score").alias("authority")), "node")
    )
    nodes.unpersist()
    e_by_src.unpersist()
    e_by_dst.unpersist()
    return out


def _hits_half_step(
    edges: DataFrame, score: DataFrame, nodes: DataFrame,
    in_key: str, out_key: str,
) -> DataFrame:
    """One HITS half-step: propagate `score` along edges from `in_key`
    to `out_key`, left-join onto the full node set (absent -> 0), then
    max-normalize with a broadcast scalar. Shared by both directions so
    the arithmetic cannot diverge between them."""
    raw = (
        edges.join(
            score.withColumnRenamed("node", in_key), in_key
        )
        .groupBy(out_key)
        .agg(F.sum("score").cast("long").alias("raw"))
    )
    full = nodes.join(
        raw.withColumnRenamed(out_key, "node"), "node", "left"
    ).select("node", F.coalesce("raw", F.lit(0)).cast("long").alias("raw"))
    mx = full.agg(F.max("raw").alias("mx"))
    return full.crossJoin(F.broadcast(mx)).select(
        "node",
        F.expr(f"CAST(({HITS_SCALE} * raw) DIV mx AS BIGINT)").alias(
            "score"
        ),
    )


def hits_oracle_sql(edges_sql: str, iters: int = 3) -> str:
    """DuckDB twin of hits_int: the same integer recurrence unrolled as
    chained CTEs over `edges_sql` (a SELECT yielding src, dst). The
    raw-sum CTEs are MATERIALIZED — each is referenced by both the max
    scalar and the normalized score."""
    s = HITS_SCALE
    parts = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        _NODES_CTE,
        f"h0 AS (SELECT node, CAST({s} AS BIGINT) AS score FROM nodes)",
    ]
    prev_h = "h0"
    for i in range(1, iters + 1):
        parts.append(
            f"ar{i} AS MATERIALIZED (SELECT nodes.node,"
            f" CAST(COALESCE(SUM({prev_h}.score), 0) AS BIGINT) AS raw"
            f" FROM nodes LEFT JOIN e ON e.dst = nodes.node"
            f" LEFT JOIN {prev_h} ON {prev_h}.node = e.src"
            " GROUP BY nodes.node)"
        )
        parts.append(
            f"a{i} AS (SELECT node, CAST(({s} * raw) //"
            f" (SELECT MAX(raw) FROM ar{i}) AS BIGINT) AS score"
            f" FROM ar{i})"
        )
        parts.append(
            f"hr{i} AS MATERIALIZED (SELECT nodes.node,"
            f" CAST(COALESCE(SUM(a{i}.score), 0) AS BIGINT) AS raw"
            f" FROM nodes LEFT JOIN e ON e.src = nodes.node"
            f" LEFT JOIN a{i} ON a{i}.node = e.dst"
            " GROUP BY nodes.node)"
        )
        parts.append(
            f"h{i} AS (SELECT node, CAST(({s} * raw) //"
            f" (SELECT MAX(raw) FROM hr{i}) AS BIGINT) AS score"
            f" FROM hr{i})"
        )
        prev_h = f"h{i}"
    return (
        ",\n".join(parts)
        + f"\nSELECT h{iters}.node, h{iters}.score AS hub,"
        f" a{iters}.score AS authority"
        f" FROM h{iters} JOIN a{iters} ON a{iters}.node = h{iters}.node"
    )


def wl_fingerprints(edges: DataFrame, iters: int = 2) -> DataFrame:
    """Weisfeiler-Lehman structural fingerprints (1-WL color refinement
    — Weisfeiler & Leman 1968; the graph-dedup / role-discovery form is
    standard public material, e.g. Shervashidze et al. JMLR 2011).
    Nodes whose k-hop neighborhood STRUCTURE is identical get identical
    fingerprints, regardless of their ids — the grouping key for
    mirror-site detection, link-farm templates, and structural-role
    rollups over the web graph, where whole subgraphs repeat.

        label_0(v) = md5(outdeg(v) || '/' || indeg(v))
        label_i(v) = md5(label_{i-1}(v)
                         || '>' || sorted-join of out-neighbor labels
                         || '<' || sorted-join of in-neighbor labels)

    Engine-exact: labels are md5 hex strings; neighbor multisets are
    canonically sorted BEFORE hashing (sort_array on the collected
    list / string_agg ORDER BY in the oracle), so the fingerprint is
    independent of shuffle order and hash-matches across engines.

    Scale shape: per iteration, two keyed shuffles (groupBy src for the
    out-multiset, groupBy dst for the in-multiset) against edge copies
    persisted pre-partitioned on their join key — same discipline as
    pagerank_int/hits_int; per-iteration lineage cut. A hub node's
    sorted label list is degree-sized — at true web scale you would cap
    or sketch hub multisets (documented trade; the exact form is what
    the oracle certifies).

    Returns (node, wl) with wl the final 32-hex fingerprint.
    """
    e = edges.select("src", "dst").distinct()
    spark = edges.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("od")
    )
    indeg = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("id_")
    )
    nodes = _node_set(e).repartition(n_parts, "node").persist()
    lbl = (
        nodes.join(outdeg, "node", "left")
        .join(indeg, "node", "left")
        .select(
            "node",
            F.md5(
                F.concat_ws(
                    "/",
                    F.coalesce("od", F.lit(0)).cast("string"),
                    F.coalesce("id_", F.lit(0)).cast("string"),
                )
            ).alias("wl"),
        )
        .localCheckpoint()
    )
    e_by_src = e.repartition(n_parts, "src").persist()
    e_by_dst = e.repartition(n_parts, "dst").persist()
    for _ in range(iters):
        outs = (
            e_by_dst.join(lbl.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(
                F.array_join(
                    F.sort_array(F.collect_list("wl")), ","
                ).alias("outs")
            )
        )
        ins = (
            e_by_src.join(lbl.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.array_join(
                    F.sort_array(F.collect_list("wl")), ","
                ).alias("ins")
            )
        )
        lbl = (
            lbl.join(outs, "node", "left")
            .join(ins, "node", "left")
            .select(
                "node",
                F.md5(
                    F.concat(
                        F.col("wl"),
                        F.lit(">"),
                        F.coalesce("outs", F.lit("")),
                        F.lit("<"),
                        F.coalesce("ins", F.lit("")),
                    )
                ).alias("wl"),
            )
            .localCheckpoint()
        )
    nodes.unpersist()
    e_by_src.unpersist()
    e_by_dst.unpersist()
    return lbl


def wl_oracle_sql(edges_sql: str, iters: int = 2) -> str:
    """DuckDB twin of wl_fingerprints: identical md5 relabeling with
    string_agg(... ORDER BY ...) as the canonical multiset join."""
    parts = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        _NODES_CTE,
        "od AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d"
        " FROM e GROUP BY src)",
        "idg AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS d"
        " FROM e GROUP BY dst)",
        "l0 AS (SELECT n.node,"
        " md5(CAST(COALESCE(od.d, 0) AS VARCHAR) || '/' ||"
        " CAST(COALESCE(idg.d, 0) AS VARCHAR)) AS wl"
        " FROM nodes n LEFT JOIN od ON od.node = n.node"
        " LEFT JOIN idg ON idg.node = n.node)",
    ]
    prev = "l0"
    for i in range(1, iters + 1):
        parts.append(
            f"o{i} AS MATERIALIZED (SELECT e.src AS node,"
            f" string_agg(p.wl, ',' ORDER BY p.wl) AS s"
            f" FROM e JOIN {prev} p ON p.node = e.dst GROUP BY e.src)"
        )
        parts.append(
            f"i{i} AS MATERIALIZED (SELECT e.dst AS node,"
            f" string_agg(p.wl, ',' ORDER BY p.wl) AS s"
            f" FROM e JOIN {prev} p ON p.node = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"l{i} AS (SELECT p.node,"
            f" md5(p.wl || '>' || COALESCE(o{i}.s, '')"
            f" || '<' || COALESCE(i{i}.s, '')) AS wl"
            f" FROM {prev} p LEFT JOIN o{i} ON o{i}.node = p.node"
            f" LEFT JOIN i{i} ON i{i}.node = p.node)"
        )
        prev = f"l{i}"
    return ",\n".join(parts) + f"\nSELECT node, wl FROM {prev}"


def _hyperball_ests(edges: DataFrame, radius: int) -> list[DataFrame]:
    """The one HyperBall loop (Boldi & Vigna, 2013 — "In-core
    computation of geometric centralities with HyperBall", the
    published algorithm behind web-graph centrality at billions of
    nodes): per-node HLL counters of the ball B(v, t) = {v} ∪
    ⋃_{v→u} B(u, t-1), advanced by max-merging each node's registers
    with its successors'. Returns the (node, est) ball-size estimates
    for t = 0..radius; callers read each radius off them.

    Engine-exact: registers come from the repo's integer HLL
    (operators/sketches — md5_long48 hash, exact BIGINT estimator) and
    max-merge is bitwise deterministic, so every estimate hash-matches
    the unrolled DuckDB twin. The low-cardinality bias of the raw HLL
    estimator is irrelevant here: both engines compute the identical
    biased value, and the estimate is monotone under register merges.

    Scale shape: state is <= HLL_M registers per node (the paper's
    point — constant per node regardless of ball size); each iteration
    is one (node, bucket)-keyed max-merge shuffle against an edge copy
    persisted pre-partitioned on its join key. radius is small (web
    distances are short); lineage is cut per iteration.
    """
    from .negatives import md5_long48
    from .sketches import HLL_M, _hll_rho, hll_estimate

    e = edges.select("src", "dst").distinct()
    n_parts = e.sparkSession.sparkContext.defaultParallelism
    h = md5_long48(F.col("node").cast("string"))
    regs = (
        _node_set(e)
        .repartition(n_parts, "node")
        .select(
            "node",
            (h % F.lit(HLL_M)).cast("long").alias("bucket"),
            _hll_rho(h).alias("reg"),
        )
        .localCheckpoint()
    )
    e_by_dst = e.repartition(n_parts, "dst").persist()
    ests = []
    for t in range(radius + 1):
        if t:
            nbr = e_by_dst.join(
                regs.withColumnRenamed("node", "dst"), "dst"
            ).select(F.col("src").alias("node"), "bucket", "reg")
            regs = (
                regs.unionByName(nbr)
                .groupBy("node", "bucket")
                .agg(F.max("reg").cast("long").alias("reg"))
                .localCheckpoint()
            )
        ests.append(
            hll_estimate(regs, ["node"]).select(
                "node", F.col("distinct_est").alias("est")
            )
        )
    e_by_dst.unpersist()
    return ests


def hyperball_harmonic(edges: DataFrame, radius: int = 3) -> DataFrame:
    """HyperBall harmonic-style centrality from the ball-size
    increments of the shared _hyperball_ests loop:

        harmonic_e6(v) = Σ_{t=1..radius} (|B(v,t)| - |B(v,t-1)|)
                          * 1_000_000 div t

    Balls follow OUT-edges (nodes reachable FROM v); pass the REVERSED
    edge list for the textbook harmonic centrality (incoming
    distances), which is how Boldi & Vigna run it. Increments stay >= 0
    because the estimate is monotone under register merges.

    Returns (node, ball_r, harmonic_e6), ball_r = |B(v, radius)| est.
    """
    ests = _hyperball_ests(edges, radius)
    balls = ests[0].withColumnRenamed("est", "b0")
    for t in range(1, radius + 1):
        balls = balls.join(ests[t].withColumnRenamed("est", f"b{t}"), "node")
    harm = sum(
        (
            F.expr(f"((b{t} - b{t - 1}) * 1000000) div {t}")
            for t in range(1, radius + 1)
        ),
        F.lit(0),
    )
    return balls.select(
        "node",
        F.col(f"b{radius}").cast("long").alias("ball_r"),
        harm.cast("long").alias("harmonic_e6"),
    )


def hyperball_neighborhood(edges: DataFrame, radius: int = 3) -> DataFrame:
    """The graph NEIGHBORHOOD FUNCTION N(t) = Σ_v |B(v, t)| by
    HyperBall — the statistic behind every "average distance of the
    web graph" / effective-diameter measurement (Palmer et al. KDD'02
    ANF; Boldi-Vigna; the Broder bow-tie line of work — all public).
    The per-node estimates of the shared _hyperball_ests loop, folded to
    one corpus-wide sum per radius (exact BIGINT, so the sum is
    order-independent); the downstream effective-diameter read-off
    (smallest t with N(t) >= 0.9 * N(radius)) is a driver-side scan of
    `radius` rows.

    -> (t, reach_sum) for t in 0..radius."""
    return reduce(
        DataFrame.unionByName,
        [
            est.agg(
                F.lit(t).cast("long").alias("t"),
                F.sum("est").cast("long").alias("reach_sum"),
            )
            for t, est in enumerate(_hyperball_ests(edges, radius))
        ],
    )


def _hyperball_twin(edges_sql: str, radius: int) -> str:
    """The one DuckDB twin of _hyperball_ests: unrolled register
    max-merges r0..r{radius} and the same exact-BIGINT HLL estimator,
    ending in the per-node ball estimates b0..b{radius} (node, est).
    Callers append the final SELECT."""
    from .negatives import md5_long48_sql
    from .sketches import _HLL_DEN, _HLL_NUM, _HLL_RANK_MAX, HLL_M

    r = _HLL_RANK_MAX
    h = md5_long48_sql("CAST(node AS VARCHAR)")
    parts = [
        f"WITH e AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        _NODES_CTE,
        f"""r0 AS (
  SELECT node, ({h}) % {HLL_M} AS bucket,
         CASE WHEN ({h}) // {HLL_M} = 0 THEN {r}
              ELSE {r} - LENGTH(bin(({h}) // {HLL_M})) END AS reg
  FROM nodes)""",
    ]
    for t in range(radius + 1):
        if t:
            parts.append(
                f"""r{t} AS MATERIALIZED (
  SELECT node, bucket, MAX(reg) AS reg FROM (
    SELECT node, bucket, reg FROM r{t - 1}
    UNION ALL
    SELECT e.src AS node, p.bucket, p.reg
    FROM e JOIN r{t - 1} p ON p.node = e.dst)
  GROUP BY node, bucket)"""
            )
        parts.append(
            f"""b{t} AS (
  SELECT node,
         CAST({_HLL_NUM}::BIGINT // ({_HLL_DEN} *
              (SUM(1::BIGINT << ({r} - reg))
               + ({HLL_M} - COUNT(*)) * {1 << r}::BIGINT)) AS BIGINT)
           AS est
  FROM r{t} GROUP BY node)"""
        )
    return ",\n".join(parts)


def hyperball_oracle_sql(edges_sql: str, radius: int = 3) -> str:
    """DuckDB twin of hyperball_harmonic."""
    harm = " + ".join(
        f"((b{t}.est - b{t - 1}.est) * 1000000) // {t}"
        for t in range(1, radius + 1)
    )
    joins = "".join(
        f"\nJOIN b{t} ON b{t}.node = b0.node" for t in range(1, radius + 1)
    )
    return (
        _hyperball_twin(edges_sql, radius)
        + f"\nSELECT b0.node, CAST(b{radius}.est AS BIGINT) AS ball_r,"
        f" CAST({harm or 0} AS BIGINT) AS harmonic_e6 FROM b0{joins}"
    )


def hyperball_neighborhood_oracle_sql(
    edges_sql: str, radius: int = 3
) -> str:
    """DuckDB twin of hyperball_neighborhood."""
    return _hyperball_twin(edges_sql, radius) + "\n" + "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS BIGINT) AS t,"
        f" CAST(SUM(est) AS BIGINT) AS reach_sum FROM b{t}"
        for t in range(radius + 1)
    )
