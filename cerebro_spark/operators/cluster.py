"""Duplicate-cluster resolution: connected components over near-dup pairs.

Pair detectors (MinHash LSH, SimHash, n-gram Jaccard — `operators/dedup.py`)
emit EDGES; an actual dedup pipeline must then pick ONE canonical document
per transitive duplicate cluster.  That closure step is connected
components, computed here with the alternating large-star / small-star
contraction of Kiveris et al., "Connected Components in MapReduce and
Beyond" (SoCC'14, public) — O(log n) rounds regardless of cluster diameter,
so a 10M-node duplicate chain costs ~24 rounds, not 10M.

Spark-first shape: each star operation is one `groupBy(min)` + one equi-join
over the edge list — no adjacency arrays are ever materialized (a
`collect_list` of neighbors would OOM on hub nodes), and every round's
output is `localCheckpoint`ed to keep the logical plan flat (iterative
loops otherwise grow lineage exponentially and spend minutes in Catalyst).

Reference parity note: the reference engine has no graph operator — this is
part of the training-data-pipeline extension family (driver brief), built on
the dedup operators that mirror reference-style content keying.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from cerebro_spark.operators.util import ensure_parallelism


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + one small-star pass over canonical (u, v) edges."""
    # --- large-star: around each node u (over the SYMMETRIC neighborhood),
    # connect every LARGER neighbor to m = min(N(u) ∪ {u}).
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("__mn"))
    mins = mins.select("u", F.least("__mn", F.col("u")).alias("m"))
    large = (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # --- small-star: orient edges high→low, connect every smaller neighbor
    # (and u itself) to m = min of the low side.
    directed = large.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins2 = directed.groupBy("u").agg(F.min("v").alias("m"))
    lows = directed.join(mins2, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    selfs = mins2.select(F.col("u"), F.col("m").alias("v"))
    small = (
        lows.union(selfs)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    return small


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Component label (= min member id) for every node of the pair graph.

    Returns ``(id, component)`` for every node that appears in ``pairs``;
    isolated documents (no pair) are simply absent — join back with the
    corpus for full coverage.  Converges when a round leaves the edge set
    unchanged (checked with a count + order-independent hash aggregate, two
    cheap single-row actions per round).
    """
    spark = pairs.sparkSession
    # Reliable checkpoint (HDFS/S3) when the app configured a checkpoint dir
    # — localCheckpoint blocks die with their executor, which on a cluster
    # turns one lost node into a failed job for long CC runs.  Local mode /
    # no dir: localCheckpoint is exactly right (no remote FS round-trip).
    if spark.sparkContext.getCheckpointDir():
        _ckpt = lambda df: df.checkpoint(eager=True)  # noqa: E731
    else:
        _ckpt = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
    edges = _ckpt(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    prev_sig = None
    for _ in range(max_iter):
        edges = _ckpt(_star_round(edges))
        sig = edges.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-independent and overflow-free (sum of hashes
            # trips ANSI long-overflow); edges are distinct so nothing cancels
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        cur = (sig["n"], sig["h"])
        if cur == prev_sig:
            break
        prev_sig = cur
    else:  # pragma: no cover — max_iter is ~2× the rounds a 100TB graph needs
        raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")
    # Fixed point is a forest of stars: every edge is (member, root).  Roots
    # themselves appear only on the v side — add their self-mapping.
    members = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    return members.union(roots).distinct()


def duplicate_clusters(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """(doc_id, canonical_id, cluster_size) for every doc in a duplicate
    cluster; canonical = min doc id of the cluster."""
    comp = connected_components(pairs, src, dst)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "component").select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("canonical_id"),
        "cluster_size",
    )


def resolve_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Drop every non-canonical member of each duplicate cluster — the final
    step of the dedup pipeline.  Keeps: all isolated docs + one (min-id)
    representative per cluster.  The join strategy is deliberately NOT
    forced: at a 30% duplicate rate on a 100 TB corpus the drop-list is
    billions of ids — force-broadcasting it would OOM the executors.  AQE
    picks broadcast when the list is actually small and falls back to a
    shuffled anti-join (ids only, 8 bytes/row) when it isn't."""
    comp = connected_components(pairs, src, dst)
    drop = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(drop, id_col, "left_anti")


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    quantum: float = 1e-9,
    checkpoint_every: int = 8,
    assume_distinct: bool = False,
    release_cache: bool = False,
    seeds: list | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list — returns ``(node, rank)``.

    ``seeds`` switches to PERSONALIZED PageRank (Haveliwala, WWW 2002):
    the teleport mass ``(1-d)`` is split uniformly over the seed nodes
    instead of all nodes, and the walk starts at the seed distribution —
    the resulting ranks measure proximity TO the seeds (related-item /
    recommendation scores), not global importance.  Seeds are driver-side
    literals (a handful of ids — an `isin` predicate, no join).

    Semantics (documented so the SQL oracle can reproduce them exactly):
    every node appearing as ``src`` or ``dst`` starts at 1/N; each iteration
    computes ``r'(v) = (1-d)/N + d * Σ_{u→v} r(u)/outdeg(u)``.  Callers with
    dangling nodes (outdeg 0) should symmetrize or self-loop the edge list
    first — this operator does NOT redistribute dangling mass, keeping the
    per-iteration plan to exactly one join + one combinable groupBy.

    Ranks are quantized to ``quantum`` after every iteration with
    ``floor(x/quantum + 0.5) * quantum``: float summation order over a
    node's in-neighbors is engine- and partitioning-dependent in the last
    ulp, and the quantization makes the fixed point deterministic across
    engines (same trick as the BM25 score fold; ``floor(+0.5)`` rather than
    ``round`` because Spark rounds doubles half-up via BigDecimal while
    DuckDB rounds half-even).

    Scale shape: the edge list is shuffled ONCE onto its join key and cached;
    each iteration re-joins the (node-count-sized) rank frame — the small
    side at web scale is ranks, and AQE picks the broadcast or shuffle side
    per stage.  Lineage is cut with local/reliable checkpoints every
    ``checkpoint_every`` iterations (same policy as connected_components);
    for the default 3-5 iteration analytics runs no checkpoint fires.
    ``release_cache=True`` additionally materializes the result and drops
    the cached frames on the way out — long-lived-session hygiene, at the
    cost of one extra checkpoint materialization (the caches are
    MEMORY_AND_DISK and LRU-evictable, so occasional callers skip it).

    Reference parity: the reference has no graph verbs; this belongs to the
    driver-mandated extension surface (duplicate-graph / influence
    analytics next to connected_components).
    """
    spark = edges.sparkSession
    if spark.sparkContext.getCheckpointDir():
        _ckpt = lambda df: df.checkpoint(eager=True)  # noqa: E731
    else:
        _ckpt = lambda df: df.localCheckpoint(eager=True)  # noqa: E731

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not assume_distinct:
        # duplicate edges would double-count contributions; callers whose
        # edge list is distinct by construction (e.g. the union of two
        # disjoint distinct halves after symmetrizing) pass
        # assume_distinct=True and save this full-edge shuffle
        e = e.distinct()
    e = e.cache()
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .cache()
    )
    n = nodes.count()
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))
    ew = e.join(deg, "u").cache()  # (u, v, outdeg) — reused every iteration

    q = float(quantum)
    if seeds:
        # personalized: teleport and start mass live on the seeds only
        is_seed = F.col("node").isin(list(seeds))
        base_col = F.when(is_seed, F.lit((1.0 - damping) / len(seeds))).otherwise(
            F.lit(0.0)
        )
        ranks = nodes.withColumn(
            "rank", F.when(is_seed, F.lit(1.0 / len(seeds))).otherwise(F.lit(0.0))
        )
    else:
        base_col = F.lit((1.0 - damping) / n)
        ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for i in range(iterations):
        contribs = (
            ew.join(ranks, ew["u"] == ranks["node"])
            .select(F.col("v").alias("node"), (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.floor(
                        (base_col + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)))
                        / F.lit(q)
                        + F.lit(0.5)
                    )
                    * F.lit(q)
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = _ckpt(ranks)
    if release_cache:
        # long-lived-session hygiene: materialize the (node-sized, small)
        # result, then drop the cached edge-scale frames so repeated calls
        # don't accumulate storage.  Costs one checkpoint materialization
        # (~2-3x the single-shot latency), so it is opt-in: the cached
        # frames are MEMORY_AND_DISK and LRU-evictable, so a short-lived
        # or occasional caller loses nothing by leaving them.
        ranks = _ckpt(ranks)
        for cached in (ew, nodes, e):
            cached.unpersist()
    return ranks


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """k-core decomposition: iteratively peel nodes of degree < ``k`` until
    a fixpoint, returning ``(node, degree)`` for the surviving core (degree
    = within-core degree).  The k-core is unique, so looping to the
    fixpoint (with an early exit as soon as a peel round removes nothing)
    is exact regardless of round count — an oracle that unrolls a FIXED
    number of rounds matches whenever the data converges within them.

    Scale shape: each round is one symmetric-degree ``groupBy`` (map-side
    combinable) plus two semi-joins of the edge list against the shrinking
    keep-set — no adjacency arrays, no per-node iteration.  Rounds are
    ``localCheckpoint``/``checkpoint``-cut like connected_components (same
    lineage-growth failure mode), and convergence needs one cheap count
    per round.  Peeling removes at least one node per non-final round, so
    ``max_rounds`` only guards degenerate adversarial chains; real graphs
    cascade in a handful of rounds.

    Reference parity: no reference counterpart — graph-analytics extension
    next to pagerank / triangle_participation (driver brief).
    """
    spark = edges.sparkSession
    if spark.sparkContext.getCheckpointDir():
        _ckpt = lambda df: df.checkpoint(eager=True)  # noqa: E731
    else:
        _ckpt = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
    e = _ckpt(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    prev = e.count()
    for _ in range(max_rounds):
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        keep = (
            sym.groupBy("u")
            .agg(F.count(F.lit(1)).alias("__d"))
            .filter(F.col("__d") >= k)
            .select(F.col("u").alias("node"))
        )
        e = _ckpt(
            e.join(keep, e["u"] == keep["node"], "left_semi")
            .join(keep, F.col("v") == keep["node"], "left_semi")
        )
        cur = e.count()
        if cur == prev:
            break
        prev = cur
    else:  # pragma: no cover — max_rounds ≫ the cascade depth of real graphs
        raise RuntimeError(f"kcore: no fixpoint in {max_rounds} rounds")
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007) with deterministic tie-breaks — returns ``(node, label)`` after
    exactly ``iterations`` rounds.

    Semantics (documented so the SQL oracle can reproduce them exactly):
    every node starts labeled with itself; each round, a node adopts the
    label with the highest vote count among its neighbors' current labels
    PLUS ONE vote for its own current label (the self-vote damps the
    2-cycle oscillation synchronous LPA exhibits on bipartite subgraphs),
    ties broken by the SMALLEST label.  The argmax is a ``min`` over
    ``struct(-count, label)`` — one combinable aggregation, no per-node
    window — which a SQL oracle expresses as ``row_number() OVER
    (PARTITION BY node ORDER BY cnt DESC, label ASC) = 1``.

    Fixed iterations rather than convergence detection: synchronous LPA is
    not guaranteed to reach a fixpoint (label cycles), and a bounded round
    count is also what makes the operator's cost predictable at 100 TB —
    each round is one edge⋈label equi-join plus two combinable groupBys,
    lineage-cut per round like the other iterative operators here.

    Reference parity: no reference counterpart — community-detection
    extension next to connected_components (which it refines: LPA splits
    weakly-joined components that CC merges).
    """
    spark = edges.sparkSession
    if spark.sparkContext.getCheckpointDir():
        _ckpt = lambda df: df.checkpoint(eager=True)  # noqa: E731
    else:
        _ckpt = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
    e0 = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = _ckpt(e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v"))))
    labels = sym.select(F.col("u").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(iterations):
        votes = sym.join(labels, sym["u"] == labels["node"]).select(
            F.col("v").alias("node"), "label"
        ).unionByName(labels)
        counts = votes.groupBy("node", "label").agg(F.count(F.lit(1)).alias("cnt"))
        labels = _ckpt(
            counts.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("label").alias("l"))
                ).alias("__m")
            )
            .select("node", F.col("__m.l").alias("label"))
        )
    return labels


def neighbor_jaccard(
    edges: DataFrame,
    entity: str = "entity",
    neighbor: str = "neighbor",
    min_common: int = 1,
    max_neighbor_degree: int | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """Pairwise Jaccard similarity of neighbor sets — the classic
    common-neighbors link-prediction / entity-resolution score over a
    bipartite adjacency list ``(entity, neighbor)``.

    Returns ``(id_a, id_b, common, jaccard)`` for every entity pair with at
    least ``min_common`` shared neighbors, ``id_a < id_b``, where
    ``jaccard = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|``.

    Scale shape — identical to the inverted-index join of
    ``ngram_jaccard_pairs`` (dedup.py), but over graph adjacency instead of
    shingle sets: the pair space is NEVER enumerated; candidate pairs
    materialize only through the self-join on the shared neighbor, so cost
    is Σ_neighbor deg(neighbor)², not |entities|².  A hub neighbor (one
    connected to everything — a stopword of the graph) makes that sum
    quadratic; ``max_neighbor_degree`` drops such neighbors before the
    wedge join, the same guard as ``max_shingle_freq`` there.  Dropping a
    hub REDUCES every pair's `common` but also its union via degree
    recount, keeping the score honest on the filtered graph (degrees are
    computed AFTER the cap so numerator and denominator agree).

    ``top_k`` bounds the output with a TakeOrderedAndProject on
    ``(jaccard DESC, id_a, id_b)`` instead of a full sort.

    Reference parity: no reference counterpart — record-linkage extension
    next to fuzzy_join_blocked and the dedup pair detectors.
    """
    e = edges.select(
        F.col(entity).alias("ent"), F.col(neighbor).alias("nb")
    ).distinct()
    if max_neighbor_degree is not None:
        nb_deg = e.groupBy("nb").agg(F.count(F.lit(1)).alias("__nd"))
        e = (
            e.join(nb_deg.filter(F.col("__nd") <= max_neighbor_degree), "nb")
            .select("ent", "nb")
        )
    # the (possibly capped) adjacency feeds THREE consumers — the degree
    # aggregate and both wedge sides — and upstream may be an expensive
    # join+distinct; cache the ids-only frame (16 bytes/row, MEMORY_AND_DISK,
    # LRU-evictable) instead of recomputing it per branch.  Spread it first:
    # the cache freezes AQE's coalesced layout (a handful of partitions on
    # small inputs), and the wedge probe inherits that width — the blowup
    # is compute, which the byte heuristic cannot see (no-op at scale)
    e = ensure_parallelism(e).cache()
    deg = e.groupBy("ent").agg(F.count(F.lit(1)).alias("deg"))
    a = e.select(F.col("nb"), F.col("ent").alias("id_a"))
    b = e.select(F.col("nb"), F.col("ent").alias("id_b"))
    common = (
        a.join(b, "nb")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    da = deg.select(F.col("ent").alias("id_a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("ent").alias("id_b"), F.col("deg").alias("__db"))
    scored = (
        common.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            "common",
            (
                F.lit(1.0) * F.col("common")
                / (F.col("__da") + F.col("__db") - F.col("common"))
            ).alias("jaccard"),
        )
    )
    if top_k is not None:
        from cerebro_spark.operators.util import top_k_ranked

        scored = top_k_ranked(
            scored, [("jaccard", "desc"), ("id_a", "asc"), ("id_b", "asc")], k=top_k
        ).drop("rank")
    return scored


def cooccurrence_lift(
    edges: DataFrame,
    basket: str = "basket",
    item: str = "item",
    min_pair_count: int = 2,
    max_basket_size: int | None = None,
) -> DataFrame:
    """Market-basket association scores — support, confidence and lift for
    every item pair that co-occurs in at least ``min_pair_count`` baskets
    (Agrawal & Srikant, VLDB'94 measures; pair enumeration instead of full
    apriori since depth-2 rules are what a recommender actually serves).

    Returns ``(item_a, item_b, pair_count, support, lift)`` with
    ``item_a < item_b``; ``support = pair_count / n_baskets``;
    ``lift = pair_count * n_baskets / (count(a) * count(b))`` — lift > 1
    means the pair co-occurs more than independence predicts.

    Scale shape: pair candidates come from the self-join on the basket key
    (Σ_basket size² wedges, not |items|²), so a degenerate giant basket is
    the skew risk — ``max_basket_size`` drops baskets above the cap before
    the join (a basket of 10⁶ items contributes 10¹² wedges and zero
    signal).  Item marginals are computed AFTER the cap so support and
    lift stay consistent on the filtered baskets.  ``n_baskets`` reduces
    to a 1-row frame joined in by broadcast cross-join (bounded metadata,
    same pattern as the BM25 corpus stats).

    Reference parity: no reference counterpart — co-occurrence analytics
    extension next to bigram_pmi (text) and neighbor_jaccard (graph).
    """
    e = edges.select(
        F.col(basket).alias("bk"), F.col(item).alias("it")
    ).distinct()
    if max_basket_size is not None:
        bsz = e.groupBy("bk").agg(F.count(F.lit(1)).alias("__bs"))
        e = (
            e.join(bsz.filter(F.col("__bs") <= max_basket_size), "bk")
            .select("bk", "it")
        )
    # four consumers (basket count, marginals, both pair sides) — cache the
    # ids-only frame rather than recompute upstream per branch, spread so
    # the wedge probe does not inherit AQE's coalesced layout (same
    # rationale as neighbor_jaccard)
    e = ensure_parallelism(e).cache()
    n_baskets = e.select("bk").distinct().agg(
        F.count(F.lit(1)).alias("__n")
    )
    marg = e.groupBy("it").agg(F.count(F.lit(1)).alias("cnt"))
    a = e.select("bk", F.col("it").alias("item_a"))
    b = e.select("bk", F.col("it").alias("item_b"))
    pairs = (
        a.join(b, "bk")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_pair_count)
    )
    ma = marg.select(F.col("it").alias("item_a"), F.col("cnt").alias("__ca"))
    mb = marg.select(F.col("it").alias("item_b"), F.col("cnt").alias("__cb"))
    return (
        pairs.join(ma, "item_a")
        .join(mb, "item_b")
        .crossJoin(F.broadcast(n_baskets))  # 1-row stats frame
        .select(
            "item_a",
            "item_b",
            "pair_count",
            (F.lit(1.0) * F.col("pair_count") / F.col("__n")).alias("support"),
            (
                F.lit(1.0) * F.col("pair_count") * F.col("__n")
                / (F.col("__ca") * F.col("__cb"))
            ).alias("lift"),
        )
    )


def triangle_participation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    release_cache: bool = False,
) -> DataFrame:
    """Per-node triangle participation counts — returns ``(node,
    triangles)`` for every node that closes at least one triangle.

    Algorithm: the standard degree-ordered node-iterator ("compact
    forward", Latapy 2008 / Suri-Vassilvitskii WWW'11 MapReduce variant):
    every undirected edge is oriented from the (degree, node)-smaller
    endpoint to the larger; the orientation bounds every node's out-degree
    by O(√m), so the comparison volume is O(m^1.5) worst-case instead of
    Σ deg² — the hub-node blowup of the naive node-iterator never happens.

    Each triangle p→q, p→r, q→r is found exactly once at its base edge
    (p, q) as |N⁺(p) ∩ N⁺(q)| — two O(√m)-bounded out-neighbor arrays
    intersected in-array, so wedge rows are never materialized through a
    join (checked against a neighbour-set enumeration in
    tests/test_round12_opt.py and tests/test_properties.py).

    Each triangle is found exactly once (its unique orientation) and
    credited to all three corners.

    ``release_cache=True`` materializes the (node-sized) counts and drops
    the cached directed-edge frame on the way out — the same opt-in
    long-lived-session hygiene contract as ``pagerank(release_cache=True)``
    (one extra checkpoint materialization; the cache is MEMORY_AND_DISK
    and LRU-evictable, so occasional callers skip it).

    Reference parity: no reference counterpart — graph-analytics extension
    next to connected_components / pagerank.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ew = e.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    dir_e = ew.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    ).cache()
    # The orientation is a DAG along the (deg, node) total order, so the
    # base edge (p, q) of each triangle is unique.  Same asymptotic work as
    # a wedge join (Σ_e d⁺(a)+d⁺(b)), but no wedge ROWS ever hit a shuffle
    # or a per-row join probe.  Corner credit: p and q once per element of
    # the intersection, each r once.
    adj = dir_e.groupBy("s").agg(F.collect_list("t").alias("__nb"))
    ia = adj.select(F.col("s").alias("a"), F.col("__nb").alias("__na"))
    ib = adj.select(F.col("s").alias("b"), F.col("__nb").alias("__nbb"))
    closed = (
        dir_e.select(F.col("s").alias("a"), F.col("t").alias("b"))
        .join(ia, "a")
        .join(ib, "b")
        .select(
            "a", "b",
            F.array_intersect("__na", "__nbb").alias("__cs"),
        )
        .filter(F.size("__cs") > 0)
    )
    corners = (
        closed.select(
            F.col("a").alias("node"), F.size("__cs").cast("long").alias("__k")
        )
        .unionAll(
            closed.select(
                F.col("b").alias("node"),
                F.size("__cs").cast("long").alias("__k"),
            )
        )
        .unionAll(
            closed.select(
                F.explode("__cs").alias("node"),
                F.lit(1).cast("long").alias("__k"),
            )
        )
    )
    counts = corners.groupBy("node").agg(F.sum("__k").alias("triangles"))
    if release_cache:
        # same opt-in cache-lifetime contract as pagerank(release_cache=True)
        spark = edges.sparkSession
        if spark.sparkContext.getCheckpointDir():
            counts = counts.checkpoint(eager=True)
        else:
            counts = counts.localCheckpoint(eager=True)
        dir_e.unpersist()
    return counts


def hits(
    edges: DataFrame,
    iterations: int = 2,
    src: str = "src",
    dst: str = "dst",
    scale: int = 1_000_000_000,
    assume_distinct: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Fixed-iteration HITS (Kleinberg, JACM 1999) over a DIRECTED edge
    list — returns ``(authorities, hubs)`` as two frames:
    ``(node, authority BIGINT)`` over in-endpoint nodes and
    ``(node, hub BIGINT)`` over out-endpoint nodes, both in integer
    ``1/scale`` units (callers divide by ``scale`` once for a double score).

    Cross-engine determinism contract (same family as ``pagerank``'s
    quantized ranks, but stronger): scores are held as BIGINTs throughout,
    so every engine-order-dependent aggregation is an EXACT integer sum.
    One iteration is
    ``a_raw(v) = Σ_{u→v} h(u)``           (bigint sum, exact)
    ``a(v) = floor(a_raw / Ta * scale + .5)``  (Ta = Σ a_raw, exact; the
    division is a single IEEE op on two exact integers — bit-identical in
    any engine), then the mirrored update for hubs from the fresh
    authorities.  L1 normalization replaces the classical L2 (a per-vector
    positive rescale — identical ranking, and it avoids a cross-engine
    sqrt).  Overflow bound: the exact-integer totals must stay under 2^53
    for the float division, and the binding constraint is EDGES, not
    nodes — the first iteration's L1 total is exactly E·scale (every
    initial hub score is ``scale``), so at scale=1e9 exactness holds to
    ~9M edges; shrink ``scale`` proportionally for bigger graphs.

    Scale shape: per iteration exactly two equi-joins of the cached edge
    list against a node-sized score frame and two combiner-friendly
    bigint-sum groupBys, plus two 1-row total aggregates broadcast back
    with a crossJoin — the same bounded-scalar-broadcast pattern as the
    DSIR totals.  The edge list shuffles once and is reused.

    Reference parity: no reference counterpart — graph-analytics extension
    next to pagerank/kcore (driver brief).
    """
    spark = edges.sparkSession
    if spark.sparkContext.getCheckpointDir():
        _ckpt = lambda df: df.checkpoint(eager=True)  # noqa: E731
    else:
        _ckpt = lambda df: df.localCheckpoint(eager=True)  # noqa: E731

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not assume_distinct:
        e = e.distinct()
    # cache (not checkpoint): the same logical edge plan then hits the
    # cache across repeated calls too (bench warm runs), like pagerank's
    e = e.cache()

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        # eager-materialize the node-sized raw frame: it feeds BOTH the
        # 1-row total and the row-wise normalization, and it also cuts the
        # iteration lineage so each half-iteration plans against a flat
        # scan instead of the whole history
        raw = _ckpt(raw)
        total = raw.agg(F.sum("s").alias("t"))
        return raw.crossJoin(F.broadcast(total)).select(
            "node",
            F.floor(
                (F.col("s").cast("double") / F.col("t")) * F.lit(float(scale))
                + F.lit(0.5)
            )
            .cast("long")
            .alias(col),
        )

    hubs = (
        e.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("hub", F.lit(int(scale)).cast("long"))
    )
    auths = None
    for _ in range(iterations):
        a_raw = (
            e.join(hubs, e["u"] == hubs["node"])
            .groupBy(e["v"].alias("node"))
            .agg(F.sum("hub").alias("s"))
        )
        auths = _normalize(a_raw, "authority")
        h_raw = (
            e.join(auths, e["v"] == auths["node"])
            .groupBy(e["u"].alias("node"))
            .agg(F.sum("authority").alias("s"))
        )
        hubs = _normalize(h_raw, "hub")
    return auths, hubs


def bounded_reach(
    edges: DataFrame,
    seeds: list,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded multi-source BFS — returns ``(node, dist INT)`` for every
    node reachable from the seed set within ``max_hops`` directed hops
    (seeds themselves at dist 0).  Distances are exact small integers, so
    the result is trivially engine-deterministic.

    Scale shape: the textbook distributed frontier expansion — per hop one
    equi-join of the CURRENT FRONTIER (not the whole visited set) against
    the cached edge list, a distinct, and a left-anti join against the
    visited set so the frontier never re-expands settled nodes.  Frontier
    and visited frames are node-sized; the edge list shuffles once.  The
    visited set is localCheckpoint'ed each hop to keep lineage flat (same
    policy as connected_components' star rounds).  Seeds are driver-side
    literals (an ``isin``-free union of lit rows — a handful of ids).

    Reference parity: no reference counterpart — graph-analytics extension
    (reachability / blast-radius queries) next to pagerank/kcore.
    """
    spark = edges.sparkSession
    if spark.sparkContext.getCheckpointDir():
        _ckpt = lambda df: df.checkpoint(eager=True)  # noqa: E731
    else:
        _ckpt = lambda df: df.localCheckpoint(eager=True)  # noqa: E731

    from cerebro_spark.operators.util import small_df

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).cache()
    seed_df = small_df(spark, [(s,) for s in seeds], ["node"]).distinct()
    visited = seed_df.withColumn("dist", F.lit(0).cast("int"))
    frontier = seed_df
    for hop in range(1, max_hops + 1):
        nxt = (
            e.join(frontier, e["u"] == frontier["node"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        # eager-checkpoint the grown visited set and re-derive the frontier
        # FROM it: carrying nxt's lazy lineage would chain every prior
        # hop's join into hop h's plan (recomputing hops 1..h−1 against
        # the edge list).  A/B-measured vs checkpointing only the new
        # layer (visited as a lazy union of materialized layers): the
        # single flat visited frame wins ~10% — the anti-join then builds
        # ONE hash relation instead of unioning per-layer scans.
        visited = _ckpt(
            visited.union(nxt.withColumn("dist", F.lit(hop).cast("int")))
        )
        frontier = visited.filter(F.col("dist") == hop).select("node")
        if hop < max_hops and frontier.isEmpty():
            # component exhausted: every remaining hop would still pay a
            # full union-checkpoint of the visited set for zero new nodes
            # (soak-measured ~1.6s/empty hop at 3M nodes) — stop early.
            # isEmpty here is a cheap scan of the just-materialized frame.
            break
    e.unpersist()
    return visited


def golden_record(
    df: DataFrame,
    cluster_col: str,
    ts_col: str,
    attr_cols: list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivorship merge — the "golden record" step after entity
    resolution: per cluster, each attribute independently takes its most
    recent NON-NULL value (freshest-wins per column, the standard MDM
    rule), with (ts, id) as the deterministic recency key.  Completes the
    dedup pipeline: ``*_pairs`` → ``connected_components`` →
    ``golden_record`` instead of ``resolve_duplicates`` when the cluster's
    members should be FUSED rather than one member kept.

    Output: one row per cluster — ``(cluster, n_members, last_ts,
    <attr…>)``.  One combinable groupBy over the cluster key: per column
    ``max_by(attr, struct(attr IS NOT NULL, ts, id))`` — the NULL flag
    sorts non-null above null, so a column goes NULL only when the whole
    cluster is null in it.  No window, no per-cluster sort; skew-safe
    because max_by state is one value per column regardless of cluster
    size.
    """
    ts = F.col(ts_col)
    recency = lambda a: F.struct(  # noqa: E731
        F.col(a).isNotNull().alias("nn"),
        ts.alias("ts"),
        F.col(id_col).alias("id"),
    )
    aggs = [
        F.count(F.lit(1)).alias("n_members"),
        F.max(ts).alias("last_ts"),
    ] + [F.max_by(F.col(a), recency(a)).alias(a) for a in attr_cols]
    return df.groupBy(F.col(cluster_col).alias("cluster")).agg(*aggs)


def adamic_adar(
    edges: DataFrame,
    node: str = "node",
    via: str = "via",
    max_degree: int = 200,
    top_k: int = 20,
) -> DataFrame:
    """Adamic–Adar link prediction (Adamic & Adar 2003): score every node
    pair by their shared neighbors, each neighbor w weighted 1/ln(deg(w))
    — rare bridges count more than ubiquitous hubs.  Returns the top-k
    ``(node_a, node_b, common, score)`` with ``node_a < node_b``.

    Pair enumeration is the inverted-index wedge pattern (same as
    neighbor_jaccard/cooccurrence_lift): per shared neighbor w the sorted
    DISTINCT node list, pairs emitted as a projection-side array
    transform — Σ_w deg(w)² wedges, never |nodes|².  ``max_degree`` drops
    hub neighbors above the cap BEFORE pair generation (an Adamic–Adar
    weight of 1/ln(10⁶) ≈ 0.07 carries ~zero signal at 10¹² wedges of
    cost); degree-1 neighbors produce no pairs and are skipped.

    Exactness: 1/ln(deg) is quantized to an e9 BIGINT per NEIGHBOR (a
    handful of distinct small-integer degrees), the pair score is then an
    EXACT integer sum in any order; the top-k orders by that integer
    (ties → node ids).  ``score`` reports the e9 sum / 1e9.

    Scale shape: one distinct, one neighbor-degree agg, one pair
    explode feeding a combinable sum, one TakeOrdered(top_k).
    """
    e = edges.select(
        F.col(node).alias("__n"), F.col(via).alias("__w")
    ).filter(F.col(node).isNotNull() & F.col(via).isNotNull()).distinct()
    deg = e.groupBy("__w").agg(F.count(F.lit(1)).alias("__d")).filter(
        (F.col("__d") >= 2) & (F.col("__d") <= max_degree)
    )
    we9 = F.floor(
        F.lit(1.0e9) / F.log(F.col("__d").cast("double")) + F.lit(0.5)
    ).cast("long")
    # explicit spread before the posting-list aggregate: the pair explode
    # and its partial sum run on the groupBy's output partitions, which
    # AQE's byte-based coalescing shrinks to a handful on small inputs
    # while the wedge fan-out is a compute blowup it cannot see
    # (REPARTITION_BY_NUM is AQE-proof; no-op cost at real scale where the
    # exchange is needed anyway)
    from cerebro_spark.operators.util import default_parallelism

    par = default_parallelism(edges.sparkSession)
    lists = (
        e.join(deg, "__w")
        .repartition(par, F.col("__w"))
        .groupBy("__w", we9.alias("__we9"))
        .agg(F.array_sort(F.collect_set("__n")).alias("__arr"))
    )
    pairs = lists.select(
        "__we9",
        F.explode(
            F.expr(
                "flatten(transform(__arr, (x, i) -> "
                "transform(slice(__arr, i + 2, size(__arr)), "
                "y -> struct(x AS a, y AS b))))"
            )
        ).alias("__p"),
    )
    scored = pairs.groupBy(
        F.col("__p.a").alias("node_a"), F.col("__p.b").alias("node_b")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("common"),
        F.sum("__we9").alias("__sw"),
    )
    return (
        scored.orderBy(
            F.col("__sw").desc(), F.col("node_a").asc(), F.col("node_b").asc()
        )
        .limit(top_k)
        .select(
            "node_a",
            "node_b",
            "common",
            F.round(F.col("__sw").cast("double") / F.lit(1.0e9), 6).alias("score"),
        )
    )


def local_clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Local clustering coefficient per node — ``(node, degree,
    triangles, lcc)`` with ``lcc = triangles / (deg·(deg−1)/2)``: of the
    pairs of my neighbors, how many know each other?  The community-
    density companion of :func:`triangle_participation` (raw triangle
    counts scale with degree; LCC normalizes them into comparable
    [0, 1] — a hub with many triangles can still be a hollow star).

    Exactness: degree and triangle counts are exact integers (the
    compact-forward count credits every triangle once per corner); lcc
    is ``2·tri / (deg·(deg−1))`` — one exact-integer product and ONE
    IEEE division, rounded 6 dp.  Degree-1 nodes (no neighbor pair) get
    NULL.  Nodes with no triangle report lcc 0.0, not NULL — a hollow
    neighborhood is a measurement, not a gap.

    Scale shape: inherits triangle_participation's O(m^1.5) wedge bound
    (degree-ordered orientation); the degree frame is one combinable
    aggregate; the final join is node-sized on both sides.

    Reference parity: no reference counterpart — graph-analytics
    extension next to triangle_participation (driver brief).
    """
    # NOT cached, deliberately: the edge frame is derived twice (degree
    # branch + triangle branch), but an InMemoryRelation here blocks
    # AQE's stage re-optimization across the boundary — measured 2.6×
    # SLOWER cached than recomputed at sf0.1 (27.6 s vs 10.6 s).  Two
    # fully-pipelined codegen derivations beat one materialization.
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tri = triangle_participation(e, "u", "v")
    j = deg.join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias(
            "triangles"
        ),
    )
    pairs = F.col("degree").cast("decimal(38,0)") * (
        F.col("degree").cast("decimal(38,0)") - 1
    )
    return j.select(
        "node",
        "degree",
        "triangles",
        F.when(
            F.col("degree") > 1,
            F.round(
                F.lit(2.0)
                * F.col("triangles").cast("double")
                / pairs.cast("double"),
                6,
            ),
        ).alias("lcc"),
    ).orderBy(F.col("node").asc())


def modularity(
    edges: DataFrame,
    node_part: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    part_col: str = "part",
) -> DataFrame:
    """Newman modularity Q of a node partition — ONE row ``(n_nodes,
    n_edges, n_parts, modularity)``: does the partition actually capture
    the graph's community structure?  The QUALITY score for any
    community assignment (LPA's labels, a metadata partition like
    region/tenant, a clustering) — Q ≈ 0 means the partition explains
    nothing beyond chance, Q ≳ 0.3 is real structure, and comparing Q
    across candidate partitions is how you pick one.

    ``Q = Σ_c [ in_c/m − (deg_c/2m)² ]`` over an undirected simple graph
    (m edges, in_c intra-community edges, deg_c = Σ degree in c),
    computed as the exact-integer identity

        Q = ( 4·m·Σ in_c − Σ deg_c² ) / (4·m²)

    — both operands exact DECIMALs, ONE IEEE division, rounded 6 dp.
    Unassigned nodes (absent from ``node_part``) form an implicit extra
    community each (their degree mass still penalizes — dropping them
    silently would inflate Q).

    Scale shape: edge canonicalization + ONE distinct, two combinable
    aggregates (per-part intra-edge count via a double node-join on the
    partition map, per-part degree mass), one 1-row reduce.  The
    partition map joins are key-equi (AQE broadcasts map-sized sides).

    Reference parity: no reference counterpart — graph-analytics
    extension next to label_propagation (driver brief).
    """
    dec = "decimal(38,0)"
    # ONE derivation of the (possibly expensive) canonical edge list
    # (r12): the previous two-branch shape (1-row intra aggregate + the
    # degree branch) recomputed the whole upstream join+distinct chain
    # per branch — caching was measured 2.6× WORSE (it blocks AQE
    # re-planning, see local_clustering_coefficient), so instead the
    # intra/m counters now ride the degree pass: each edge explodes into
    # its two part-tagged endpoints, with the edge-level counters (m,
    # intra) carried on the u-endpoint row only, and everything reduces
    # through one cascade of combinable aggregates (endpoint → node →
    # part → 1 row).  Identical arithmetic, half the edge derivations.
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    part = node_part.select(
        F.col(node_col).alias("__n"), F.col(part_col).alias("__p")
    ).distinct()
    pu = part.select(F.col("__n").alias("u"), F.col("__p").alias("__pu"))
    pv = part.select(F.col("__n").alias("v"), F.col("__p").alias("__pv"))
    tagged = e.join(pu, "u", "left").join(pv, "v", "left")
    intra_flag = (
        F.col("__pu").isNotNull() & (F.col("__pu") == F.col("__pv"))
    ).cast("long")
    endpoints = tagged.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("u").alias("node"),
                    F.col("__pu").alias("__p"),
                    F.lit(1).cast("long").alias("__mc"),
                    intra_flag.alias("__ic"),
                ),
                F.struct(
                    F.col("v").alias("node"),
                    F.col("__pv").alias("__p"),
                    F.lit(0).cast("long").alias("__mc"),
                    F.lit(0).cast("long").alias("__ic"),
                ),
            )
        ).alias("__e")
    ).select("__e.*")
    per_node = endpoints.groupBy("node", "__p").agg(
        F.count(F.lit(1)).alias("__d"),
        F.sum("__mc").alias("__mc"),
        F.sum("__ic").alias("__ic"),
    )
    per_part = per_node.select(
        # unassigned nodes: each its own singleton community — keyed
        # by a per-node label so their degree mass still penalizes
        F.coalesce(
            F.col("__p").cast("string"),
            F.concat(F.lit("__solo_"), F.col("node").cast("string")),
        ).alias("__pc"),
        "__d", "__mc", "__ic",
    ).groupBy("__pc").agg(
        F.sum(F.col("__d").cast(dec)).alias("__dc"),
        F.sum("__mc").alias("__mc"),
        F.sum("__ic").alias("__ic"),
        F.count(F.lit(1)).alias("__nn"),
    )
    j = per_part.agg(
        F.coalesce(F.sum("__nn"), F.lit(0)).cast("long").alias("n_nodes"),
        F.coalesce(F.sum("__mc"), F.lit(0)).cast(dec).alias("__m"),
        F.coalesce(F.sum("__ic"), F.lit(0)).cast(dec).alias("__intra"),
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(F.col("__dc") * F.col("__dc")).alias("__sumdc2"),
    )
    mm = F.col("__m")
    num = F.lit(4).cast(dec) * mm * F.col("__intra") - F.col("__sumdc2")
    den = F.lit(4).cast(dec) * mm * mm
    return j.select(
        "n_nodes",
        mm.cast("long").alias("n_edges"),
        "n_parts",
        F.when(
            mm > 0,
            F.round(num.cast("double") / den.cast("double"), 6),
        ).alias("modularity"),
    )


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient — ONE row ``(n_edges,
    assortativity)``: the Pearson correlation of endpoint degrees over
    every edge (both orientations, the standard symmetric convention).
    Positive = hubs attach to hubs (social/collaboration graphs),
    negative = hubs attach to leaves (the hub-and-spoke shape that makes
    hot-key mitigation — degree caps, salting — mandatory downstream);
    THE one-number answer to "is this graph's join skew structural?".

    Exactness: degrees are exact integers; over the 2m orientation rows
    the five moments (M, Σx, Σx², Σxy; Σy ≡ Σx by symmetry) are exact
    DECIMALs, ``r = (M·Σxy − Σx·Σy) / (M·Σx² − (Σx)²)`` (the symmetric
    case needs no sqrt — both marginals are the same distribution), ONE
    IEEE division, rounded 6 dp.  NULL when the variance is 0 (regular
    graph — assortativity undefined).

    Scale shape: one distinct, one combinable degree aggregate, two
    node-keyed equi-joins to tag the edge endpoints, one 1-row reduce.

    Reference parity: no reference counterpart — graph-analytics
    extension next to triangle_participation (driver brief).
    """
    dec = "decimal(38,0)"
    # NOT cached (the local_clustering_coefficient AQE lesson): two
    # pipelined derivations beat a materialization that blocks AQE
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("__d").alias("__du"))
    dv = deg.select(F.col("node").alias("v"), F.col("__d").alias("__dv"))
    tagged = e.join(du, "u").join(dv, "v")
    # both orientations: (du,dv) and (dv,du) — the symmetric convention
    both = tagged.select(
        F.col("__du").alias("x"), F.col("__dv").alias("y")
    ).unionAll(
        tagged.select(F.col("__dv").alias("x"), F.col("__du").alias("y"))
    )
    agg = both.agg(
        F.count(F.lit(1)).cast("long").alias("__m2"),
        F.sum(F.col("x").cast(dec)).alias("__sx"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("__sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("__sxy"),
    )
    mm = F.col("__m2").cast(dec)
    num = mm * F.col("__sxy") - F.col("__sx") * F.col("__sx")
    den = mm * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    return agg.select(
        (F.col("__m2") / 2).cast("long").alias("n_edges"),
        F.when(
            den > 0,
            F.round(num.cast("double") / den.cast("double"), 6),
        ).alias("assortativity"),
    )


def graph_reciprocity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Directed-graph reciprocity — ONE row ``(n_edges, n_reciprocal,
    reciprocity)``: the fraction of directed edges whose reverse edge
    also exists.  The directionality diagnostic the undirected metrics
    (clustering_parts, parts_assortativity) can't see: a trade network
    with reciprocity ≈ 0 is a strict hierarchy (flows never return), ≈ 1
    an undirected market in disguise — which decides whether pagerank's
    directed random walk even means anything on this graph.

    Self-loops are excluded; duplicate directed edges collapse first.
    Reciprocity counting WITHOUT a self-join (the mutual_nn_pairs
    discipline): each directed edge contributes one row to its
    unordered pair key, so a pair seen from BOTH directions has count 2
    — one combinable groupBy, exact integers, one division (rounded
    6 dp).

    Scale shape: one distinct-edge aggregate, one unordered-pair
    aggregate, one 1-row reduce.  No join, no window, no collect.

    Reference parity: no reference counterpart — graph-analytics
    extension next to parts_assortativity (driver brief).
    """
    e = (
        edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
        .filter(
            F.col("__s").isNotNull()
            & F.col("__d").isNotNull()
            & (F.col("__s") != F.col("__d"))
        )
        .distinct()
    )
    pairs = e.select(
        F.least(F.col("__s"), F.col("__d")).alias("__a"),
        F.greatest(F.col("__s"), F.col("__d")).alias("__b"),
    ).groupBy("__a", "__b").agg(F.count(F.lit(1)).alias("__dirs"))
    agg = pairs.agg(
        F.sum("__dirs").cast("long").alias("n_edges"),
        (F.lit(2) * F.sum((F.col("__dirs") == 2).cast("long")))
        .cast("long")
        .alias("n_reciprocal"),
    )
    return agg.select(
        "n_edges",
        "n_reciprocal",
        F.when(
            F.col("n_edges") > 0,
            F.round(
                F.col("n_reciprocal").cast("double")
                / F.col("n_edges").cast("double"),
                6,
            ),
        ).alias("reciprocity"),
    )
