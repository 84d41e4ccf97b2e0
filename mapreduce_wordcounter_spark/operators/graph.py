"""Graph operators over the ``events`` interaction graph.

Two graphs are derived from the event stream, both linear in the input
(never an all-pairs construction):

- the **weighted bipartite graph** user ↔ event_type (edge weight =
  interaction count) — the "entity ↔ category" shape of web-scale
  click/engagement graphs, and
- the **lag-adjacency graph**: consecutive distinct users inside each
  event_type stream (one edge per event row via a lag window) — a
  sparse temporal co-occurrence graph whose edge count is bounded by
  the event count, unlike the usual same-window self-join which is
  quadratic in window occupancy.

On top: weighted PageRank (the canonical iterative MapReduce algorithm
— fitting company for a word counter) and per-node triangle counts
(the canonical multi-way-join one).

Cross-engine exactness: PageRank is computed entirely in **int64
micro-rank units** (1.0 ≡ 10⁹). Every step is integer arithmetic —
``(rank * w) div wsum`` contributions, ``(85 * sum) div 100`` damping —
so the result is bit-identical on any engine and the int64 sums are
accumulation-order-independent (the BM25/zipf quantization posture, but
with no transcendental anywhere: exactness holds universally, not just
corpus-measured).

The reference repo has no graph surface at all (single-input word-count
pipeline, SURVEY.md §2.2; main.go:115-171) — this is extension surface
with exact oracle parity, motivated by the link-graph / co-citation
passes of a web-scale training-data pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_wordcounter_spark.registry import query
from mapreduce_wordcounter_spark.tables import load_table

# PageRank constants. Damping 0.85 is expressed as the integer pair
# (85, 100); ONE is the micro-rank unit scale. K is a fixed iteration
# count (not a convergence read) so the oracle can state the same K
# iterations as unrolled CTEs and the Spark plan stays fully lazy.
_ONE = 1_000_000_000
_K = 5

# Weighted bipartite edges, symmetric. Node ids are strings with a
# one-letter namespace ('u' = user, 't' = event type) so the two node
# families can never collide.
_SQL_BIPARTITE = """
    SELECT 'u' || CAST(user_id AS VARCHAR) AS src,
           't' || event_type AS dst,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM events GROUP BY user_id, event_type
    UNION ALL
    SELECT 't' || event_type AS src,
           'u' || CAST(user_id AS VARCHAR) AS dst,
           CAST(COUNT(*) AS BIGINT) AS w
    FROM events GROUP BY user_id, event_type
"""


def _bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_wordcounter_spark.session import pin

    # Pin the (user, type, count) aggregate: the symmetric union's two
    # branches — and every degree/edge derivation downstream — would
    # otherwise each replay the corpus scan (Catalyst does not dedupe
    # common subplans). One corpus scan, graph-sized cache.
    ev = pin(
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("w"))
    )
    u = F.concat(F.lit("u"), F.col("user_id").cast("string"))
    t = F.concat(F.lit("t"), F.col("event_type"))
    fwd = ev.select(u.alias("src"), t.alias("dst"), "w")
    rev = ev.select(t.alias("src"), u.alias("dst"), "w")
    return fwd.unionAll(rev)


@query(
    "graph_degree_stats",
    oracle=f"""
    WITH edges AS ({_SQL_BIPARTITE})
    SELECT src AS node,
           CAST(COUNT(*) AS BIGINT) AS degree,
           CAST(SUM(w) AS BIGINT) AS weighted_degree
    FROM edges GROUP BY src
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node degree and weighted degree of the bipartite interaction
    graph — the first diagnostic of any graph pipeline (degree skew is
    what decides salting/pre-aggregation strategy for the iterative
    algorithms below).

    Scale: one map-combined groupBy over the edge relation, which is
    itself one groupBy over events — no joins."""
    return _bipartite_edges(spark, sf_dir).groupBy(
        F.col("src").alias("node")
    ).agg(
        F.count("*").alias("degree"),
        F.sum("w").alias("weighted_degree"),
    )


def _pagerank_oracle() -> str:
    """Unrolled-K weighted-PageRank oracle. Each iteration is one CTE;
    DuckDB's SUM(BIGINT) widens to HUGEINT, so every sum is cast back
    to BIGINT to keep the arithmetic (and the result schema) int64 like
    Spark's."""
    iters = []
    prev = "r0"
    for i in range(1, _K + 1):
        iters.append(
            f"""
    r{i} AS (
        SELECT nd.node,
               base.base + (85 * COALESCE(CAST(s.s AS BIGINT), 0)) // 100
                   AS rank
        FROM nodes nd
        CROSS JOIN base
        LEFT JOIN (
            SELECT e.dst AS node, SUM((r.rank * e.w) // d.wsum) AS s
            FROM edges e
            JOIN {prev} r ON e.src = r.node
            JOIN deg d ON e.src = d.src
            GROUP BY e.dst) s ON nd.node = s.node)"""
        )
        prev = f"r{i}"
    return f"""
    WITH edges AS ({_SQL_BIPARTITE}),
    deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wsum
            FROM edges GROUP BY src),
    nodes AS (SELECT src AS node FROM deg),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    base AS (SELECT (({_ONE} // n) * 15) // 100 AS base FROM n),
    r0 AS (SELECT node, {_ONE} // (SELECT n FROM n) AS rank FROM nodes),
    {",".join(iters)}
    SELECT node, rank AS rank_micro FROM {prev}
    """


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the user↔type bipartite graph, K=5
    iterations, damping 0.85, all arithmetic in int64 micro-rank units
    (1.0 ≡ 10⁹): init 10⁹ div N; per-edge contribution
    ``(rank · w) div wsum``; update ``base + (85 · Σcontrib) div 100``.
    Integer div is floor on both engines (operands are non-negative),
    int64 sums are order-independent, so parity is exact by
    construction — no transcendental caveat.

    Scale: the loop is K fixed joins of the rank relation (one row per
    node) with the edge relation on src — each iteration shuffles once
    on src and once on dst (the groupBy), the textbook distributed-
    PageRank profile. The edge+degree relation is pinned since every
    iteration reads it, and — the load-bearing detail — it is
    repartitioned to ~500k edges/partition BEFORE the pin: a cached
    relation freezes its partition layout (AQE cannot re-coalesce
    inside InMemoryRelation), so pinning at the corpus scan's width
    makes every iteration pay scan-width task overhead on a
    graph-sized relation. Partitioning must track |E|, not |corpus|
    (measured 1.9× on the bench graph, 6.2 s → 3.3 s at sf0.1). Contributions are map-side
    combined by the groupBy, so a hub's fan-in aggregates before the
    exchange; the node-sized rank and contribution relations are
    explicitly broadcast while n <= 10M and left to shuffle on node
    above that, where a node-sized broadcast would OOM. One scalar
    node-count driver read (the connected-components posture,
    dedup.py:653). Plans stay bounded
    because K is a constant: no checkpoint needed at K=5; a
    convergence-driven variant would localCheckpoint per iteration
    exactly like connected_components."""
    from mapreduce_wordcounter_spark.session import pin
    from mapreduce_wordcounter_spark.tables import table_rows

    edges = _bipartite_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.sum("w").alias("wsum"))
    e0 = edges.join(deg, "src")  # src, dst, w, wsum — read K times
    # Partition count from catalog statistics (|edges| <= 2·|events|,
    # each event contributes one (user,type) pair per direction at
    # most): a layout knob needs only the right order of magnitude,
    # and the footer-read row count is free where an exact |E| would
    # cost a count job before the pin exists.
    npart = max(4, 2 * table_rows(spark, sf_dir, "events") // 500_000 + 1)
    # Pinned partitioned by DST and materialized eagerly: every
    # iteration's contribution aggregate groups by dst, so once the
    # cache reports hashpartitioning(dst, npart) (isFinalPlan=true —
    # hence the count() below) the K groupBys all reuse the cached
    # layout and plan ZERO exchanges;
    # the ranks side of each join is broadcast (size-gated below), so
    # the join itself never re-partitions e. r12 pinned by src — every
    # iteration paid a full exchange on dst.
    e = pin(e0.repartition(npart, "dst"))
    e.count()  # materializes the pin
    # Node set pinned: it feeds the LEFT side of every iteration's
    # rank update — unpinned, each of the K+1 consumers replays the
    # distinct (one shuffle) over the cached edge relation. Its count
    # is exactly n (bipartite: every node occurs as src), so no
    # separate countDistinct job is needed.
    nodes = pin(e.select(F.col("src").alias("node")).distinct())
    n = nodes.count()
    init = _ONE // n
    base = (init * 15) // 100
    # Join-strategy decision made from the graph-size scalars the query
    # already computed (guide §3.1: pick the strategy deliberately —
    # size estimates, not estimates-of-estimates): the rank/contrib
    # relations are node-sized, so while n is broadcastable every
    # iteration hints BROADCAST explicitly. Unhinted, AQE first plans
    # each iteration's join sort-merge and MATERIALIZES both shuffle
    # maps (K pointless shuffle writes of the pinned edge relation)
    # before converting at runtime; the hint skips those stages
    # outright. Past the threshold (10⁹-node graphs) the hint is not
    # applied and the joins shuffle on node.
    bcast_ranks = n <= 10_000_000
    ranks = nodes.select("node", F.lit(init).alias("rank"))
    for _ in range(_K):
        r_side = F.broadcast(ranks) if bcast_ranks else ranks
        contrib = (
            e.join(r_side, e["src"] == ranks["node"])
            .select("dst", F.expr("(rank * w) div wsum").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        c_side = F.broadcast(contrib) if bcast_ranks else contrib
        ranks = nodes.join(
            c_side, nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            (
                F.lit(base) + F.expr("(85 * coalesce(s, 0)) div 100")
            ).alias("rank"),
        )
    return ranks.select("node", F.col("rank").alias("rank_micro"))


# Lag-adjacency edges: consecutive DISTINCT users inside each
# event_type stream, ordered by (ts, event_id) — event_id breaks
# timestamp ties so the sequence (and therefore the edge set) is
# deterministic on both engines.
_SQL_ADJ = """
    SELECT LEAST(user_id, prev_u) AS user_a,
           GREATEST(user_id, prev_u) AS user_b,
           CAST(COUNT(*) AS BIGINT) AS n_obs
    FROM (
        SELECT user_id,
               LAG(user_id) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS prev_u
        FROM events) s
    WHERE prev_u IS NOT NULL AND prev_u <> user_id
    GROUP BY LEAST(user_id, prev_u), GREATEST(user_id, prev_u)
"""


@query("graph_adjacent_users", oracle=_SQL_ADJ)
def graph_adjacent_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal co-occurrence edges: users adjacent in the same
    event_type stream (lag window), canonicalized a<b, with observation
    counts. This is the scale-safe way to build a co-occurrence graph:
    one edge per event row (lag), O(N) total — the naive
    same-time-window self-join is quadratic in window occupancy and
    melts on hot windows.

    Scale: one window shuffle on event_type (5 partitions here — at
    real scale the stream key would be (event_type, shard) with edges
    unioned across shard boundaries), then a map-combined groupBy on
    the canonical pair."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", F.lag("user_id").over(w).alias("prev_u")
    ).filter(F.col("prev_u").isNotNull() & (F.col("prev_u") != F.col("user_id")))
    return (
        seq.select(
            F.least("user_id", "prev_u").alias("user_a"),
            F.greatest("user_id", "prev_u").alias("user_b"),
        )
        .groupBy("user_a", "user_b")
        .agg(F.count("*").alias("n_obs"))
    )


def _sym_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTINCT symmetrized (a, b) edge relation, pinned. Five
    consumers (common-neighbors, jaccard link scores, k-core peeling,
    modularity, assortativity) each need the undirected adjacency in
    both orientations; without the pin every branch — and every round
    of an iterative consumer — replays the union+distinct over the
    cached adj (Spark's cache manager dedups by logical plan, so one
    pin here is shared across all of them within a session)."""
    from mapreduce_wordcounter_spark.session import pin

    adj = _adj_pinned(spark, sf_dir)
    return pin(
        adj.select(
            F.col("user_a").alias("a"), F.col("user_b").alias("b")
        )
        .union(
            adj.select(
                F.col("user_b").alias("a"), F.col("user_a").alias("b")
            )
        )
        .distinct()
    )


def _adj_pinned(spark: SparkSession, sf_dir: str):
    """The co-occurrence edge list, pinned at a layout sized to the
    GRAPH, not the corpus scan or the cluster: a cached relation
    freezes its partitioning (AQE cannot re-coalesce inside
    InMemoryRelation), so every downstream consumer inherits this
    width. One partition per core as the floor — the self-join
    consumers (triangles, common-neighbors) sort/probe the cached
    relation map-side, and a narrower cache measurably starves them
    (r13 tried 1 partition at sf0.1: triangle family +20% at c32) —
    one per ~2M source events beyond that (events bound the edge
    count from above; the row count is a cached metadata read, not
    the count job r12 ran per call). Shared by the triangle /
    link-prediction / community consumers."""
    from mapreduce_wordcounter_spark.session import pin
    from mapreduce_wordcounter_spark.tables import table_rows

    npart = max(
        spark.sparkContext.defaultParallelism,
        table_rows(spark, sf_dir, "events") // 2_000_000 + 1,
    )
    return pin(graph_adjacent_users(spark, sf_dir).repartition(npart))


@query(
    "graph_triangle_counts",
    oracle=f"""
    WITH adj AS ({_SQL_ADJ}),
    edges AS (SELECT user_a AS a, user_b AS b FROM adj),
    tri AS (
        SELECT e1.a AS a, e1.b AS b, e2.b AS c
        FROM edges e1
        JOIN edges e2 ON e2.a = e1.b
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT a AS user_id FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri) x
    GROUP BY user_id
    """,
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the lag-adjacency graph — the
    local-clustering signal (spam/bot subgraphs are triangle-dense;
    crawl frontiers are triangle-sparse). Each triangle a<b<c is
    enumerated exactly once from canonically-oriented edges:
    e1=(a,b), e2=(b,c), e3=(a,c) with a<b<c by construction, then
    credited to all three corners.

    Scale: the two joins are equi-joins on node id (shuffle, or
    broadcast if the edge list fits). The a<b orientation is the
    standard degree-ordering trick's cheap cousin: each wedge is
    generated from its smallest corner only, so path fan-out is
    bounded by Σ deg²_oriented, not Σ deg² — on skewed graphs the full
    degree-ordering (orient low-degree → high-degree) drops it
    further and would slot in here as an extra ORDER BY degree on the
    canonicalization. Measured (round 5): on THIS near-uniform lag
    graph the degree-ordered variant is ~2.7x SLOWER (4.3 s -> 11.6 s
    at sf0.1, identical output) — the two extra degree joins cost more
    than the wedge reduction saves when no hubs exist; adopt it only
    when the degree histogram says so (the skew_top_keys audit is the
    trigger)."""
    # Pinned, graph-sized layout: e1/e2/e3 are three branches over the
    # SAME relation — unpinned, each replays the corpus scan + lag
    # window; corpus-width pinning drags scan-width task overhead
    # through every join (see _adj_pinned).
    E = _adj_pinned(spark, sf_dir).select("user_a", "user_b")
    e1 = E.select(F.col("user_a").alias("a"), F.col("user_b").alias("b"))
    e2 = E.select(F.col("user_a").alias("a2"), F.col("user_b").alias("c"))
    e3 = E.select(F.col("user_a").alias("a3"), F.col("user_b").alias("b3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("a2"))
        .join(e3, (F.col("a3") == F.col("a")) & (F.col("b3") == F.col("c")))
        .select("a", "b", "c")
    )
    corners = (
        tri.select(F.col("a").alias("user_id"))
        .unionAll(tri.select(F.col("b").alias("user_id")))
        .unionAll(tri.select(F.col("c").alias("user_id")))
    )
    return corners.groupBy("user_id").agg(F.count("*").alias("n_triangles"))


@query(
    "graph_user_components",
    oracle=f"""
    WITH RECURSIVE
    adj AS ({_SQL_ADJ}),
    sym AS (SELECT user_a AS a, user_b AS b FROM adj
            UNION SELECT user_b, user_a FROM adj),
    nodes AS (SELECT DISTINCT a FROM sym),
    reach(src, dst) AS (
        SELECT a, a FROM nodes
        UNION
        SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a)
    SELECT src AS user_id, MIN(dst) AS component_id,
           CAST(src = MIN(dst) AS BOOLEAN) AS is_canonical
    FROM reach GROUP BY src
    """,
)
def graph_user_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the user co-occurrence graph — the
    community-seed / bot-ring primitive, reusing the iterative
    min-label CC core that near-dup clustering uses (one loop, two
    graph domains: operators compose across modules by design).

    Scale: see dedup.connected_components — rounds ∝ component
    diameter, localCheckpoint per round, scalar-only driver reads. The
    oracle states the fixpoint as a recursive CTE (affordable at test
    scale only)."""
    from mapreduce_wordcounter_spark.operators.dedup import (
        connected_components,
    )

    edges = graph_adjacent_users(spark, sf_dir).select(
        F.col("user_a").alias("doc_a"), F.col("user_b").alias("doc_b")
    )
    return connected_components(edges).select(
        F.col("doc_id").alias("user_id"),
        F.col("canonical_id").alias("component_id"),
        "is_canonical",
    )


@query(
    "graph_cc_twophase",
    oracle=f"""
    WITH RECURSIVE
    adj AS ({_SQL_ADJ}),
    sym AS (SELECT user_a AS a, user_b AS b FROM adj
            UNION SELECT user_b, user_a FROM adj),
    nodes AS (SELECT DISTINCT a FROM sym),
    reach(src, dst) AS (
        SELECT a, a FROM nodes
        UNION
        SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a)
    SELECT src AS user_id, MIN(dst) AS component_id,
           CAST(src = MIN(dst) AS BOOLEAN) AS is_canonical
    FROM reach GROUP BY src
    """,
)
def graph_cc_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    (dedup.cc_two_phase) — the SCALE TWIN of graph_user_components'
    min-label loop over the same co-occurrence graph, with the same
    fixpoint and the same oracle. The min-label loop pays one round
    per hop of component diameter (right for shallow near-dup
    clusters); the star algorithm converges in O(log² n) rounds
    regardless of diameter — on a 10⁹-node chain-heavy graph that is
    the difference between hundreds of shuffle rounds and ~a dozen.
    The chain-graph pytest pins exactly that round bound; equality
    with the min-label labeling is pinned alongside."""
    from mapreduce_wordcounter_spark.operators.dedup import cc_two_phase

    edges = graph_adjacent_users(spark, sf_dir).select(
        F.col("user_a").alias("doc_a"), F.col("user_b").alias("doc_b")
    )
    return cc_two_phase(edges).select(
        F.col("doc_id").alias("user_id"),
        F.col("canonical_id").alias("component_id"),
        "is_canonical",
    )


def _lpa_oracle(k: int) -> str:
    """Unrolled-K label-propagation oracle. Each round: every node
    adopts the label with the highest total incident edge weight among
    its neighbors' current labels (ties → smallest label). Integer
    weights + total-order tie-break = engine-exact."""
    rounds = []
    prev = "l0"
    for i in range(1, k + 1):
        rounds.append(
            f"""
    l{i} AS (
        SELECT node, label FROM (
            SELECT e.b AS node, l.label,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.b
                       ORDER BY SUM(e.w) DESC, l.label) AS rk
            FROM sym e JOIN {prev} l ON e.a = l.node
            GROUP BY e.b, l.label) x
        WHERE rk = 1)"""
        )
        prev = f"l{i}"
    return f"""
    WITH adj AS ({_SQL_ADJ}),
    sym AS (SELECT user_a AS a, user_b AS b, n_obs AS w FROM adj
            UNION ALL SELECT user_b, user_a, n_obs FROM adj),
    l0 AS (SELECT DISTINCT a AS node, a AS label FROM sym),
    {",".join(rounds)}
    SELECT node AS user_id, label AS community_id FROM {prev}
    """


_LPA_K = 3


def _lpa_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The K-round synchronous LPA chain itself (see
    graph_label_propagation for semantics). Runs once per (session,
    sf_dir); consumers read the labels AT REST via _lpa_labels."""
    from pyspark.sql import Window as W

    from mapreduce_wordcounter_spark.session import pin

    adj = _adj_pinned(spark, sf_dir)
    sym = pin(
        adj.select(
            F.col("user_a").alias("a"),
            F.col("user_b").alias("b"),
            F.col("n_obs").alias("w"),
        ).unionAll(
            adj.select(
                F.col("user_b").alias("a"),
                F.col("user_a").alias("b"),
                F.col("n_obs").alias("w"),
            )
        )
    )
    labels = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    rk_w = W.partitionBy("node").orderBy(F.desc("wsum"), F.asc("label"))
    for _ in range(_LPA_K):
        votes = (
            sym.join(labels, sym["a"] == labels["node"])
            .groupBy(sym["b"].alias("node2"), "label")
            .agg(F.sum("w").alias("wsum"))
            .withColumnRenamed("node2", "node")
        )
        labels = (
            votes.withColumn("rk", F.row_number().over(rk_w))
            .filter(F.col("rk") == 1)
            .select("node", "label")
        )
    return labels.select(
        F.col("node").alias("user_id"), F.col("label").alias("community_id")
    )


# --- LPA labels AT REST ------------------------------------------------------
#
# The ANN index posture (similarity.py) applied to the graph family: a
# community assignment is trained once, offline, and read by many
# consumers (modularity, per-community rollups, the standalone query);
# replaying the K-round chain inside every consumer both misprices the
# read path and recomputes needlessly (measured: modularity spent ~5 s
# of its 6.3 s re-running LPA at sf0.1). First use per (session,
# sf_dir) runs the chain and writes the label table to session-scratch
# parquet (atexit-cleaned); every read — including the registered
# query itself — comes from the table. The DuckDB oracle still replays
# the training from scratch, so the at-rest content stays
# differentially verified end-to-end.
def _lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained label table as a CATALOG artifact (r9): keyed on
    the documents table's fingerprint + K, published once, reused
    across SparkSessions (sources/index_catalog.py)."""
    import os as _os

    from mapreduce_wordcounter_spark.sources import index_catalog as ic

    def build(data: str) -> None:
        _lpa_train(spark, sf_dir).write.parquet(data + "/labels")

    rel = ic.table_index(
        spark,
        "lpa",
        [_os.path.join(sf_dir, "events.parquet")],  # the LPA graph's source
        {"k": _LPA_K},
        build,
        ["labels"],
    )
    return rel["labels"]


@query("graph_label_propagation", oracle=_lpa_oracle(_LPA_K))
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    weighted co-occurrence graph, K=3 rounds: each round every node
    adopts its neighborhood's weight-dominant label (argmax by summed
    edge weight, ties broken toward the smaller label, stated as a
    rank window so the choice is total-ordered and engine-exact).
    Synchronous LPA is the determinism-friendly variant — the
    asynchronous classic converges faster but is update-order-defined,
    which no cross-engine oracle could pin. Labels are trained once
    per (session, sf_dir) and served from an at-rest parquet table
    (_lpa_labels above); the oracle replays the full chain, keeping
    the at-rest content differentially verified.

    Scale (of the training chain): per round, one join of the label
    relation (|V| rows) onto the symmetrized edge list and one
    (node, label) aggregate + rank window partitioned by node — two
    shuffles per round, K constant. The edge relation is pinned across
    rounds (the PageRank posture); label skew (a community absorbing
    the graph) pre-aggregates in the partial (node, label) combine
    before the exchange. The at-rest read path is a node-grain parquet
    scan."""
    return _lpa_labels(spark, sf_dir)


# Midpoint degree ceiling for wedge generation. On power-law graphs
# the wedge join's fan-out is Σ deg(mid)² and hub midpoints dominate
# it while contributing mostly noise to common-neighbor scores (every
# pair "shares" the hub); dropping midpoints above a ceiling is the
# standard mitigation and bounds the join at cap·|V_mid| regardless of
# skew. 96 prunes the dense upper half of the bench graph (sf0.1:
# candidate pairs 1.03M → 72.5k, wedge volume 11.2M → 0.6M) while
# staying non-degenerate at every test SF.
_CN_DEG_CAP = 96


def _wedge_cand_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-capped wedge candidates (x, y, n_common) for non-edge
    pairs at distance 2 — the shared candidate relation of BOTH link-
    prediction scores (raw common-neighbor counts and Jaccard).
    Pinned: the relation is candidate-pair-sized (72.5k rows at
    sf0.1), and computing it twice per bench pass would redo the one
    genuinely wide join in the family.

    Construction: the node-sized degree ceiling relation broadcasts
    onto the wedge join's build side BEFORE the join, so capped-out
    hubs never fan out; sym is distinct, so a plain map-combined
    COUNT(*) equals COUNT(DISTINCT mid) without the distinct-
    aggregate's two-phase state (measured 4x on the bench graph,
    where uncapped wedge volume is ~25M rows at sf0.1)."""
    from mapreduce_wordcounter_spark.session import pin

    adj = _adj_pinned(spark, sf_dir)
    sym = _sym_pinned(spark, sf_dir)
    deg = sym.groupBy("a").agg(F.count("*").alias("d"))
    mid_ok = deg.filter(F.col("d") <= _CN_DEG_CAP).select(
        F.col("a").alias("mid_ok")
    )
    s1 = sym.select(F.col("a").alias("x"), F.col("b").alias("mid")).join(
        F.broadcast(mid_ok), F.col("mid") == F.col("mid_ok")
    )
    s2 = sym.select(F.col("a").alias("mid2"), F.col("b").alias("y"))
    wedges = (
        s1.join(s2, F.col("mid") == F.col("mid2"))
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("n_common"))
    )
    edges = adj.select(
        F.col("user_a").alias("x"), F.col("user_b").alias("y")
    )
    return pin(wedges.join(edges, ["x", "y"], "left_anti"))



@query(
    "graph_common_neighbors",
    oracle=f"""
    WITH adj AS ({_SQL_ADJ}),
    sym AS (SELECT user_a AS a, user_b AS b FROM adj
            UNION SELECT user_b, user_a FROM adj),
    deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a),
    mid_ok AS (SELECT a FROM deg WHERE d <= {_CN_DEG_CAP}),
    wedges AS (
        -- sym is DISTINCT, so each (x, mid, y) wedge occurs exactly
        -- once: COUNT(*) == COUNT(DISTINCT mid), without the
        -- two-phase distinct aggregation state. Midpoints above the
        -- degree ceiling are dropped BEFORE the wedge join (same cap
        -- as the Spark plan).
        SELECT s1.a AS x, s2.b AS y,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sym s1
        JOIN mid_ok m ON s1.b = m.a
        JOIN sym s2 ON s1.b = s2.a
        WHERE s1.a < s2.b
        GROUP BY s1.a, s2.b),
    cand AS (
        SELECT w.x, w.y, w.n_common FROM wedges w
        WHERE NOT EXISTS (SELECT 1 FROM adj e
                          WHERE e.user_a = w.x AND e.user_b = w.y))
    SELECT x AS user_a, y AS user_b, n_common
    FROM cand
    ORDER BY n_common DESC, user_a, user_b
    LIMIT 20
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by common-neighbor counting: the 20
    highest-scoring NON-edges (x, y) ranked by how many LOW-DEGREE
    neighbors they share — the integer-exact core of Adamic-Adar/
    Jaccard link scores (those add a transcendental or ratio on top of
    this count; Adamic-Adar's 1/log(deg) weight is exactly the insight
    the hard cap applies as a step function: hub midpoints carry ~no
    signal). The candidate set is wedge-generated, so only pairs at
    distance 2 through a sub-ceiling midpoint are ever scored — never
    the |V|² candidate space.

    Scale: one equi-join on the wedge midpoint, whose fan-out is
    Σ deg(mid)² over SURVIVING midpoints only — the degree ceiling
    (the jaccard_capped_pairs posture, dedup.py) bounds it at
    cap²·|V_mid| no matter how skewed the graph, where the uncapped
    join melts on the first hub at 100× scale. Then a map-combined
    count per pair and an anti-join against the edge list. Top-k is a
    TakeOrdered, no global sort. Same cap in the oracle, so the
    pruned semantics are differentially verified, not just faster.
    Measured at sf0.1: 7.96 s → 2.8 s (wedge volume
    11.2M → 0.6M rows); the candidate relation itself is shared,
    pinned, with graph_jaccard_neighbors (_wedge_cand_pinned)."""
    return (
        _wedge_cand_pinned(spark, sf_dir)
        .select(
            F.col("x").alias("user_a"),
            F.col("y").alias("user_b"),
            "n_common",
        )
        .orderBy(F.desc("n_common"), F.asc("user_a"), F.asc("user_b"))
        .limit(20)
    )


@query(
    "graph_degree_assortativity",
    oracle=f"""
    WITH adj AS ({_SQL_ADJ}),
    sym AS (SELECT user_a AS a, user_b AS b FROM adj
            UNION SELECT user_b, user_a FROM adj),
    deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a),
    ed AS (
        SELECT da.d AS x, db.d AS y
        FROM sym e JOIN deg da ON e.a = da.a JOIN deg db ON e.b = db.a),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM ed)
    SELECT m,
           ROUND((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(m AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 6) AS assortativity
    FROM s
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity: Pearson correlation of (deg(u), deg(v))
    over directed edge endpoints — one scalar separating hub-to-hub
    graphs (positive, social networks) from hub-to-leaf (negative,
    web/bot topologies). Every moment is an exact int64 sum of integer
    degrees; the final formula is identical correctly-rounded IEEE
    arithmetic on both engines — exact parity, no margin caveat.

    Scale: two broadcast-able joins of the degree relation onto the
    edge list, then a single map-combined moment aggregate — one pass
    over edges."""
    adj = _adj_pinned(spark, sf_dir)
    sym = _sym_pinned(spark, sf_dir)
    deg = sym.groupBy("a").agg(F.count("*").alias("d"))
    da = deg.select(F.col("a"), F.col("d").alias("x"))
    db = deg.select(F.col("a").alias("b2"), F.col("d").alias("y"))
    ed = sym.join(da, "a").join(db, sym["b"] == db["b2"]).select("x", "y")
    s = ed.agg(
        F.count("*").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("m").cast("double") * F.col("sxy") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    den = F.sqrt(
        F.col("m").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(
        F.col("m").cast("double") * F.col("syy")
        - F.col("sy").cast("double") * F.col("sy")
    )
    return s.select("m", F.round(num / den, 6).alias("assortativity"))


@query(
    "graph_modularity",
    oracle=f"""
    WITH lp AS ({_lpa_oracle(_LPA_K).replace(chr(10), chr(10) + '    ')}),
    adj AS ({_SQL_ADJ}),
    sym AS (SELECT user_a AS a, user_b AS b FROM adj
            UNION SELECT user_b, user_a FROM adj),
    deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a),
    m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM sym),
    intra AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS e_in
        FROM sym e
        JOIN lp la ON e.a = la.user_id
        JOIN lp lb ON e.b = lb.user_id
        WHERE la.community_id = lb.community_id),
    dc AS (
        SELECT lp.community_id, CAST(SUM(deg.d) AS BIGINT) AS d_c
        FROM lp JOIN deg ON lp.user_id = deg.a
        GROUP BY lp.community_id),
    dterm AS (
        SELECT CAST(SUM(d_c * d_c) AS BIGINT) AS sum_dc2 FROM dc)
    SELECT (SELECT CAST(COUNT(DISTINCT community_id) AS BIGINT) FROM lp)
               AS n_communities,
           ROUND(CAST(i.e_in AS DOUBLE) / m.m2
                 - CAST(d.sum_dc2 AS DOUBLE) / (CAST(m.m2 AS DOUBLE) * m.m2),
                 6) AS modularity
    FROM intra i CROSS JOIN m2 m CROSS JOIN dterm d
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the label-propagation communities —
    Q = e_in/2m − Σ_c (d_c/2m)², the one-scalar judgment of whether
    the community structure beats random expectation (Q≈0 on this
    near-uniform synthetic graph — the machinery, not sociology, is
    what's verified). All counts (intra-community directed edges, per-
    community degree sums, 2m) are exact int64; the two divisions are
    identical IEEE ops — exact parity.

    Scale: composes the audited LPA labels with two node-grain joins
    onto the edge list and community-grain aggregates — nothing wider
    than LPA itself."""
    from mapreduce_wordcounter_spark.session import pin

    # Labels come from the AT-REST table (_lpa_labels): e_in's two
    # sides, the degree rollup and the community count are FOUR
    # branches over the same relation, and before the at-rest posture
    # each replayed the full K-round LPA chain (r4: 6.3 s at sf0.1,
    # ~5 s of it recompute; now the chain runs once per session and
    # every branch reads a node-grain parquet). Still pinned: four
    # branches → one in-memory scan instead of four file reads.
    labels = pin(_lpa_labels(spark, sf_dir))
    adj = _adj_pinned(spark, sf_dir)
    sym = _sym_pinned(spark, sf_dir)
    deg = sym.groupBy("a").agg(F.count("*").alias("d"))
    la = labels.select(
        F.col("user_id").alias("a"), F.col("community_id").alias("ca")
    )
    lb = labels.select(
        F.col("user_id").alias("b"), F.col("community_id").alias("cb")
    )
    e_in = (
        sym.join(la, "a")
        .join(lb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .agg(F.count("*").alias("e_in"))
    )
    m2 = sym.agg(F.count("*").alias("m2"))
    dc = (
        labels.join(deg, labels["user_id"] == deg["a"])
        .groupBy("community_id")
        .agg(F.sum("d").alias("d_c"))
    )
    dterm = dc.agg(F.sum(F.col("d_c") * F.col("d_c")).alias("sum_dc2"))
    ncomm = labels.agg(
        F.countDistinct("community_id").alias("n_communities")
    )
    q = F.round(
        F.col("e_in").cast("double") / F.col("m2")
        - F.col("sum_dc2").cast("double")
        / (F.col("m2").cast("double") * F.col("m2")),
        6,
    )
    return (
        e_in.join(F.broadcast(m2))
        .join(F.broadcast(dterm))
        .join(F.broadcast(ncomm))
        .select("n_communities", q.alias("modularity"))
    )


# k-core peeling: fixed number of peel rounds (the PageRank/LPA
# fixed-K posture — a convergence-driven variant would localCheckpoint
# per round like connected_components). The threshold adapts to the
# graph: k = ceil(mean degree), computed in pure integer arithmetic
# ((Σd + n − 1) div n) so both engines derive the identical constant.
_KCORE_ROUNDS = 3


def _kcore_oracle(rounds: int) -> str:
    parts = [
        f"adj AS ({_SQL_ADJ})",
        """sym AS (SELECT user_a AS a, user_b AS b FROM adj
            UNION SELECT user_b, user_a FROM adj)""",
        "deg0 AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a)",
        """kk AS (SELECT CAST((CAST(SUM(d) AS BIGINT) + COUNT(*) - 1)
                             // COUNT(*) AS BIGINT) AS k FROM deg0)""",
        "n1 AS (SELECT a FROM deg0 CROSS JOIN kk WHERE d >= k)",
    ]
    for i in range(1, rounds):
        parts.append(
            f"""e{i} AS (SELECT s.a, s.b FROM sym s
             JOIN n{i} x ON s.a = x.a JOIN n{i} y ON s.b = y.a)"""
        )
        parts.append(
            f"d{i} AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d"
            f" FROM e{i} GROUP BY a)"
        )
        parts.append(
            f"n{i + 1} AS (SELECT a FROM d{i} CROSS JOIN kk WHERE d >= k)"
        )
    r = rounds
    joined = ",\n    ".join(parts)
    return f"""
    WITH {joined},
    ef AS (SELECT s.a, s.b FROM sym s
           JOIN n{r} x ON s.a = x.a JOIN n{r} y ON s.b = y.a)
    SELECT a AS user_id, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM ef GROUP BY a
    """


@query("graph_kcore_peel", oracle=_kcore_oracle(_KCORE_ROUNDS))
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-core extraction by iterative peeling: K=3 rounds of
    "drop every node whose degree within the surviving subgraph is
    below k", k = ceil(mean degree) of the original graph — the
    bounded-round approximation of the k-core (true k-core iterates
    to fixpoint; fixed K keeps the plan finite and the oracle
    unrollable, and in practice a handful of rounds removes almost
    everything a fixpoint would). Output: surviving nodes with their
    final in-core degree — the spam-ring / dense-community seed the
    triangle and LPA passes refine.

    Scale: each round is two node-set semi-joins onto the pinned edge
    list + one map-combined degree count — same per-round shuffle
    profile as LPA, K constant. The node set only shrinks, so round
    cost is monotonically non-increasing; the k constant is one
    scalar driver read (the CC counter posture)."""
    adj = _adj_pinned(spark, sf_dir)
    sym = _sym_pinned(spark, sf_dir)
    deg = sym.groupBy("a").agg(F.count("*").alias("d"))
    row = deg.agg(
        F.coalesce(F.sum("d"), F.lit(0)).alias("sd"),
        F.count("*").alias("n"),
    ).first()
    if int(row["n"]) == 0:
        # Degenerate corpus with no co-occurrence edges: sum(d) would
        # be NULL and the ceil-div below meaningless — the k-core of
        # an empty graph is empty (same schema, zero rows).
        return sym.groupBy("a").agg(
            F.count("*").alias("core_degree")
        ).select(F.col("a").alias("user_id"), "core_degree")
    k = (int(row["sd"]) + int(row["n"]) - 1) // int(row["n"])
    from mapreduce_wordcounter_spark.session import pin

    # Each round references the surviving node set TWICE (once per
    # join side): left as lazy lineage, the prior round's subtree
    # executes 2x per round — 2^K blowup by round K (measured 7.2 s
    # at sf0.1). The node set is node-sized, so pin it per round:
    # every round then starts from a materialized relation (4.2 s
    # standalone — the residue is the shared adjacency build — and
    # 2.9 s inside a bench pass where that pin is already warm).
    nodes = pin(deg.filter(F.col("d") >= k).select("a"))
    for _ in range(_KCORE_ROUNDS - 1):
        na = nodes.select(F.col("a").alias("xa"))
        nb = nodes.select(F.col("a").alias("xb"))
        e = sym.join(na, F.col("a") == F.col("xa")).join(
            nb, F.col("b") == F.col("xb")
        )
        d2 = e.groupBy("a").agg(F.count("*").alias("d"))
        nodes = pin(d2.filter(F.col("d") >= k).select("a"))
    na = nodes.select(F.col("a").alias("xa"))
    nb = nodes.select(F.col("a").alias("xb"))
    ef = sym.join(na, F.col("a") == F.col("xa")).join(
        nb, F.col("b") == F.col("xb")
    )
    return ef.groupBy("a").agg(F.count("*").alias("core_degree")).select(
        F.col("a").alias("user_id"), "core_degree"
    )


@query(
    "graph_jaccard_neighbors",
    oracle=f"""
    WITH adj AS ({_SQL_ADJ}),
    sym AS (SELECT user_a AS a, user_b AS b FROM adj
            UNION SELECT user_b, user_a FROM adj),
    deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a),
    mid_ok AS (SELECT a FROM deg WHERE d <= {_CN_DEG_CAP}),
    wedges AS (
        SELECT s1.a AS x, s2.b AS y,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM sym s1
        JOIN mid_ok m ON s1.b = m.a
        JOIN sym s2 ON s1.b = s2.a
        WHERE s1.a < s2.b
        GROUP BY s1.a, s2.b),
    cand AS (
        SELECT w.x, w.y, w.n_common FROM wedges w
        WHERE NOT EXISTS (SELECT 1 FROM adj e
                          WHERE e.user_a = w.x AND e.user_b = w.y))
    SELECT c.x AS user_a, c.y AS user_b, c.n_common,
           ROUND(CAST(c.n_common AS DOUBLE)
                 / (dx.d + dy.d - c.n_common), 6) AS jaccard
    FROM cand c
    JOIN deg dx ON c.x = dx.a
    JOIN deg dy ON c.y = dy.a
    ORDER BY jaccard DESC, c.n_common DESC, user_a, user_b
    LIMIT 20
    """,
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction, normalized tier: Jaccard similarity of
    neighbor sets — n_common / (deg(x) + deg(y) − n_common) — over
    the same degree-capped wedge candidates as
    graph_common_neighbors. The normalization is what makes scores
    comparable across degree scales (raw CN favors high-degree
    pairs); arithmetic is exact int64 counts with one closing IEEE
    division + ROUND on both engines, so no transcendental caveat
    (the denominator approximates |N(x) ∪ N(y)| with FULL degrees
    while n_common counts sub-ceiling midpoints only — a documented,
    oracle-matched convention: capped intersection, uncapped union,
    i.e. a lower bound on true Jaccard).

    Scale: identical wedge profile to graph_common_neighbors
    (fan-out bounded by the midpoint degree ceiling) plus two
    node-grain degree joins — the degree relation is node-sized, so
    AQE broadcasts it at test scale and shuffles at 10⁹ nodes.
    Top-k is a TakeOrdered with a total-order tie-break."""
    sym = _sym_pinned(spark, sf_dir)
    deg = sym.groupBy("a").agg(F.count("*").alias("d"))
    cand = _wedge_cand_pinned(spark, sf_dir)
    dx = deg.select(F.col("a").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("a").alias("y"), F.col("d").alias("dy"))
    jac = F.round(
        F.col("n_common").cast("double")
        / (F.col("dx") + F.col("dy") - F.col("n_common")),
        6,
    )
    return (
        cand.join(dx, "x")
        .join(dy, "y")
        .select(
            F.col("x").alias("user_a"),
            F.col("y").alias("user_b"),
            "n_common",
            jac.alias("jaccard"),
        )
        .orderBy(
            F.desc("jaccard"),
            F.desc("n_common"),
            F.asc("user_a"),
            F.asc("user_b"),
        )
        .limit(20)
    )
