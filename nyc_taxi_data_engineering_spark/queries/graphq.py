"""Graph analytics queries — iterative PageRank over the trade graph
(operators/graph.py), the keyed-join/agg formulation of the family
GraphX/GraphFrames cover, with every iteration's arithmetic
deterministic enough to sit under the exact DuckDB oracle gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Plain loader on purpose (optimization r12, guide §2.4 "remove shuffles
# outright"): every graphq input feeds a fact-fact JOIN whose own
# exchange already parallelizes downstream work, so fan_out's
# round-robin repartition was a pure extra shuffle of the fact tables
# (interleaved A/B on the purchase edge build at sf0.1: 1.8-2.1 s with
# fan_out vs 1.3-1.4 s without; at cluster scale fan_out is a no-op for
# multi-row-group inputs, so this only removes local overhead).
from nyc_taxi_data_engineering_spark.catalog import load_table
from nyc_taxi_data_engineering_spark.operators.cooccur import cooccurrence_pairs_sql
from nyc_taxi_data_engineering_spark.operators.graph import pagerank, pagerank_sql
from nyc_taxi_data_engineering_spark.queries.registry import query

_EDGES_CTE = """pairs AS (
    SELECT DISTINCT 'c' || o_custkey AS c_node, 's' || l_suppkey AS s_node
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
),
edges AS (
    SELECT c_node AS src, s_node AS dst FROM pairs
    UNION ALL
    SELECT s_node AS src, c_node AS dst FROM pairs
)"""


# Bipartite node-id transport (optimization r12, guide §2.3 "narrower
# types"): the customer/supplier node space rides every join, distinct,
# agg and shuffle of the iterative graph queries as ONE LONG — customer
# k encodes to 2k, supplier k to 2k+1 — and decodes to the oracle's
# 'c<k>' / 's<k>' strings only in the terminal projection. Scores and
# hop counts depend only on graph STRUCTURE (order-independent decimal
# sums / integer mins — no operator orders by node id), so results are
# bit-identical to the string-keyed form; the shuffled key shrinks from
# a ~6-17 char string to 8 bytes and hash/compare work cheapens with it
# (pagerank_purchase_sinks median-noop −25% at sf0.1, interleaved A/B).
def _enc_c(col: str):
    return F.col(col) * 2


def _enc_s(col: str):
    return F.col(col) * 2 + 1


# Source-node constants ('c<k>' / 's<k>') encoded into the long
# transport by the SAME mapping — derived, not hardcoded (ADVICE r12:
# a literal 2/3 next to BFS_SOURCE='s1' desynchronizes silently if
# either constant changes).
def _enc_c_id(node: str) -> int:
    assert node.startswith("c"), node
    return int(node[1:]) * 2


def _enc_s_id(node: str) -> int:
    assert node.startswith("s"), node
    return int(node[1:]) * 2 + 1


def _decode_node():
    n = F.col("node")
    return F.concat(
        F.when(n % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
        F.shiftright(n, 1).cast("string"),
    ).alias("node")


@query("pagerank_trade_graph", oracle=pagerank_sql(_EDGES_CTE))
def q_pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the bidirected customer↔supplier
    trade graph (an edge per distinct customer/supplier trading pair
    from orders⋈lineitem). Each round is one keyed equi-join + one
    hash agg with map-side combine; contributions round to 12 dp and
    sum as DECIMAL(28,12), so the oracle (the same iterations as
    nested CTEs) matches every rank double bit-for-bit. Bidirecting
    the bipartite graph gives every node an out-edge — no dangling
    mass — and makes the walk genuinely mix across rounds."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(_enc_c("o_custkey").alias("c_node"), _enc_s("l_suppkey").alias("s_node"))
        .distinct()
    )
    edges = pairs.select(F.col("c_node").alias("src"), F.col("s_node").alias("dst")).unionByName(
        pairs.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst"))
    )
    return pagerank(edges).select(_decode_node(), "rank")


_SINK_EDGES_CTE = """edges AS (
    SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
)"""


@query("pagerank_purchase_sinks", oracle=pagerank_sql(_SINK_EDGES_CTE))
def q_pagerank_purchase_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the DIRECTED customer→supplier purchase graph —
    every supplier is a sink (no out-edges), so this query exercises
    the dangling-mass term that general link/citation graphs need:
    each round one 1-row broadcast aggregate collects the rank mass
    sitting on sinks and redistributes it uniformly, keeping total
    mass at 1.0 instead of silently leaking it. Rank concentrates on
    widely-bought suppliers (authority), while customers keep only
    teleport + their share of the redistributed mass. Same bit-exact
    12-dp DECIMAL replay as the bidirected variant; the oracle runs
    the identical iterations (including the per-round dangling sum)
    as nested CTEs."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(_enc_c("o_custkey").alias("src"), _enc_s("l_suppkey").alias("dst"))
        .distinct()
    )
    return pagerank(edges).select(_decode_node(), "rank")


_COPURCHASE_LINKS = """links AS (
    SELECT l_suppkey AS e, o_custkey AS ctx
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
)"""
COPURCHASE_DEGREE_CAP = 50
COPURCHASE_MIN_SHARED = 2


@query(
    "supplier_copurchase_pairs",
    oracle=cooccurrence_pairs_sql(
        _COPURCHASE_LINKS, degree_cap=COPURCHASE_DEGREE_CAP, min_shared=COPURCHASE_MIN_SHARED
    ),
)
def q_supplier_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier pairs co-purchased by ≥2 shared customers — the
    item-item co-occurrence mining step (operators/cooccur), with the
    hot-context lever live: customers linked to more than 50 suppliers
    are dropped before the self-join (a pure-popularity context carries
    no association signal, and its d²/2 pairs are the one thing that
    doesn't scale). One distinct, one degree filter, one keyed
    self-join, one pair agg."""
    from nyc_taxi_data_engineering_spark.operators.cooccur import cooccurrence_pairs

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    links = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("l_suppkey").alias("supplier"), F.col("o_custkey").alias("customer")
    )
    return cooccurrence_pairs(
        links,
        "supplier",
        "customer",
        degree_cap=COPURCHASE_DEGREE_CAP,
        min_shared=COPURCHASE_MIN_SHARED,
    ).select(F.col("a"), F.col("b"), "shared_contexts")


_WEDGES_CTE = """wpairs AS (
    SELECT 'c' || o_custkey AS c_node, 's' || l_suppkey AS s_node,
           COUNT(DISTINCT o_orderkey) AS w
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_custkey, l_suppkey
),
edges AS (
    SELECT c_node AS src, s_node AS dst, w FROM wpairs
    UNION ALL
    SELECT s_node AS src, c_node AS dst, w FROM wpairs
)"""


@query("pagerank_weighted_trade", oracle=pagerank_sql(_WEDGES_CTE, weighted=True))
def q_pagerank_weighted_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the same trade graph, edge weight =
    number of distinct orders between the pair: the surfer follows an
    edge with probability w / strength(src), so rank concentrates on
    heavy trading relationships instead of mere connectivity. Same
    per-round keyed-join + hash-agg shape and the same bit-exact
    oracle replay; only the contribution formula generalizes
    (rank·w/strength, integer weights)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    wpairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            _enc_c("o_custkey").alias("c_node"), _enc_s("l_suppkey").alias("s_node")
        )
        .agg(F.count_distinct("o_orderkey").alias("w"))
    )
    edges = wpairs.select(
        F.col("c_node").alias("src"), F.col("s_node").alias("dst"), "w"
    ).unionByName(wpairs.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst"), "w"))
    return pagerank(edges, weight="w").select(_decode_node(), "rank")


from nyc_taxi_data_engineering_spark.operators.cooccur import cooccurrence_pairs
from nyc_taxi_data_engineering_spark.operators.graph import (
    triangle_counts,
    triangle_counts_sql,
)


TRIANGLE_TOPK = 5  # kNN-graph degree: each supplier keeps its 5 closest partners


def _knn_copurchase_edges_sql() -> str:
    pairs = cooccurrence_pairs_sql(
        _COPURCHASE_LINKS,
        degree_cap=COPURCHASE_DEGREE_CAP,
        min_shared=COPURCHASE_MIN_SHARED,
    )
    return f"""
WITH pairs AS ({pairs}),
partners AS (
  SELECT a AS node, b AS partner, shared_contexts FROM pairs
  UNION ALL
  SELECT b AS node, a AS partner, shared_contexts FROM pairs
),
topk AS (
  SELECT node, partner FROM (
    SELECT node, partner,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY shared_contexts DESC, partner) AS rn
    FROM partners
  ) WHERE rn <= {TRIANGLE_TOPK}
)
SELECT DISTINCT LEAST(node, partner) AS a, GREATEST(node, partner) AS b FROM topk"""


def _knn_copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (a, b) edge list of the top-{TRIANGLE_TOPK}
    co-purchase NEIGHBOR graph: pair mining with the degree_cap lever,
    then a per-node top-K window (partitioned by node — never global),
    union-symmetrized and deduped. The bounded-degree similarity-graph
    input the eight triangle and community queries share: persisted, so
    until the next ``release_session_caches()`` every later query over
    the same tier reads the first one's cached edges (the CacheManager
    matches the identical plan). ``queries.run`` releases after each
    query, so harness queries build their own."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    links = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("l_suppkey").alias("supplier"), F.col("o_custkey").alias("customer")
    )
    pairs = cooccurrence_pairs(
        links,
        "supplier",
        "customer",
        degree_cap=COPURCHASE_DEGREE_CAP,
        min_shared=COPURCHASE_MIN_SHARED,
    )
    partners = pairs.select(
        F.col("a").alias("node"), F.col("b").alias("partner"), "shared_contexts"
    ).unionByName(
        pairs.select(
            F.col("b").alias("node"), F.col("a").alias("partner"), "shared_contexts"
        )
    )
    win = Window.partitionBy("node").orderBy(F.col("shared_contexts").desc(), "partner")
    topk = (
        partners.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= TRIANGLE_TOPK)
        .select("node", "partner")
    )
    return topk.select(
        F.least("node", "partner").alias("a"), F.greatest("node", "partner").alias("b")
    ).distinct().persist()


@query(
    "triangle_copurchase_suppliers",
    oracle=triangle_counts_sql(_knn_copurchase_edges_sql()),
)
def q_triangle_copurchase_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier triangle counts over the top-{TRIANGLE_TOPK}
    co-purchase NEIGHBOR graph — the clustering-structure probe
    (community density, collusion/spam-farm detection) run on the
    similarity-graph shape production actually uses. The raw
    min_shared co-purchase graph is the wrong input: TPC-H customers
    buy from most suppliers, so that graph is COMPLETE at every scale
    (tools/triangle_diag.py: density 1.0 at sf0.01 AND sf0.1) and
    triangle counting on a complete graph is Theta(n^3) for any
    algorithm — the output itself is cubic. The kNN sparsification
    (each supplier keeps its {TRIANGLE_TOPK} strongest partners by
    shared customers, union-symmetrized) bounds degree by 2K-ish, so
    wedge volume is Theta(n*K^2) — linear in nodes — and triangles
    measure genuine locality, not saturation. Then the degree-ordered
    orientation (operators/graph.triangle_counts) enumerates each
    triangle exactly once with hubs generating zero wedges.

    Plan: pair mining (keyed self-join with the degree_cap lever) ->
    per-node top-K window (partitioned by node — never global) ->
    distinct undirected edges -> two keyed equi-joins + hash aggs."""
    return triangle_counts(_knn_copurchase_edges(spark, sf_dir))


from nyc_taxi_data_engineering_spark.operators.graph import bfs_hops, bfs_hops_sql

BFS_SOURCE = "s1"  # supplier 1 exists at every scale factor
BFS_MAX_HOPS = 4


@query(
    "trade_bfs_hops",
    oracle=bfs_hops_sql(_EDGES_CTE, f"'{BFS_SOURCE}'", BFS_MAX_HOPS),
)
def q_trade_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS depth over the bidirected trade graph:
    exact hop distance from supplier s1 for every node within
    {BFS_MAX_HOPS} hops — the reachability / blast-radius primitive
    (supply-chain exposure, fraud-ring radius). Integer-exact, so the
    oracle is a textbook recursive CTE under UNION-distinct semantics
    while the Spark side runs the bounded min-relaxation loop — two
    very different formulations that must agree row-for-row."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(_enc_c("o_custkey").alias("c_node"), _enc_s("l_suppkey").alias("s_node"))
        .distinct()
    )
    edges = pairs.select(F.col("c_node").alias("src"), F.col("s_node").alias("dst")).unionByName(
        pairs.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst"))
    )
    return bfs_hops(edges, _enc_s_id(BFS_SOURCE), BFS_MAX_HOPS).select(
        _decode_node(), "hops"
    )


from nyc_taxi_data_engineering_spark.operators.graph import (
    label_propagation,
    label_propagation_sql,
)

PPR_SOURCE = "c1"  # customer 1 exists at every scale factor


@query(
    "ppr_supplier_recommendations",
    oracle=pagerank_sql(_EDGES_CTE, personalize_literal=f"'{PPR_SOURCE}'"),
)
def q_ppr_supplier_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart) from customer
    {PPR_SOURCE} over the bidirected trade graph — the recommendation
    primitive: rank measures relatedness TO THIS CUSTOMER, so nearby
    suppliers (bought directly, or bought by customers with similar
    baskets) score high while the global hubs uniform PageRank rewards
    stay low unless they are actually close. All walk mass starts on
    the source, teleport returns (1-d) to it, dangling mass restarts
    there. Same per-round keyed-join + hash-agg shape and the same
    12-dp DECIMAL bit-exact replay as pagerank_trade_graph; only the
    three mass terms change (operators/graph.pagerank personalize=)."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(_enc_c("o_custkey").alias("c_node"), _enc_s("l_suppkey").alias("s_node"))
        .distinct()
    )
    edges = pairs.select(F.col("c_node").alias("src"), F.col("s_node").alias("dst")).unionByName(
        pairs.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst"))
    )
    return pagerank(edges, personalize=_enc_c_id(PPR_SOURCE)).select(
        _decode_node(), "rank"
    )


@query(
    "lpa_copurchase_communities",
    oracle=label_propagation_sql(f"edges AS ({_knn_copurchase_edges_sql()})"),
)
def q_lpa_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the top-{TRIANGLE_TOPK} co-purchase
    neighbor graph by synchronous label propagation (3 rounds,
    smallest-label tie-break): suppliers that serve the same customer
    cliques converge onto a shared community label — the
    segment-discovery / spam-farm-grouping primitive. Integer counts +
    integer tie-break make the fixed rounds bit-exactly replayable; the
    Spark side folds the per-node argmax into one max(struct) hash agg
    (map-side combine, no window on the big side), the oracle spells
    the same order as a row_number window. Bounded-degree input (kNN
    sparsification, like the triangle query) keeps each round's vote
    join linear in nodes."""
    return label_propagation(_knn_copurchase_edges(spark, sf_dir))


from nyc_taxi_data_engineering_spark.operators.graph import (
    cheapest_paths,
    cheapest_paths_sql,
)

CHEAPEST_ROUNDS = 4

_COST_EDGES_CTE = """wpairs AS (
    SELECT 'c' || o_custkey AS c_node, 's' || l_suppkey AS s_node,
           COUNT(DISTINCT o_orderkey) AS w
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_custkey, l_suppkey
),
edges AS (
    SELECT c_node AS src, s_node AS dst,
           CASE WHEN w >= 2 THEN 1 ELSE 2 END AS cost FROM wpairs
    UNION ALL
    SELECT s_node AS src, c_node AS dst,
           CASE WHEN w >= 2 THEN 1 ELSE 2 END AS cost FROM wpairs
)"""


@query(
    "trade_cheapest_costs",
    oracle=cheapest_paths_sql(_COST_EDGES_CTE, f"'{BFS_SOURCE}'", CHEAPEST_ROUNDS),
)
def q_trade_cheapest_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths from supplier {BFS_SOURCE} over the
    bidirected trade graph where strong ties are cheap (edge cost 1
    when the pair traded >= 2 distinct orders, else 2) — 'how hard is
    it to reach this counterparty through RELIABLE relationships', the
    weighted generalization of trade_bfs_hops. Bounded Bellman-Ford
    ({CHEAPEST_ROUNDS} relaxation rounds, integer costs so min-sums are
    exact) vs a recursive-CTE oracle carrying a hop counter — again two
    different formulations forced to agree row-for-row. Per round one
    keyed equi-join against the cached pre-partitioned edge list + one
    min hash agg."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    wpairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            _enc_c("o_custkey").alias("c_node"), _enc_s("l_suppkey").alias("s_node")
        )
        .agg(F.count_distinct("o_orderkey").alias("w"))
    )
    cost = F.when(F.col("w") >= 2, F.lit(1)).otherwise(F.lit(2)).cast("long").alias("cost")
    edges = wpairs.select(
        F.col("c_node").alias("src"), F.col("s_node").alias("dst"), cost
    ).unionByName(
        wpairs.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst"), cost)
    )
    out = cheapest_paths(edges, _enc_s_id(BFS_SOURCE), CHEAPEST_ROUNDS)
    return out.select(_decode_node(), *[c for c in out.columns if c != "node"])


from nyc_taxi_data_engineering_spark.operators.graph import (
    hits,
    hits_sql,
    kcore,
    kcore_sql,
    link_predictions,
    link_predictions_sql,
)

KCORE_K = 4
KCORE_ROUNDS = 3
LINKPRED_TOPK = 50


@query("hits_purchase_graph", oracle=hits_sql(_SINK_EDGES_CTE))
def q_hits_purchase_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the directed customer→supplier
    purchase graph — the bipartite shape HITS was built for: hub score
    ranks customers by how much they buy from widely-bought suppliers,
    authority score ranks suppliers by attracting high-hub customers.
    PageRank on this same graph (pagerank_purchase_sinks) collapses
    customers to teleport-mass; HITS keeps BOTH sides ranked. Each
    round is two keyed equi-joins + two hash aggs + two 1-row L1-norm
    broadcasts, every score on a 12-dp DECIMAL grid so the oracle
    replays all three rounds bit-for-bit."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(_enc_c("o_custkey").alias("src"), _enc_s("l_suppkey").alias("dst"))
        .distinct()
    )
    return hits(edges).select(_decode_node(), "hub", "auth")


@query(
    "kcore_copurchase_suppliers",
    oracle=kcore_sql(_knn_copurchase_edges_sql(), k=KCORE_K, rounds=KCORE_ROUNDS),
)
def q_kcore_copurchase_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k={KCORE_K}, {KCORE_ROUNDS} peel rounds)
    of the top-{TRIANGLE_TOPK} co-purchase neighbor graph: suppliers
    surviving in the dense co-purchase core with their induced-subgraph
    degree — the standard dense-community / influential-node filter
    (and the preprocessing step that makes clique-ish mining tractable:
    the k-core bounds everything downstream). Pure integer arithmetic;
    each peel is one degree hash agg + two semi joins against the
    shrinking survivor set, which at cluster scale broadcasts."""
    return kcore(
        _knn_copurchase_edges(spark, sf_dir), k=KCORE_K, rounds=KCORE_ROUNDS
    )


@query(
    "linkpred_copurchase_suppliers",
    oracle=link_predictions_sql(_knn_copurchase_edges_sql(), topk=LINKPRED_TOPK),
)
def q_linkpred_copurchase_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the top-{TRIANGLE_TOPK} co-purchase neighbor
    graph: the {LINKPRED_TOPK} strongest NON-adjacent supplier pairs by
    common-neighbor count, with neighbor-set Jaccard and preferential
    attachment riding along — 'suppliers likely to share customers
    next' (the recommendation/completion primitive). One wedge
    self-join on the shared mid node (degree-bounded input keeps wedge
    volume linear in nodes), pair hash agg, anti-join against existing
    edges, TakeOrderedAndProject top-k; Jaccard divides two exact
    integers so the doubles match cross-engine."""
    return link_predictions(
        _knn_copurchase_edges(spark, sf_dir), topk=LINKPRED_TOPK
    )


ITEMCF_TOPK = 5


@query(
    "itemcf_supplier_neighbors",
    oracle=f"""
WITH {_COPURCHASE_LINKS},
lk AS (SELECT DISTINCT e, ctx FROM links),
hot AS (SELECT ctx FROM lk GROUP BY ctx HAVING COUNT(*) > {COPURCHASE_DEGREE_CAP}),
kept AS (SELECT * FROM lk WHERE ctx NOT IN (SELECT ctx FROM hot)),
deg AS (SELECT e, CAST(COUNT(*) AS BIGINT) AS d FROM kept GROUP BY e),
pairs AS (
    SELECT a.e AS a, b.e AS b, CAST(COUNT(*) AS BIGINT) AS shared
    FROM kept a JOIN kept b ON a.ctx = b.ctx AND a.e < b.e
    GROUP BY a.e, b.e
    HAVING COUNT(*) >= {COPURCHASE_MIN_SHARED}
),
sym AS (
    SELECT a AS item, b AS neighbor, shared FROM pairs
    UNION ALL
    SELECT b, a, shared FROM pairs
),
scored AS (
    SELECT s.item, s.neighbor, s.shared,
           CAST(s.shared AS DOUBLE) / sqrt(CAST(da.d AS DOUBLE) * CAST(db.d AS DOUBLE)) AS cosine
    FROM sym s
    JOIN deg da ON s.item = da.e
    JOIN deg db ON s.neighbor = db.e
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY item ORDER BY cosine DESC, neighbor) AS rank
    FROM scored
)
SELECT item, neighbor, shared AS shared_customers, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {ITEMCF_TOPK}
ORDER BY item, rank
""",
)
def q_itemcf_supplier_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: each supplier's top-{k}
    nearest neighbors by cosine over the binary customer-incidence
    vectors — shared customers normalized by sqrt(deg·deg), the
    memory-based recommender beside the model-based ALS. Reuses the
    co-purchase machinery (distinct links, hot-context cap, keyed
    self-join); degrees broadcast back onto the pair table; sqrt is
    IEEE-correctly-rounded so the cosine is bit-exact cross-engine.
    The per-item top-k window runs over the already-collapsed pair
    table (pairs, not raw links)."""
    from nyc_taxi_data_engineering_spark.operators.cooccur import cooccurrence_pairs

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    links = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("l_suppkey").alias("supplier"), F.col("o_custkey").alias("customer")
    )
    lk = links.select(F.col("supplier").alias("e"), F.col("customer").alias("ctx")).distinct()
    hot = lk.groupBy("ctx").count().filter(F.col("count") > COPURCHASE_DEGREE_CAP).select("ctx")
    kept = lk.join(hot, "ctx", "left_anti")
    deg = kept.groupBy("e").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    pairs = cooccurrence_pairs(
        links, "supplier", "customer",
        degree_cap=COPURCHASE_DEGREE_CAP, min_shared=COPURCHASE_MIN_SHARED,
    ).withColumnRenamed("shared_contexts", "shared")
    sym = pairs.select(F.col("a").alias("item"), F.col("b").alias("neighbor"), "shared").unionByName(
        pairs.select(F.col("b").alias("item"), F.col("a").alias("neighbor"), "shared")
    )
    scored = (
        sym.join(F.broadcast(deg.withColumnRenamed("e", "item").withColumnRenamed("d", "da")), "item")
        .join(F.broadcast(deg.withColumnRenamed("e", "neighbor").withColumnRenamed("d", "db")), "neighbor")
        .select(
            "item", "neighbor", "shared",
            (F.col("shared").cast("double") / F.sqrt(F.col("da").cast("double") * F.col("db").cast("double"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.col("cosine").desc(), "neighbor")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ITEMCF_TOPK)
        .select("item", "neighbor", F.col("shared").alias("shared_customers"), "cosine", F.col("rank").cast("int").alias("rank"))
        .orderBy("item", "rank")
    )


TEXTRANK_WINDOW = 2

_TEXTRANK_EDGES = f"""toks AS (
    SELECT d.doc_id, t.w AS word, t.i AS pos
    FROM documents d,
    LATERAL (SELECT unnest(string_split(d.text, ' ')) AS w,
                    generate_subscripts(string_split(d.text, ' '), 1) AS i) t
    WHERE t.w <> ''
),
cooc AS (
    SELECT a.word AS src, b.word AS dst, CAST(COUNT(*) AS BIGINT) AS w
    FROM toks a JOIN toks b
      ON a.doc_id = b.doc_id
     AND b.pos > a.pos AND b.pos <= a.pos + {TEXTRANK_WINDOW}
     AND a.word <> b.word
    GROUP BY a.word, b.word
),
edges AS (
    SELECT src, dst, w FROM cooc
    UNION ALL
    SELECT dst, src, w FROM cooc
)"""


@query("textrank_keywords", oracle=pagerank_sql(_TEXTRANK_EDGES, weighted=True))
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    PageRank over the word co-occurrence graph (words within
    {TEXTRANK_WINDOW} positions in a document, edge weight = corpus
    co-occurrence count, symmetrized). Pure composition of existing
    machinery: positional explode -> one keyed self-join bounded by
    the window (never all-pairs) -> the DECIMAL-replay weighted
    PageRank with its dangling-mass term. Graph size is
    vocabulary-bounded (Zipf), so the iteration cost is scale-free in
    corpus size — only the co-occurrence count pass sees the data."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    ).filter(F.col("word") != "")
    a, b = toks.alias("a"), toks.alias("b")
    cooc = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") > F.col("a.pos"))
            & (F.col("b.pos") <= F.col("a.pos") + TEXTRANK_WINDOW)
            & (F.col("a.word") != F.col("b.word")),
        )
        .groupBy(F.col("a.word").alias("src"), F.col("b.word").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    edges = cooc.unionByName(
        cooc.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    return pagerank(edges, weight="w")


from nyc_taxi_data_engineering_spark.operators.graph import (
    LPA_ITERS,
    lpa_ctes,
    modularity,
    modularity_sql,
)


@query(
    "modularity_copurchase_communities",
    oracle=modularity_sql(
        f"edges AS ({_knn_copurchase_edges_sql()})",
        lpa_ctes()
        + f",\nlabels AS (SELECT node, label AS community FROM l{LPA_ITERS})",
    ),
)
def q_modularity_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA community assignment on the
    top-{TRIANGLE_TOPK} co-purchase neighbor graph — the partition
    carries its own quality score, per community: node count, internal
    edge count, degree sum, and the Q contribution
    in_c/m - (tot_c/2m)^2. Integer counts all the way; the only doubles
    are the final pinned per-row chain, so no float sums cross engine
    boundaries. Same bounded-degree kNN edges as the triangle and LPA
    queries (one edge build shared across the family); the label join
    is two keyed equi-joins + hash aggs — linear in |E|."""
    edges = _knn_copurchase_edges(spark, sf_dir)
    labels = label_propagation(edges)
    return modularity(edges, labels)


from nyc_taxi_data_engineering_spark.operators.graph import (
    harmonic_centrality,
    harmonic_centrality_sql,
)

HARMONIC_HOPS = 3


@query(
    "harmonic_centrality_suppliers",
    oracle=harmonic_centrality_sql(
        f"edges AS ({_knn_copurchase_edges_sql()})", max_hops=HARMONIC_HOPS
    ),
)
def q_harmonic_centrality_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-radius harmonic centrality on the co-purchase kNN graph:
    per supplier, reach counts at 1/2/3 hops and sum(1/d) over that
    ball — who sits closest to everyone in the purchasing network. The
    lcm(1,2,3)=6-scaled sum is an exact INTEGER (distances are
    integers), the double form one terminal division; multi-source BFS
    runs as three frontier-join + min-agg rounds over the cached
    symmetrized edge list, with per-source frontiers bounded by the
    kNN degree cap — sum_h k^h nodes, not V."""
    return harmonic_centrality(
        _knn_copurchase_edges(spark, sf_dir), max_hops=HARMONIC_HOPS
    )


from nyc_taxi_data_engineering_spark.operators.graph import (
    conductance,
    conductance_sql,
)


@query(
    "conductance_copurchase_communities",
    oracle=conductance_sql(
        f"edges AS ({_knn_copurchase_edges_sql()})",
        lpa_ctes()
        + f",\nlabels AS (SELECT node, label AS community FROM l{LPA_ITERS})",
    ),
)
def q_conductance_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conductance of each LPA community on the co-purchase kNN graph —
    the boundary-quality complement to the modularity query: cut edges
    (counted toward both sides), node count, degree volume, and
    phi = cut / min(vol, 2m - vol). Integer counts throughout, one
    terminal division; the LPA rounds come from the same shared CTE
    fragment as the community query itself, so the assignment being
    scored is definitionally the one LPA produced."""
    edges = _knn_copurchase_edges(spark, sf_dir)
    labels = label_propagation(edges)
    return conductance(edges, labels)


from nyc_taxi_data_engineering_spark.operators.graph import (
    assortativity,
    assortativity_sql,
)


@query(
    "assortativity_copurchase",
    oracle=assortativity_sql(f"edges AS ({_knn_copurchase_edges_sql()})"),
)
def q_assortativity_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase kNN graph — do heavily
    connected suppliers partner with each other (positive) or with
    peripherals (negative)? The topology diagnostic that motivates the
    degree caps the candidate generators rely on. Integer degree
    moments as DECIMAL(38,0), one pinned Pearson chain with an
    IEEE-exact sqrt; one degree agg + two keyed joins, edge-linear."""
    return assortativity(_knn_copurchase_edges(spark, sf_dir))
