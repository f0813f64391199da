"""Iterative graph analytics on DataFrames — deterministic PageRank
with a fixed iteration count, the keyed-join/agg formulation every
distributed graph engine (Pregel, GraphX, GraphFrames) lowers to:

    contrib(dst) += rank(src) / outdeg(src)      -- join on src
    dm           = sum(rank(v) : outdeg(v) = 0)  -- 1-row dangling mass
    rank'(v) = (1-d)/N + d * (sum(contrib(v)) + dm/N)

Determinism contract (what makes an exact DuckDB oracle possible):
per-edge contributions are ROUNDED to 12 dp then summed as
DECIMAL(28,12) — order-independent and engine-exact — and each new
rank rounds to 12 dp, so both engines walk bit-identical doubles
through every iteration. The dangling mass likewise sums the (already
12-dp) ranks as DECIMAL(28,12) before the double divide, so its
redistribution is bit-identical too. The damping constant's
teleport factor enters the SQL twin as the repr of Spark's
constant-folded double ``1.0 - 0.85`` (0.15000000000000002): DuckDB
evaluates a literal ``(1 - 0.85)`` in exact decimal — 0.15, a
DIFFERENT double — so the folded value must be embedded, not the
expression.

Scale shape per iteration: one keyed equi-join (ranks ⋈ edges on src,
both shuffled on the same key — at cluster scale pre-partition edges
by src once and every iteration reuses the layout) + one hash agg on
dst with map-side combine + one 1-row broadcast aggregate for the
dangling mass (nothing per-node crosses the driver). Rounds run
through ``operators.iterate``, like Lloyd k-means; no collect
anywhere. Sinks (nodes with no out-edges — the common case in
link/citation graphs) are handled by the standard dangling-mass
redistribution; graphs without sinks pay only a sum over an empty set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nyc_taxi_data_engineering_spark.functions import (
    portable_round,
    portable_round_sql,
)
from pyspark.sql.types import IntegralType

from nyc_taxi_data_engineering_spark.operators import iterate, pin as _pin

PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 3
_SCALE = 12  # dp kept per contribution / rank


def pagerank(
    edges: DataFrame,
    weight: str | None = None,
    personalize=None,
) -> DataFrame:
    """(node, rank) after ``PAGERANK_ITERS`` rounds from a uniform start over
    the distinct nodes of ``edges`` (src, dst[, weight]) — nodes that
    only appear as a ``dst`` (sinks) are ranked too, their mass
    redistributed uniformly each round (the standard dangling-mass
    term: one 1-row aggregate, broadcast into the rank update).
    ``weight`` names an INTEGER edge-weight column — the random surfer
    follows an edge with probability w / strength(src) (strength =
    out-weight sum), the standard weighted extension; omitted, every
    edge weighs 1 and strength is the out-degree.

    ``personalize`` switches to PERSONALIZED PageRank from that source
    node (random walk with restart — the recommendation / relatedness
    primitive): all walk mass starts ON the source (rank 1.0 there,
    0.0 elsewhere — exact doubles, so the determinism contract is
    untouched), the teleport term returns (1-d) to the source instead
    of (1-d)/N to everyone, and dangling mass restarts at the source
    rather than spreading uniformly. Same per-round plan shape; only
    the three mass terms change."""
    if weight is not None and not isinstance(
        edges.schema[weight].dataType, IntegralType
    ):
        raise TypeError(
            f"pagerank weight column {weight!r} must be an integer type "
            f"(got {edges.schema[weight].dataType.simpleString()}); the "
            "12-dp determinism contract needs exact strengths — scale "
            "real-valued weights to integers first"
        )
    w = F.col(weight) if weight is not None else F.lit(1).cast("long")
    # Pin the normalized edge list: srcs/nodes/dangling/outdeg all
    # derive from it, and for the trade graphs the caller's edge build
    # is itself a fact-fact join that would otherwise re-execute once
    # per derivation per round.
    edges = _pin(edges.select("src", "dst", w.alias("w")))
    srcs = edges.select(F.col("src").alias("node")).distinct()
    nodes = _pin(
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    dangling = _pin(nodes.join(srcs, "node", "left_anti"))
    outdeg = edges.groupBy("src").agg(F.sum("w").alias("strength"))
    # (src, dst, w, strength) is loop-invariant: build once, reuse every round
    ew = _pin(edges.join(outdeg, "src"))
    if personalize is None:
        # |V| is a loop-invariant bounded scalar over the already-pinned
        # node table: counting it once (a cheap scan of checkpointed
        # blocks) and folding the literal into the rank expressions
        # removes a 1-row aggregate + crossJoin broadcast from EVERY
        # round's plan (optimization r12, guide §2.4). The quotients are
        # precomputed in Python — the same IEEE double division the
        # runtime previously did against the broadcast count, so every
        # downstream rank is bit-identical; precomputing also keeps an
        # EMPTY graph safe (a literal x/0 would constant-fold into an
        # ANSI divide-by-zero at plan time, even though no row ever
        # evaluates it — caught by the empty adversarial tier). The
        # personalized walk never uses |V| and skips the count entirely.
        n = float(nodes.count())
        ranks = nodes.select("node", F.lit(1.0 / n if n else 0.0).alias("rank"))
        # (1.0 - 0.85) then the divide, both as IEEE doubles — identical
        # to the previous constant-folded (lit(1.0)-lit(0.85)) / col(n).
        base = F.lit((1.0 - PAGERANK_DAMPING) / n if n else 0.0)
        # n == 0 leaves no node row to evaluate this on; lit(1.0) only
        # dodges the plan-time foldability of x/0 (the divide by the
        # true n is preserved bit-for-bit when rows exist)
        dm_share = F.col("dm").cast("double") / F.lit(n if n else 1.0)
    else:
        ind = (
            F.when(F.col("node") == F.lit(personalize), F.lit(1.0))
            .otherwise(F.lit(0.0))
        )
        ranks = nodes.select("node", ind.alias("rank"))
        base = (F.lit(1.0) - F.lit(PAGERANK_DAMPING)) * ind
        dm_share = F.col("dm").cast("double") * ind
    zero_dm = F.lit(0).cast(f"decimal(28,{_SCALE})")

    def rank_round(ranks: DataFrame, _: int) -> DataFrame:
        contrib = ranks.join(ew, ranks["node"] == ew["src"]).select(
            F.col("dst").alias("node"),
            portable_round(F.col("rank") * F.col("w") / F.col("strength"), _SCALE)
            .cast(f"decimal(28,{_SCALE})")
            .alias("c"),
        )
        in_sum = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        # Dangling mass: ranks already sit on a 12-dp grid, so the
        # DECIMAL sum is exact and order-independent; one row, broadcast.
        dm_row = ranks.join(dangling, "node").agg(
            F.coalesce(
                F.sum(F.col("rank").cast(f"decimal(28,{_SCALE})")), zero_dm
            ).alias("dm")
        )
        return (
            nodes.join(in_sum, "node", "left")
            .crossJoin(F.broadcast(dm_row))
            .select(
                "node",
                portable_round(
                    base
                    + F.lit(PAGERANK_DAMPING)
                    * (
                        F.coalesce(F.col("s").cast("double"), F.lit(0.0))
                        + dm_share
                    ),
                    _SCALE,
                ).alias("rank"),
            )
        )

    return iterate(ranks, rank_round, PAGERANK_ITERS)


_CTE_HEADER_RE = None


def materialize_ctes(sql: str) -> str:
    """DuckDB-side twin of :func:`nyc_taxi_data_engineering_spark.operators.pin`
    for the GENERATED iterative oracles: mark every CTE ``MATERIALIZED``.

    The round-based SQL twins reference each round's CTEs (and the edge
    build) several times per round — scalar-subquery norms, degree
    unions, semi-join pairs. DuckDB inlines CTEs it deems cheap, so the
    same exponential re-evaluation the Spark loops hit pre-pin
    (SCALE.md round 8) reappears on the ORACLE side one data decade
    later: at sf0.1 the un-hinted 3-round HITS oracle spilled >70 GB of
    temp sort state and died on disk, while the MATERIALIZED form runs
    in 0.7 s. Applied only to DuckDB-run oracle text (``AS
    MATERIALIZED`` is DuckDB/Postgres syntax); recursive oracles are
    left alone (their self-reference must stay inline).

    The rewrite is anchored to CTE-HEADER positions only (ADVICE r9):
    the identifier must follow ``WITH`` or the ``,`` that closes the
    previous CTE, optionally carry a column list, and be followed by
    `` AS (``. A lowercase ``x AS (`` anywhere else in a
    caller-supplied ``edges_cte``/``edges_select`` fragment (derived
    tables, future generators) can no longer be rewritten into invalid
    or wrongly-hinted SQL.
    """
    import re

    global _CTE_HEADER_RE
    if _CTE_HEADER_RE is None:
        _CTE_HEADER_RE = re.compile(
            r"(\bWITH\b|,)(\s*)([a-z]\w*)(\s*\([^()]*\))?( AS \()"
        )
    return _CTE_HEADER_RE.sub(r"\1\2\3\4 AS MATERIALIZED (", sql)


def pagerank_sql(
    edges_cte: str,
    weighted: bool = False,
    personalize_literal: str | None = None,
) -> str:
    """DuckDB twin: the same fixed-point iterations as nested CTEs,
    including the per-round 1-row dangling-mass aggregate.
    ``edges_cte`` must define a CTE named ``edges`` with (src, dst) —
    plus an integer ``w`` column when ``weighted``. Returns a complete
    WITH...SELECT producing (node, rank). ``personalize_literal`` is a
    ready-to-embed SQL literal for the restart node of personalized
    PageRank — start mass, teleport, and dangling mass all go to it,
    mirroring ``pagerank(personalize=...)`` term-for-term."""
    w_expr = "w" if weighted else "1::BIGINT"
    if personalize_literal is None:
        r0 = "r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"
    else:
        r0 = (
            "r0 AS (SELECT node, CAST(CASE WHEN node = "
            f"{personalize_literal} THEN 1.0 ELSE 0.0 END AS DOUBLE) "
            "AS rank FROM nodes)"
        )
    parts = [
        edges_cte,
        f"we AS (SELECT src, dst, {w_expr} AS w FROM edges)",
        "srcs AS (SELECT DISTINCT src AS node FROM we)",
        "nodes AS (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM we UNION ALL SELECT dst AS node FROM we))",
        # NOT EXISTS (not NOT IN) to match left_anti NULL semantics
        "dangling AS (SELECT node FROM nodes t WHERE NOT EXISTS "
        "(SELECT 1 FROM srcs s WHERE s.node = t.node))",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        "outdeg AS (SELECT src, SUM(w) AS strength FROM we GROUP BY src)",
        r0,
    ]
    for i in range(1, PAGERANK_ITERS + 1):
        parts.append(
            f"""c{i} AS (
    SELECT e.dst AS node,
           CAST({portable_round_sql('r.rank * e.w / o.strength', _SCALE)} AS DECIMAL(28,{_SCALE})) AS c
    FROM r{i - 1} r JOIN we e ON e.src = r.node JOIN outdeg o ON o.src = e.src
)"""
        )
        parts.append(
            f"""d{i} AS (
    SELECT COALESCE(SUM(CAST(r.rank AS DECIMAL(28,{_SCALE}))),
                    CAST(0 AS DECIMAL(28,{_SCALE}))) AS dm
    FROM r{i - 1} r JOIN dangling g ON g.node = r.node
)"""
        )
        if personalize_literal is None:
            # repr of the IEEE result of 1.0-0.85 — DuckDB evaluates the
            # literal expression (1 - 0.85) in EXACT DECIMAL (0.15), a
            # DIFFERENT double than Spark's constant-folded subtraction
            # (0.15000000000000002); embedding the folded double's repr
            # keeps the teleport term bit-identical (r10, found by the
            # exact sweep: 1e-12 rank flips on the trade graphs).
            base = f"CAST({1.0 - PAGERANK_DAMPING!r} AS DOUBLE) / (SELECT n FROM nn)"
            dm_share = f"CAST((SELECT dm FROM d{i}) AS DOUBLE) / (SELECT n FROM nn)"
        else:
            ind = (
                f"CAST(CASE WHEN n.node = {personalize_literal} "
                "THEN 1.0 ELSE 0.0 END AS DOUBLE)"
            )
            base = f"CAST({1.0 - PAGERANK_DAMPING!r} AS DOUBLE) * {ind}"
            dm_share = f"CAST((SELECT dm FROM d{i}) AS DOUBLE) * {ind}"
        parts.append(
            f"""r{i} AS (
    SELECT n.node,
           {portable_round_sql(
               f"{base} + {PAGERANK_DAMPING} * (CAST(COALESCE(s.s, 0) AS DOUBLE) + {dm_share})",
               _SCALE,
           )} AS rank
    FROM nodes n LEFT JOIN (SELECT node, SUM(c) AS s FROM c{i} GROUP BY node) s
      ON s.node = n.node
)"""
        )
    return materialize_ctes("WITH " + ",\n".join(parts) + f"\nSELECT node, rank FROM r{PAGERANK_ITERS}")


# ---------------------------------------------------------------------------
# Triangle counting (degree-ordered orientation)
# ---------------------------------------------------------------------------

def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED simple edge list
    (a, b) with a < b and no duplicate pairs — (node, degree,
    n_triangles) for every node in at least one triangle.

    Uses the degree-ordered orientation (Cohen's map-reduce triangle
    algorithm / the arboricity bound behind every distributed triangle
    counter): orient each edge from its lower-(degree, id) endpoint to
    the higher, enumerate wedges only at the LOW endpoint, and close
    them with one keyed equi-join. A hub of degree d generates no
    wedges itself (all its edges point INTO it), so wedge volume is
    sum(out-deg²) bounded by O(m^1.5) instead of the naive
    sum(deg²) that a celebrity node turns quadratic — this is the
    100 TB lever; the naive formulation dies on the first hot key.

    Plan shape: one degree hash agg, one orientation projection, one
    self equi-join on the low endpoint, one closing equi-join on
    (v, w), one per-node hash agg. Everything keyed; no windows, no
    collect."""
    # edges feeds the degree union (twice) and the orientation join;
    # oriented feeds both wedge sides and the closing join — pin each
    # so the caller's edge build executes once (see _pin).
    edges = _pin(edges.select("a", "b"))
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        edges.select("a", "b")
        .join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = _pin(
        e.select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("ddeg"),
        )
    )
    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"), F.col("ddeg").alias("dv"))
    e2 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"), F.col("ddeg").alias("dw"))
    wedges = e1.join(e2, "u").filter(
        (F.col("dv") < F.col("dw")) | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"]).select("u", "v", "w")
    members = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
    )
    return (
        members.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .join(deg, "node")
        .select("node", F.col("deg").alias("degree"), "n_triangles")
    )


def triangle_counts_sql(edges_select: str) -> str:
    """DuckDB twin of :func:`triangle_counts`. ``edges_select`` is a
    full SELECT (or WITH...SELECT) producing columns (a, b), a < b,
    distinct; embedded as a derived table."""
    return materialize_ctes(f"""
WITH edges AS (SELECT a, b FROM ({edges_select})),
deg AS (
  SELECT node, COUNT(*) AS deg
  FROM (SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges)
  GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND e.a < e.b)
              THEN e.a ELSE e.b END AS src,
         CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND e.a < e.b)
              THEN e.b ELSE e.a END AS dst,
         CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND e.a < e.b)
              THEN db.deg ELSE da.deg END AS ddeg
  FROM edges e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
),
tri AS (
  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
  FROM oriented e1
  JOIN oriented e2 ON e1.src = e2.src
   AND ((e1.ddeg < e2.ddeg) OR (e1.ddeg = e2.ddeg AND e1.dst < e2.dst))
  JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst
)
,
counts AS (
  SELECT node, COUNT(*) AS n_triangles
  FROM (
    SELECT u AS node FROM tri
    UNION ALL SELECT v FROM tri
    UNION ALL SELECT w FROM tri
  )
  GROUP BY node
)
SELECT node, deg AS degree, n_triangles FROM counts JOIN deg USING (node)""")


# ---------------------------------------------------------------------------
# BFS hop distances (bounded-depth single-source shortest path)
# ---------------------------------------------------------------------------

def bfs_hops(edges: DataFrame, source, max_hops: int) -> DataFrame:
    """(node, hops) — unweighted shortest-path distance from ``source``
    for every node reachable within ``max_hops`` over directed edges
    (src, dst). Bellman-Ford-style min-relaxation with a fixed round
    count: after round k every node at true distance <= k holds its
    exact distance, so ``max_hops`` rounds give exact BFS depths up to
    the bound (integer hops — no float determinism concerns).

    Scale shape per round: one keyed equi-join (reached-set ⋈ edges on
    the node key — pre-partition edges by src once and every round
    reuses the layout) + one min hash agg with map-side combine. State
    is the reached set itself, never materialized on the driver; no
    collect, no windows. Depth is bounded by design — the small-world
    graphs this targets saturate in a handful of rounds."""
    # 1-row seed independent of edges: a source that is a sink still
    # gets hops 0, matching the SQL twin's literal anchor. Built as a
    # LocalRelation DATUM, not a lit() expression — a foldable literal
    # node would erase the equi-key from round 1's join and degrade it
    # to a nested-loop join against the filtered edge scan.
    from pyspark.sql.types import StructField, StructType

    seed_schema = StructType([StructField("node", edges.schema["src"].dataType)])
    dist = (
        edges.sparkSession.createDataFrame([(source,)], seed_schema)
        .select("node", F.lit(0).cast("int").alias("hops"))
    )
    # Pre-partition the (loop-invariant) edge list on the join key once
    # and cache it, so every round joins against the same in-memory
    # layout. Measured effect (sf1/sf10 graph tier): wall −25%/−12%
    # (18.5→13.9 s / 131.8→116.4 s) but the ×10-data slope stays ~8 —
    # Spark's ReusedExchange was already deduping the per-round edge
    # shuffle, and the remaining per-round cost is the edge scan
    # itself, which is edge-proportional by construction.
    edges = edges.repartition("src").persist()
    for _ in range(max_hops):
        nxt = (
            dist.join(edges, dist["node"] == edges["src"])
            .select(F.col("dst").alias("node"), (F.col("hops") + 1).cast("int").alias("hops"))
        )
        dist = (
            dist.unionByName(nxt)
            .groupBy("node")
            .agg(F.min("hops").alias("hops"))
        )
    return dist


def bfs_hops_sql(edges_cte: str, source_literal: str, max_hops: int) -> str:
    """DuckDB twin: WITH RECURSIVE under UNION (distinct) semantics, so
    the working set is (node, hops) pairs — bounded by |V|·max_hops —
    not paths (UNION ALL would enumerate every walk and explode on any
    cyclic graph). ``edges_cte`` must define a CTE named ``edges`` with
    (src, dst); ``source_literal`` is a ready-to-embed SQL literal."""
    return f"""
WITH RECURSIVE {edges_cte},
walk(node, hops) AS (
  SELECT {source_literal} AS node, 0 AS hops
  UNION
  SELECT e.dst AS node, w.hops + 1 AS hops
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.hops < {max_hops}
)
SELECT node, CAST(MIN(hops) AS INT) AS hops FROM walk GROUP BY node"""


# ---------------------------------------------------------------------------
# Label propagation (community detection)
# ---------------------------------------------------------------------------

LPA_ITERS = 3


def label_propagation(edges: DataFrame) -> DataFrame:
    """(node, community) after ``LPA_ITERS`` rounds of synchronous label
    propagation over an UNDIRECTED simple edge list (a, b) — the
    community-detection workhorse (Raghavan et al. 2007) in the same
    keyed-join/agg formulation as PageRank. Labels start as the node's
    own id; each round every node adopts the most frequent label among
    its neighbors, ties broken by the SMALLEST label — integer counts
    and an integer tie-break, so the fixed round count is bit-exactly
    replayable (synchronous LPA can oscillate on bipartite structures;
    a fixed ``LPA_ITERS`` makes that a non-issue for determinism).

    Labels must be integers (node ids): the per-node argmax folds into
    ONE hash aggregate via ``max(struct(cnt, -label))`` — partial
    aggregation collapses each node's candidate labels map-side before
    the exchange, the same no-window shape as nearest-centroid
    assignment (queries/similarity.py). Per round: one keyed equi-join
    (labels ⋈ symmetrized edges) + two hash aggs. No windows, no
    collect; state is the label table itself."""
    if not isinstance(edges.schema["a"].dataType, IntegralType):
        raise TypeError(
            "label_propagation needs integer node ids (labels negate "
            f"inside the argmax struct); got {edges.schema['a'].dataType.simpleString()}"
        )
    # Loop-invariant symmetrized edge list: pin it so every round's
    # vote join starts from a flat scan instead of re-deriving the
    # caller's edge build (see _pin).
    sym = _pin(
        edges.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionByName(
            edges.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
        )
    )

    def vote(labels: DataFrame, _: int) -> DataFrame:
        # labels derives from sym, so qualify the self-join by renaming
        # the label side's key instead of relying on column lineage
        votes = (
            labels.withColumnRenamed("node", "lnode")
            .join(sym, F.col("lnode") == F.col("nbr"))
            .select("node", "label")
        )
        counts = votes.groupBy("node", "label").agg(F.count(F.lit(1)).alias("cnt"))
        return (
            counts.groupBy("node")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("best"))
            .select("node", (-F.col("best.neg")).alias("label"))
        )

    labels = sym.select("node").distinct().select("node", F.col("node").alias("label"))
    return iterate(labels, vote, LPA_ITERS).select("node", F.col("label").alias("community"))


def lpa_ctes() -> str:
    """The LPA rounds as a reusable CTE-list fragment (no WITH, no
    final SELECT): defines ``sym`` and ``l0``..``l{LPA_ITERS}`` on top of
    a CTE named ``edges`` the caller must have defined with integer
    columns (a, b). ``label_propagation_sql`` and the modularity
    oracle both build on this so the round semantics can never drift
    between the community query and its quality score."""
    parts = [
        "sym AS (SELECT a AS node, b AS nbr FROM edges "
        "UNION ALL SELECT b AS node, a AS nbr FROM edges)",
        "l0 AS (SELECT DISTINCT node, node AS label FROM sym)",
    ]
    for i in range(1, LPA_ITERS + 1):
        parts.append(
            f"""c{i} AS (
  SELECT s.node, l.label, COUNT(*) AS cnt
  FROM sym s JOIN l{i - 1} l ON l.node = s.nbr
  GROUP BY s.node, l.label
)"""
        )
        parts.append(
            f"""l{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
    FROM c{i}
  ) WHERE rn = 1
)"""
        )
    return ",\n".join(parts)


def label_propagation_sql(edges_cte: str) -> str:
    """DuckDB twin: the same synchronous rounds as nested CTEs, the
    argmax expressed as the row_number window it replaces (highest
    count, then smallest label — identical tie order). ``edges_cte``
    must define a CTE named ``edges`` with integer columns (a, b)."""
    return materialize_ctes(
        "WITH "
        + edges_cte
        + ",\n"
        + lpa_ctes()
        + f"\nSELECT node, label AS community FROM l{LPA_ITERS}"
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community Newman modularity contributions over an UNDIRECTED
    simple edge list (a, b) and a (node, community) assignment — the
    standard partition-quality score, so a community run (LPA, CC,
    k-means-on-graph) carries its own evaluation:

        Q = sum_c [ in_c / m  -  (tot_c / 2m)^2 ]

    with m = |edges|, in_c = edges internal to c, tot_c = degree sum of
    c's nodes. Everything up to the last step is INTEGER (counts and
    degree sums), so both engines derive q_contrib from identical
    operands in a pinned double chain — no sums of floats anywhere.

    Plan: degree = one hash agg on the symmetrized list; internal
    edges = two keyed joins edge→label (broadcast-eligible when the
    label table is small, plain shuffle joins otherwise) + one hash
    agg; the 1-row m aggregate broadcasts onto the community table.
    Linear in |E| at any scale; no windows, no collect."""
    m = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    sym = edges.select(F.col("a").alias("node")).unionByName(
        edges.select(F.col("b").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    la = labels.select(F.col("node").alias("a"), F.col("community").alias("ca"))
    lb = labels.select(F.col("node").alias("b"), F.col("community").alias("cb"))
    internal = (
        edges.join(la, "a")
        .join(lb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("internal_edges"))
    )
    tot = (
        labels.join(deg, "node")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("deg").cast("bigint").alias("degree_sum"),
        )
    )
    md = F.col("m").cast("double")
    frac = F.col("degree_sum").cast("double") / (F.lit(2.0) * md)
    return (
        tot.join(internal, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            F.coalesce("internal_edges", F.lit(0).cast("bigint")).alias("internal_edges"),
            "degree_sum",
            (
                F.coalesce("internal_edges", F.lit(0).cast("bigint")).cast("double") / md
                - frac * frac
            ).alias("q_contrib"),
        )
        .orderBy("community")
    )


def modularity_sql(edges_cte: str, labels_cte: str) -> str:
    """DuckDB twin of :func:`modularity`. ``edges_cte`` must define
    ``edges`` (a, b); ``labels_cte`` must define ``labels``
    (node, community) — e.g. :func:`lpa_ctes` plus a rename."""
    return materialize_ctes(f"""
WITH {edges_cte},
{labels_cte},
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges)
  GROUP BY node
),
internal AS (
  SELECT la.community, CAST(COUNT(*) AS BIGINT) AS internal_edges
  FROM edges e
  JOIN labels la ON la.node = e.a
  JOIN labels lb ON lb.node = e.b
  WHERE la.community = lb.community
  GROUP BY la.community
),
tot AS (
  SELECT l.community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d.deg) AS BIGINT) AS degree_sum
  FROM labels l JOIN deg d ON d.node = l.node
  GROUP BY l.community
)
SELECT t.community, t.n_nodes,
       COALESCE(i.internal_edges, CAST(0 AS BIGINT)) AS internal_edges,
       t.degree_sum,
       CAST(COALESCE(i.internal_edges, 0) AS DOUBLE) / CAST((SELECT m FROM m) AS DOUBLE)
         - (CAST(t.degree_sum AS DOUBLE) / (2.0 * CAST((SELECT m FROM m) AS DOUBLE)))
           * (CAST(t.degree_sum AS DOUBLE) / (2.0 * CAST((SELECT m FROM m) AS DOUBLE))) AS q_contrib
FROM tot t LEFT JOIN internal i ON i.community = t.community
ORDER BY t.community""")


# ---------------------------------------------------------------------------
# Bounded weighted shortest paths (Bellman-Ford with a fixed round count)
# ---------------------------------------------------------------------------

def cheapest_paths(edges: DataFrame, source, rounds: int) -> DataFrame:
    """(node, cost) — cheapest path cost from ``source`` over directed
    edges (src, dst, cost) using at most ``rounds`` edges, the weighted
    generalization of bfs_hops: Bellman-Ford min-relaxation with a
    fixed round count. ``cost`` must be a non-negative INTEGER column
    (exact min-sums, no float-accumulation order concerns); after round
    k every node whose cheapest path uses <= k edges holds its exact
    cost, so ``rounds`` >= the graph's hop diameter gives exact
    distances.

    Same scale shape as bfs_hops — per round one keyed equi-join
    (frontier ⋈ edges, the loop-invariant edge list pre-partitioned on
    src and cached) + one min hash agg with map-side combine; no
    windows, no collect."""
    if not isinstance(edges.schema["cost"].dataType, IntegralType):
        raise TypeError(
            "cheapest_paths needs an integer cost column (exact min-sums); "
            f"got {edges.schema['cost'].dataType.simpleString()} — scale "
            "real-valued costs to integers first"
        )
    from pyspark.sql.types import StructField, StructType

    seed_schema = StructType([StructField("node", edges.schema["src"].dataType)])
    dist = (
        edges.sparkSession.createDataFrame([(source,)], seed_schema)
        .select("node", F.lit(0).cast("long").alias("cost"))
    )
    edges = edges.select("src", "dst", F.col("cost").cast("long").alias("ecost"))
    edges = edges.repartition("src").persist()
    for _ in range(rounds):
        nxt = dist.join(edges, dist["node"] == edges["src"]).select(
            F.col("dst").alias("node"), (F.col("cost") + F.col("ecost")).alias("cost")
        )
        dist = dist.unionByName(nxt).groupBy("node").agg(F.min("cost").alias("cost"))
    return dist


def cheapest_paths_sql(edges_cte: str, source_literal: str, rounds: int) -> str:
    """DuckDB twin: WITH RECURSIVE under UNION (distinct) semantics
    over (node, cost, hops) — the hops column bounds the recursion at
    ``rounds`` edges and the distinct set stays finite on cyclic graphs
    (costs are non-negative integers, so the working set is bounded by
    |V| x distinct reachable costs x rounds). ``edges_cte`` must define
    a CTE named ``edges`` with (src, dst, cost)."""
    return f"""
WITH RECURSIVE {edges_cte},
walk(node, cost, hops) AS (
  SELECT {source_literal} AS node, 0::BIGINT AS cost, 0 AS hops
  UNION
  SELECT e.dst AS node, w.cost + e.cost AS cost, w.hops + 1 AS hops
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.hops < {rounds}
)
SELECT node, MIN(cost) AS cost FROM walk GROUP BY node"""


# ---------------------------------------------------------------------------
# HITS (hubs and authorities)
# ---------------------------------------------------------------------------

HITS_ITERS = 3


def hits(edges: DataFrame) -> DataFrame:
    """(node, hub, auth) after ``HITS_ITERS`` rounds of Kleinberg's HITS
    over directed edges (src, dst) — hubs score by pointing at good
    authorities, authorities by being pointed at by good hubs. The
    natural fit for bipartite interaction graphs (customer→supplier,
    query→document): hubs rank the pointing side, authorities the
    pointed-at side.

    Determinism contract (same family as :func:`pagerank`): scores
    live on a 12-dp grid; per-edge transfers are ROUNDED to 12 dp and
    summed as DECIMAL(28,12) (order-independent, engine-exact); each
    round normalizes by the L1 norm — a DECIMAL sum of on-grid scores,
    so the norm itself is exact and the double division + 12-dp
    re-round is bit-identical cross-engine. (Classic HITS uses the L2
    norm; any norm only rescales — rankings and ratios are identical —
    and L1 keeps the contract sqrt-free.)

    Scale shape per round: two keyed equi-joins (scores ⋈ edges on
    src, then on dst — pre-partition edges once at cluster scale and
    both reuse the layout), two hash aggs with map-side combine, two
    1-row broadcast norm aggregates. Rounds run through iterate; no collect.
    """
    # Pin the loop-invariant inputs: every round probes edges twice
    # and nodes twice, and for the purchase graph the caller's edge
    # build is a fact-fact join + distinct that must not re-execute
    # per probe per round (see _pin).
    edges = _pin(edges.select("src", "dst"))
    nodes = _pin(
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    dec = f"decimal(28,{_SCALE})"

    def hits_round(scores: DataFrame, _: int) -> DataFrame:
        # auth'(v) = sum over in-edges (u -> v) of hub(u).  Pinned:
        # consumed by both the norm aggregate and the auth join.
        a_in = _pin(
            scores.join(edges, scores["node"] == edges["src"])
            .select(
                F.col("dst").alias("node"),
                portable_round(F.col("hub"), _SCALE).cast(dec).alias("t"),
            )
            .groupBy("node")
            .agg(F.sum("t").alias("auth_raw"))
        )
        a_norm = a_in.agg(F.sum("auth_raw").alias("an"))
        auth = (
            nodes.join(a_in, "node", "left")
            .crossJoin(F.broadcast(a_norm))
            .select(
                "node",
                portable_round(
                    F.coalesce(F.col("auth_raw").cast("double"), F.lit(0.0))
                    / F.col("an").cast("double"),
                    _SCALE,
                ).alias("auth"),
            )
        )
        # auth is consumed twice (the hub update and the round's final
        # score join) — pin so the second consumer is a flat scan.
        auth = _pin(auth)
        # hub'(u) = sum over out-edges (u -> v) of auth'(v)
        h_in = _pin(
            auth.join(edges, auth["node"] == edges["dst"])
            .select(
                F.col("src").alias("node"),
                F.col("auth").cast(dec).alias("t"),  # already on the 12-dp grid
            )
            .groupBy("node")
            .agg(F.sum("t").alias("hub_raw"))
        )
        h_norm = h_in.agg(F.sum("hub_raw").alias("hn"))
        hub = (
            nodes.join(h_in, "node", "left")
            .crossJoin(F.broadcast(h_norm))
            .select(
                "node",
                portable_round(
                    F.coalesce(F.col("hub_raw").cast("double"), F.lit(0.0))
                    / F.col("hn").cast("double"),
                    _SCALE,
                ).alias("hub"),
            )
        )
        return hub.join(auth, "node")

    scores = nodes.select(
        "node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")
    )
    return iterate(scores, hits_round, HITS_ITERS).select("node", "hub", "auth")


def hits_sql(edges_cte: str) -> str:
    """DuckDB twin of :func:`hits`: the same rounds as nested CTEs,
    term-for-term — 12-dp rounded DECIMAL(28,12) transfer sums, exact
    L1 norms, double divisions re-rounded to the grid. ``edges_cte``
    must define a CTE named ``edges`` with (src, dst)."""
    dec = f"DECIMAL(28,{_SCALE})"
    parts = [
        edges_cte,
        "nodes AS (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges))",
        "s0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS hub, "
        "CAST(1.0 AS DOUBLE) AS auth FROM nodes)",
    ]
    for i in range(1, HITS_ITERS + 1):
        p = i - 1
        parts.append(
            f"""ain{i} AS (
    SELECT e.dst AS node, SUM(CAST({portable_round_sql('s.hub', _SCALE)} AS {dec})) AS auth_raw
    FROM s{p} s JOIN edges e ON e.src = s.node GROUP BY e.dst
)"""
        )
        parts.append(
            f"""auth{i} AS (
    SELECT n.node,
           {portable_round_sql(
               f"CAST(COALESCE(a.auth_raw, 0) AS DOUBLE)"
               f" / CAST((SELECT SUM(auth_raw) FROM ain{i}) AS DOUBLE)",
               _SCALE,
           )} AS auth
    FROM nodes n LEFT JOIN ain{i} a ON a.node = n.node
)"""
        )
        parts.append(
            f"""hin{i} AS (
    SELECT e.src AS node, SUM(CAST(a.auth AS {dec})) AS hub_raw
    FROM auth{i} a JOIN edges e ON e.dst = a.node GROUP BY e.src
)"""
        )
        parts.append(
            f"""s{i} AS (
    SELECT n.node,
           {portable_round_sql(
               f"CAST(COALESCE(h.hub_raw, 0) AS DOUBLE)"
               f" / CAST((SELECT SUM(hub_raw) FROM hin{i}) AS DOUBLE)",
               _SCALE,
           )} AS hub,
           a.auth
    FROM nodes n
    LEFT JOIN hin{i} h ON h.node = n.node
    JOIN auth{i} a ON a.node = n.node
)"""
        )
    return materialize_ctes("WITH " + ",\n".join(parts) + f"\nSELECT node, hub, auth FROM s{HITS_ITERS}")


# ---------------------------------------------------------------------------
# k-core decomposition (bounded peeling)
# ---------------------------------------------------------------------------

def kcore(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """(node, degree) of the subgraph left after ``rounds`` peels of
    the k-core iteration over an UNDIRECTED simple edge list (a, b),
    a < b, distinct: each round drops every node with degree < k, then
    re-derives degrees on the induced subgraph. With enough rounds
    this is exactly the k-core (the peel reaches a fixed point — a
    round that drops nobody changes nothing); a fixed ``rounds`` keeps
    the loop deterministic and driver-bounded, same contract as
    :func:`pagerank` / :func:`bfs_hops`. Integer arithmetic only — no
    rounding contract needed.

    Scale shape per round: one degree hash agg + two semi joins
    (keep edges whose BOTH endpoints survive). The degree table is
    node-sized (tiny next to edges); at cluster scale pre-partition
    edges on ``a`` once and the semi joins broadcast the shrinking
    survivor set."""
    # Each peel reads the previous round's edge set three times (the
    # degree union twice, then as the semi-join probe) — see iterate.
    def peel(e: DataFrame, _: int) -> DataFrame:
        deg = (
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        return e.join(keep.select(F.col("node").alias("a")), "a", "left_semi").join(
            keep.select(F.col("node").alias("b")), "b", "left_semi"
        )

    e = iterate(_pin(edges.select("a", "b")), peel, rounds)
    return (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def kcore_sql(edges_select: str, k: int, rounds: int) -> str:
    """DuckDB twin of :func:`kcore`: the same bounded peel as nested
    CTEs. ``edges_select`` is a full SELECT producing (a, b)."""
    parts = [f"e0 AS (SELECT a, b FROM ({edges_select}))"]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f"""d{i} AS (
    SELECT node, COUNT(*) AS deg
    FROM (SELECT a AS node FROM e{p} UNION ALL SELECT b AS node FROM e{p})
    GROUP BY node
)"""
        )
        parts.append(f"k{i} AS (SELECT node FROM d{i} WHERE deg >= {k})")
        parts.append(
            f"""e{i} AS (
    SELECT e.a, e.b FROM e{p} e
    WHERE EXISTS (SELECT 1 FROM k{i} x WHERE x.node = e.a)
      AND EXISTS (SELECT 1 FROM k{i} y WHERE y.node = e.b)
)"""
        )
    return materialize_ctes(
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT node, COUNT(*) AS degree
FROM (SELECT a AS node FROM e{rounds} UNION ALL SELECT b AS node FROM e{rounds})
GROUP BY node"""
    )


# ---------------------------------------------------------------------------
# Link prediction (common neighbors / Jaccard / preferential attachment)
# ---------------------------------------------------------------------------

def link_predictions(edges: DataFrame, topk: int) -> DataFrame:
    """Top-``topk`` predicted links over an UNDIRECTED simple edge
    list (a, b), a < b, distinct: for every NON-adjacent pair with at
    least one shared neighbor, the three classic
    neighborhood scores — common-neighbor count, Jaccard of the
    neighbor sets, preferential attachment deg(a)*deg(b) — ranked by
    (common desc, jaccard desc, pair). Jaccard divides two exact
    integers, so the doubles are bit-identical cross-engine.

    Scale shape: symmetrize once, enumerate wedges by ONE self
    equi-join on the shared mid node (wedge volume is sum(deg²) — on
    kNN-sparsified input, deg is bounded, so this is linear in nodes;
    feed raw power-law graphs through a degree cap first, same lever
    as operators/cooccur.py), hash-agg pairs, anti-join the existing
    edges, top-k via TakeOrderedAndProject. No windows, no collect."""
    # sym feeds the wedge self-join (both sides) and the degree agg,
    # and e the anti-join — five probes of the caller's edge build
    # without the pin (see _pin).
    e = _pin(edges.select("a", "b"))
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    l = sym.select(F.col("a").alias("mid"), F.col("b").alias("u"))
    r = sym.select(F.col("a").alias("mid"), F.col("b").alias("v"))
    cand = (
        l.join(r, "mid")
        .filter(F.col("u") < F.col("v"))
        .groupBy(F.col("u").alias("a"), F.col("v").alias("b"))
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
        .join(e, ["a", "b"], "left_anti")
    )
    return (
        cand.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            "a",
            "b",
            "common_neighbors",
            (
                F.col("common_neighbors").cast("double")
                / (F.col("da") + F.col("db") - F.col("common_neighbors")).cast("double")
            ).alias("jaccard"),
            (F.col("da") * F.col("db")).alias("pref_attachment"),
        )
        .orderBy(F.col("common_neighbors").desc(), F.col("jaccard").desc(), "a", "b")
        .limit(topk)
    )


def link_predictions_sql(edges_select: str, topk: int) -> str:
    """DuckDB twin of :func:`link_predictions`."""
    return materialize_ctes(f"""
WITH e AS (SELECT a, b FROM ({edges_select})),
sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
deg AS (SELECT a AS node, COUNT(*) AS deg FROM sym GROUP BY a),
cand AS (
  SELECT l.b AS a, r.b AS b, COUNT(*) AS common_neighbors
  FROM sym l JOIN sym r ON l.a = r.a AND l.b < r.b
  GROUP BY l.b, r.b
),
new_pairs AS (
  SELECT c.* FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = c.a AND e.b = c.b)
)
SELECT n.a, n.b, n.common_neighbors,
       CAST(n.common_neighbors AS DOUBLE)
         / CAST(da.deg + db.deg - n.common_neighbors AS DOUBLE) AS jaccard,
       da.deg * db.deg AS pref_attachment
FROM new_pairs n
JOIN deg da ON da.node = n.a
JOIN deg db ON db.node = n.b
ORDER BY n.common_neighbors DESC, jaccard DESC, n.a, n.b
LIMIT {topk}""")


# ---------------------------------------------------------------------------
# Harmonic centrality (bounded multi-source BFS)
# ---------------------------------------------------------------------------


def _harmonic_scale(max_hops: int) -> int:
    """lcm(1..max_hops): the factor that makes every 1/d term integer."""
    from math import lcm

    return lcm(*range(1, max_hops + 1))


def harmonic_centrality(edges: DataFrame, max_hops: int) -> DataFrame:
    """Per-node harmonic centrality sum_{v: 0<d(u,v)<=max_hops} 1/d(u,v)
    over an UNDIRECTED simple edge list (a, b) — the bounded-radius form
    (Boldi & Vigna 2014) that a distributed engine can actually compute:
    exact all-pairs distances are V-squared work, but a hop bound keeps
    the frontier at sum_h deg^h per source, which on the bounded-degree
    kNN graphs this repo builds is a small constant per node.

    Exactness: distances are integers, so 1/d is rational with
    denominator dividing lcm(1..max_hops) — the sum is carried as the
    INTEGER ``harmonic_x{scale}`` and the double form is one terminal
    division. Per-hop reach counts ride along for free.

    Plan per round: the frontier (rows that FIRST appeared at hops h-1,
    not the settled set) equi-joins the cached symmetrized edge list,
    then a min hash agg folds the relaxation — bfs_hops generalized to
    all sources at once. No windows, no collect; the distance table is
    the only state and it is bounded by reachable pairs."""
    scale = _harmonic_scale(max_hops)
    sym = (
        edges.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionByName(edges.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .repartition("node")
        .persist()
    )
    dist = sym.select("node").distinct().select(
        F.col("node").alias("src"), "node", F.lit(0).cast("int").alias("hops")
    )

    def hop(dist: DataFrame, i: int) -> DataFrame:
        # dist derives from sym, so qualify the self-join by renaming
        # the frontier's key instead of relying on column lineage (the
        # label_propagation pattern).
        frontier = dist.filter(F.col("hops") == i).withColumnRenamed("node", "fnode")
        nxt = frontier.join(sym, F.col("fnode") == F.col("node")).select(
            "src", F.col("nbr").alias("node"), F.lit(i + 1).cast("int").alias("hops")
        )
        return (
            dist.unionByName(nxt)
            .groupBy("src", "node")
            .agg(F.min("hops").alias("hops"))
        )

    dist = iterate(dist, hop, max_hops)
    wexpr = F.when(F.col("hops") == 1, F.lit(scale // 1))
    for h in range(2, max_hops + 1):
        wexpr = wexpr.when(F.col("hops") == h, F.lit(scale // h))
    reach_cols = [
        F.sum(F.when(F.col("hops") == h, 1).otherwise(0))
        .cast("bigint")
        .alias(f"n_hop{h}")
        for h in range(1, max_hops + 1)
    ]
    return (
        dist.filter(F.col("hops") > 0)
        .groupBy(F.col("src").alias("node"))
        .agg(
            *reach_cols,
            F.sum(wexpr.otherwise(0)).cast("bigint").alias(f"harmonic_x{scale}"),
        )
        .select(
            "node",
            *[f"n_hop{h}" for h in range(1, max_hops + 1)],
            f"harmonic_x{scale}",
            (F.col(f"harmonic_x{scale}").cast("double") / F.lit(float(scale))).alias(
                "harmonic"
            ),
        )
        .orderBy("node")
    )


def harmonic_centrality_sql(edges_cte: str, max_hops: int) -> str:
    """DuckDB twin: multi-source WITH RECURSIVE under UNION (distinct)
    semantics — the working set is (src, node, hops) triples bounded by
    reachable-pairs x max_hops, not paths. ``edges_cte`` must define a
    CTE named ``edges`` with integer columns (a, b)."""
    scale = _harmonic_scale(max_hops)
    reach = ",\n       ".join(
        f"CAST(SUM(CASE WHEN hops = {h} THEN 1 ELSE 0 END) AS BIGINT) AS n_hop{h}"
        for h in range(1, max_hops + 1)
    )
    warm = " ".join(
        f"WHEN hops = {h} THEN {scale // h}" for h in range(1, max_hops + 1)
    )
    return f"""
WITH RECURSIVE {edges_cte},
sym AS (SELECT a AS node, b AS nbr FROM edges
        UNION ALL SELECT b AS node, a AS nbr FROM edges),
walk(src, node, hops) AS (
  SELECT node, node, 0 FROM (SELECT DISTINCT node FROM sym)
  UNION
  SELECT w.src, s.nbr, w.hops + 1
  FROM walk w JOIN sym s ON s.node = w.node
  WHERE w.hops < {max_hops}
),
d AS (SELECT src, node, MIN(hops) AS hops FROM walk GROUP BY src, node)
SELECT src AS node,
       {reach},
       CAST(SUM(CASE {warm} ELSE 0 END) AS BIGINT) AS harmonic_x{scale},
       CAST(SUM(CASE {warm} ELSE 0 END) AS BIGINT) / CAST({scale} AS DOUBLE) AS harmonic
FROM d WHERE hops > 0 GROUP BY src ORDER BY node"""


def conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community conductance phi(c) = cut_c / min(vol_c, 2m - vol_c)
    over an UNDIRECTED simple edge list (a, b) and a (node, community)
    assignment — the boundary-quality complement to :func:`modularity`
    (a good community has LOW conductance; modularity can reward big
    sparse blobs that conductance exposes). cut_c counts edges with
    exactly one endpoint in c, vol_c sums degrees of c's nodes —
    integers end to end, so phi is one terminal double division.

    Same plan shape as modularity: one degree hash agg on the
    symmetrized list, two keyed label joins + one hash agg for the cut,
    a 1-row broadcast total. Linear in |E|."""
    m = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    sym = edges.select(F.col("a").alias("node")).unionByName(
        edges.select(F.col("b").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    la = labels.select(F.col("node").alias("a"), F.col("community").alias("ca"))
    lb = labels.select(F.col("node").alias("b"), F.col("community").alias("cb"))
    ej = edges.join(la, "a").join(lb, "b")
    # a cut edge contributes to BOTH sides' cut counts
    cut = (
        ej.filter(F.col("ca") != F.col("cb"))
        .select(F.col("ca").alias("community"))
        .unionByName(
            ej.filter(F.col("ca") != F.col("cb")).select(
                F.col("cb").alias("community")
            )
        )
        .groupBy("community")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cut_edges"))
    )
    vol = (
        labels.join(deg, "node")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("deg").cast("bigint").alias("volume"),
        )
    )
    denom = F.least(F.col("volume"), 2 * F.col("m") - F.col("volume"))
    return (
        vol.join(cut, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            F.coalesce("cut_edges", F.lit(0).cast("bigint")).alias("cut_edges"),
            "volume",
            F.when(denom > 0,
                   F.coalesce("cut_edges", F.lit(0).cast("bigint")).cast("double")
                   / denom.cast("double"))
            .otherwise(F.lit(0.0))
            .alias("phi"),
        )
        .orderBy("community")
    )


def conductance_sql(edges_cte: str, labels_cte: str) -> str:
    """DuckDB twin of :func:`conductance`. ``edges_cte`` must define
    ``edges`` (a, b); ``labels_cte`` must define ``labels``
    (node, community)."""
    return materialize_ctes(f"""
WITH {edges_cte},
{labels_cte},
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
  FROM (SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges)
  GROUP BY node
),
ej AS (
  SELECT la.community AS ca, lb.community AS cb
  FROM edges e
  JOIN labels la ON la.node = e.a
  JOIN labels lb ON lb.node = e.b
),
cut AS (
  SELECT community, CAST(COUNT(*) AS BIGINT) AS cut_edges
  FROM (SELECT ca AS community FROM ej WHERE ca <> cb
        UNION ALL SELECT cb AS community FROM ej WHERE ca <> cb)
  GROUP BY community
),
vol AS (
  SELECT l.community, CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(d.deg) AS BIGINT) AS volume
  FROM labels l JOIN deg d ON d.node = l.node
  GROUP BY l.community
)
SELECT v.community, v.n_nodes,
       COALESCE(c.cut_edges, CAST(0 AS BIGINT)) AS cut_edges,
       v.volume,
       CASE WHEN LEAST(v.volume, 2 * (SELECT m FROM m) - v.volume) > 0
            THEN CAST(COALESCE(c.cut_edges, 0) AS DOUBLE)
                 / CAST(LEAST(v.volume, 2 * (SELECT m FROM m) - v.volume) AS DOUBLE)
            ELSE 0.0 END AS phi
FROM vol v LEFT JOIN cut c ON c.community = v.community
ORDER BY v.community""")


def assortativity(edges: DataFrame) -> DataFrame:
    """Degree-assortativity coefficient of an UNDIRECTED simple edge
    list (a, b) — Newman 2002: the Pearson correlation of endpoint
    degrees over the DIRECTED edge multiset (each undirected edge
    counted both ways, the standard convention). Positive: hubs link
    hubs (social nets); negative: hubs link leaves (tech/biological
    nets) — the one-number topology diagnostic that says which regime
    a graph is in before you pick degree caps.

    Degrees and all five moments are INTEGERS (sums of deg, deg², and
    endpoint products over edges) carried as DECIMAL(38,0) — bigint
    products overflow past ~1e5-degree hubs — so r is a pinned double
    chain: r = (m*sxy - sx*sy) / sqrt((m*sxx - sx*sx) * (m*syy - sy*sy))
    with sqrt IEEE-exact. Plan: one degree hash agg + two keyed joins
    edge→degree + one 1-row agg. Linear in |E|."""
    sym = edges.select(F.col("a").alias("x"), F.col("b").alias("y")).unionByName(
        edges.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    deg = sym.groupBy(F.col("x").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    dx = deg.select(F.col("node").alias("x"), F.col("deg").alias("da"))
    dy = deg.select(F.col("node").alias("y"), F.col("deg").alias("db"))
    j = sym.join(dx, "x").join(dy, "y")
    dec = "decimal(38,0)"
    m = j.agg(
        F.count(F.lit(1)).cast(dec).alias("m"),
        F.sum(F.col("da").cast(dec)).alias("sx"),
        F.sum(F.col("db").cast(dec)).alias("sy"),
        F.sum((F.col("da") * F.col("db")).cast(dec)).alias("sxy"),
        F.sum((F.col("da") * F.col("da")).cast(dec)).alias("sxx"),
        F.sum((F.col("db") * F.col("db")).cast(dec)).alias("syy"),
    )
    md = F.col("m").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = md * F.col("sxy").cast("double") - sxd * syd
    den = F.sqrt(
        (md * F.col("sxx").cast("double") - sxd * sxd)
        * (md * F.col("syy").cast("double") - syd * syd)
    )
    return m.select(
        (F.col("m").cast("bigint") / 2).cast("bigint").alias("n_edges"),
        (num / den).alias("assortativity"),
    )


def assortativity_sql(edges_cte: str) -> str:
    """DuckDB twin of :func:`assortativity`. ``edges_cte`` must define
    ``edges`` (a, b)."""
    return materialize_ctes(f"""
WITH {edges_cte},
sym AS (SELECT a AS x, b AS y FROM edges UNION ALL SELECT b AS x, a AS y FROM edges),
deg AS (SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY x),
j AS (
  SELECT dx.deg AS da, dy.deg AS db
  FROM sym s JOIN deg dx ON dx.node = s.x JOIN deg dy ON dy.node = s.y
),
m AS (
  SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS m,
         CAST(SUM(CAST(da AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(db AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(da * db AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(da * da AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(db * db AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
  FROM j
)
SELECT CAST(CAST(m AS BIGINT) / 2 AS BIGINT) AS n_edges,
       (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS assortativity
FROM m""")
