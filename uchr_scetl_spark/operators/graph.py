"""Iterative graph algorithms as DataFrame loops.

Spark has no native graph operator set, but the iterative
join-aggregate loop (the Pregel pattern) expresses them directly:
each iteration is one shuffle-join of the message table against the
state table plus one aggregation, and ``localCheckpoint`` truncates
the lineage so plan size stays O(1) in the iteration count (the same
technique dedup_clusters uses for connected components).

PageRank here runs in FIXED-POINT INTEGER arithmetic (scale 10^12,
floor division): floating-point PageRank sums contributions in an
order the shuffle controls, so doubles are not reproducible across
engines or even across runs — integer mass is. That makes an
iterative algorithm bit-exactly oracle-checkable, which almost no
engine's graph module bothers to be.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load
from ..memo import Memo
from ..registry import query
from ..session import stable_checkpoint_lazy

_SCALE = 10**12
_DAMP_NUM, _DAMP_DEN = 85, 100  # damping 0.85 as a ratio
_ITERS = 2

# Size gate for the graph family's node-sized broadcast hints (round
# 13, closing the r12 verdict's docstring-vs-code divergence): an
# explicit broadcast hint is honored REGARDLESS of size — Spark will
# attempt the build and OOM executors rather than degrade — so the
# documented "degrades to a co-partitioned equi-join at scale" story
# is only true if the hint itself is conditional. Every gated relation
# in this module (pagerank's degree and rank tables, triangle's
# out-adjacency, BFS's frontier / visited set, jaccard's degree
# lookup) is node-row-sized and edge-content-bounded (the adjacency
# arrays hold one entry per oriented edge), so one probe — the
# memoized co-purchase EDGE count — bounds them all: edges under the
# gate ⇒ ≤2×gate node rows and ≤gate array entries, comfortably
# inside an executor broadcast budget at 16-byte rows (~64 MB). Over
# the gate, the hint is withheld and AQE picks the strategy from
# runtime stats (broadcast if still small enough, else shuffled
# hash / sort-merge on the key — the degradation the docstrings
# promise). The probe is one count() on the already-cached memoized
# relation, paid once per (app, corpus).
_BCAST_EDGE_GATE = 2_000_000


def _bcast_if(df: DataFrame, small: bool) -> DataFrame:
    """Broadcast hint only when the caller's size probe says the
    relation family is under `_BCAST_EDGE_GATE`; otherwise the plain
    frame, leaving strategy choice to AQE runtime stats."""
    return F.broadcast(df) if small else df


def _oracle_sql() -> str:
    # unrolled 2-iteration fixed-point PageRank; every step is integer
    # floor division so both engines agree bit-exactly
    return f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (
      SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
    ),
    nodes AS (SELECT DISTINCT src AS part_id FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    r0 AS (
      SELECT part_id, CAST({_SCALE} // n AS BIGINT) AS r
      FROM nodes CROSS JOIN nn
    ),
    c1 AS (
      SELECT e.dst AS part_id,
             CAST(SUM((r0.r * {_DAMP_NUM}) // ({_DAMP_DEN} * d.deg))
                  AS BIGINT) AS contrib
      FROM edges e JOIN r0 ON e.src = r0.part_id
                   JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r1 AS (
      SELECT n2.part_id,
             CAST(({_SCALE} * {_DAMP_DEN - _DAMP_NUM}) // ({_DAMP_DEN} * nn.n)
                  + COALESCE(c1.contrib, 0) AS BIGINT) AS r
      FROM nodes n2 CROSS JOIN nn LEFT JOIN c1 USING (part_id)
    ),
    c2 AS (
      SELECT e.dst AS part_id,
             CAST(SUM((r1.r * {_DAMP_NUM}) // ({_DAMP_DEN} * d.deg))
                  AS BIGINT) AS contrib
      FROM edges e JOIN r1 ON e.src = r1.part_id
                   JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    )
    SELECT n3.part_id,
           CAST(({_SCALE} * {_DAMP_DEN - _DAMP_NUM}) // ({_DAMP_DEN} * nn.n)
                + COALESCE(c2.contrib, 0) AS BIGINT) AS rank
    FROM nodes n3 CROSS JOIN nn LEFT JOIN c2 USING (part_id)
    """


@query("graph_pagerank", oracle=_oracle_sql())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (parts appearing in
    the same order are linked), 2 damped iterations at damping 0.85.

    Scale design: edge generation shuffles lineitem on l_orderkey once
    (a partial-aggregated collect_set, pairs exploded in-row); the
    per-iteration join (edges ⋈ ranks on src) and the contribution
    aggregation (on dst) are the only repeated shuffles, and the rank
    table is node-sized (≪ edge-sized); its per-iteration broadcast
    hint is SIZE-GATED (_bcast_if on the memoized edge count), so past
    the gate the join degrades to a co-partitioned equi-join as coded.
    ``stable_checkpoint`` after each iteration keeps the plan from
    growing with the loop. The node count rides a one-row broadcast. All arithmetic is int64
    fixed-point (scale 10^12), so results are identical at any
    parallelism and bit-comparable against the unrolled SQL oracle."""
    # Edge generation WITHOUT a self-join (round-5 rewrite, measured
    # ~35% faster end-to-end): the shared weighted co-purchase
    # relation (collect_set per order + in-row ordered-pair explode +
    # one partial+final count — see _copurchase_weighted) holds each
    # undirected edge exactly once, so the distinct DIRECTED edge set
    # is just its two projections unioned — no extra distinct shuffle,
    # and the (cached) build is shared with the degree/market-basket
    # keys instead of re-run per graph key. The old formulation
    # shuffled lineitem into a self-join and probed
    # |parts-per-order|² rows through the join operator per order.
    ew = _copurchase_weighted(spark, sf_dir)
    small = _copurchase_is_small(spark, sf_dir)
    # NOTE (round 16): dropping this checkpoint was tried (the cached
    # ew relation is a barrier already) and measured SLOWER 5/5
    # interleaved A/B rounds (min 4.23 → 5.15 s): edges_deg is rebuilt
    # inside every iteration's DAG, and reading the checkpointed edge
    # blocks beats replaying union+deg-broadcast per pass. BFS, whose
    # loop references edges fewer times, wins the same removal — see
    # graph_bfs_hops.
    edges = (
        ew.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(ew.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .transform(stable_checkpoint_lazy)
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # (checkpointing edges_deg as well was tried in round 4 and
    # measured ZERO win — ReusedExchange already covers the repeated
    # reference, so the extra storage buys nothing)
    edges_deg = edges.join(_bcast_if(deg, small), "src")
    # round 16: the node set IS deg's key set (every node appears as a
    # src in the two-sided union), so deriving it from deg removes the
    # separate distinct — one whole exchange+aggregate over the edge
    # relation (the distinct's partial output schema differs from
    # deg's, so ReusedExchange could never merge them)
    nodes = deg.select(F.col("src").alias("part_id"))
    nn = nodes.agg(F.count("*").alias("n"))
    # node-sized relation used every iteration: checkpoint once, not
    # re-derived (a distinct over edges) per pass
    nodes_n = nodes.join(F.broadcast(nn)).transform(stable_checkpoint_lazy)

    base = F.expr(f"({_SCALE} * {_DAMP_DEN - _DAMP_NUM}) div ({_DAMP_DEN} * n)")
    ranks = nodes_n.select("part_id", F.expr(f"{_SCALE} div n").alias("r"))
    for _ in range(_ITERS):
        # ranks is NODE-sized (≪ edges): broadcasting it makes the
        # edge-side join shuffle-free — the only per-iteration edge
        # shuffle left is the contribution aggregation on dst, and
        # partial aggregation collapses that to ≤|nodes| rows per
        # task. On a cluster whose node table outgrows the gate, the
        # hint is withheld (_bcast_if) and the join becomes a
        # co-partitioned equi-join on the key under AQE.
        contribs = (
            edges_deg.join(_bcast_if(ranks, small), edges_deg.src == ranks.part_id)
            .select(
                F.col("dst").alias("part_id"),
                F.expr(f"(r * {_DAMP_NUM}) div ({_DAMP_DEN} * deg)").alias("c"),
            )
            .groupBy("part_id")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes_n.join(contribs, "part_id", "left")
            .select(
                "part_id",
                (base + F.coalesce(F.col("contrib"), F.lit(0))).alias("r"),
            )
            .transform(stable_checkpoint_lazy)
        )
    return ranks.select("part_id", F.col("r").alias("rank"))


# One weighted-edge relation per (app, sf_dir), cached and shared by
# the degree-distribution and market-basket keys.
_COPURCHASE = Memo()
# Its edge count, memoized alongside (one count() job on the cached
# relation per corpus) — the single size probe behind _bcast_if.
_COPURCHASE_COUNT = Memo()


def _copurchase_is_small(spark: SparkSession, sf_dir: str) -> bool:
    """True when the memoized co-purchase edge relation is under
    `_BCAST_EDGE_GATE` rows — the one size probe gating every
    node-sized broadcast hint in this module (see gate comment)."""
    n = _COPURCHASE_COUNT.get_heavy(
        spark, sf_dir, build=lambda: _copurchase_weighted(spark, sf_dir).count()
    )
    return n <= _BCAST_EDGE_GATE


def _copurchase_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical weighted co-purchase edges (a < b, w = number of
    orders containing both parts), built the same shuffle-free way as
    graph_pagerank's edges: per-order distinct part arrays, ordered
    pairs exploded in-row, then one partial+final count on the pair
    key. Never a lineitem self-join."""

    def _build() -> DataFrame:
        order_parts = (
            load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .groupBy("l_orderkey")
            .agg(F.collect_set("l_partkey").alias("ps"))
        )
        pair = F.expr(
            "flatten(transform(ps, x ->"
            " transform(filter(ps, y -> y > x), y -> struct(x AS a, y AS b))))"
        )
        return (
            order_parts.select(F.explode(pair).alias("e"))
            .groupBy(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
            .agg(F.count("*").alias("w"))
            .cache()
        )

    return _COPURCHASE.get(spark, sf_dir, build=_build)


_SQL_COPURCHASE = """
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b, CAST(COUNT(*) AS BIGINT) AS w
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
"""


@query(
    "graph_degree_distribution",
    oracle=f"""
    WITH {_SQL_COPURCHASE},
    nodes AS (
      SELECT a AS part_id FROM pairs UNION ALL SELECT b FROM pairs
    ),
    deg AS (
      SELECT part_id, CAST(COUNT(*) AS BIGINT) AS degree
      FROM nodes GROUP BY part_id
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM deg GROUP BY degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph — the first thing to
    look at before running anything iterative on a graph (a heavy tail
    here is what forces salting/skew handling downstream).

    Three cheap aggregations end to end: pair counts (vocabulary of
    edges, partial+final), per-node degree (each canonical edge
    contributes one to each endpoint — counted via a two-sided
    union-all explode, no distinct needed since edges are unique), and
    the histogram itself (≤ max-degree rows)."""
    edges = _copurchase_weighted(spark, sf_dir)
    nodes = edges.select(F.col("a").alias("part_id")).unionAll(
        edges.select(F.col("b").alias("part_id"))
    )
    deg = nodes.groupBy("part_id").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_parts"))


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH {_SQL_COPURCHASE},
    nodes AS (SELECT a AS id FROM pairs UNION ALL SELECT b AS id FROM pairs),
    deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM nodes GROUP BY id),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n
      FROM pairs e1
      JOIN pairs e2 ON e2.a = e1.b
      JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg)              AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs)            AS n_edges,
           (SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT) FROM deg)
                                                                   AS n_wedges,
           (SELECT n FROM tri)                                     AS n_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census of the co-purchase graph (plus node /
    edge / wedge counts — the inputs to the global clustering
    coefficient 3·T/W), via DEGREE-ORIENTED wedge generation.

    Scale design: the naive formulation (edges ⋈ edges ⋈ edges, or
    wedges generated from the canonical a<b orientation) explodes on
    hubs — a node of degree d contributes C(d,2) wedges, and id-order
    puts ALL of a hub's wedges on the hub. Orienting every edge from
    its lower-(degree, id) endpoint to the higher bounds every node's
    out-degree by O(√m) (a standard result: a node keeps an out-edge
    only toward neighbors of ≥ its own degree, and there can be at
    most 2√m nodes of degree ≥ √m), so the wedge set is O(m^1.5)
    TOTAL and — more importantly — per-task-bounded even on a
    power-law graph. Each triangle is then counted exactly once: its
    minimum-(degree, id) corner generates the wedge and the closing
    edge is oriented the same way, so the finish is one equi-join of
    the wedge relation against the oriented edge relation. Wedges are
    produced in-row (collect_set of (deg, id) structs per source +
    ordered-pair explode), the same no-self-join pattern as the edge
    build itself. At 100 TB the only super-linear relation is the
    wedge set, whose O(m^1.5) bound is exactly the best known for
    exact global triangle counting; everything else is linear scans
    and hash aggregations. The oracle counts the same triangles via
    the id-ordered 3-way self-join — the census is orientation-
    independent, so both engines agree exactly (all-integer output)."""
    edges = _copurchase_weighted(spark, sf_dir).select("a", "b")
    nodes = edges.select(F.col("a").alias("id")).unionAll(
        edges.select(F.col("b").alias("id"))
    )
    deg = nodes.groupBy("id").agg(F.count("*").alias("d"))
    e2 = edges.join(
        deg.select(F.col("id").alias("a"), F.col("d").alias("da")), "a"
    ).join(deg.select(F.col("id").alias("b"), F.col("d").alias("db")), "b")
    ka = F.struct(F.col("da").alias("d"), F.col("a").alias("id"))
    kb = F.struct(F.col("db").alias("d"), F.col("b").alias("id"))
    oriented = e2.select(
        F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(ka < kb, kb).otherwise(ka).alias("dstk"),
    ).transform(stable_checkpoint_lazy)
    # Triangle finish by PER-EDGE INTERSECTION instead of a wedge
    # join: for oriented edge u→v, every common out-neighbour w closes
    # u→v, u→w, v→w — each triangle counted exactly once at its
    # min-(deg, id) corner. The out-adjacency relation is |nodes| rows
    # (O(√m)-bounded arrays) and BROADCASTS to both sides, so the only
    # materialized relations are O(m): the O(m^1.5) wedge work happens
    # in-row inside array_intersect, never as a shuffled row set.
    # (The previous explode-the-wedges formulation materialized 41M
    # wedge rows at sf0.1 against 1.2M edges — 28s of shuffle+join;
    # this form is the same asymptotics with no wedge relation at
    # all. At 100 TB, if the adjacency outgrows the broadcast gate,
    # both lookups degrade to co-partitioned equi-joins on src — the
    # hint is size-gated via _bcast_if, so the degradation happens
    # as coded, not by hand-editing.)
    small = _copurchase_is_small(spark, sf_dir)
    adj = oriented.groupBy("src").agg(F.collect_set("dstk.id").alias("ns"))
    ev = oriented.select("src", F.col("dstk.id").alias("dst"))
    tri = (
        ev.join(
            _bcast_if(
                adj.select(F.col("src").alias("u"), F.col("ns").alias("ns_u")),
                small,
            ),
            F.col("src") == F.col("u"),
        )
        .join(
            _bcast_if(
                adj.select(F.col("src").alias("v"), F.col("ns").alias("ns_v")),
                small,
            ),
            F.col("dst") == F.col("v"),
        )
        .agg(
            F.sum(
                F.size(F.array_intersect(F.col("ns_u"), F.col("ns_v")))
            ).alias("n_triangles")
        )
    )
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    n_wedges = deg.agg(
        F.expr("CAST(SUM((d * (d - 1)) div 2) AS BIGINT)").alias("n_wedges")
    )
    return n_nodes.crossJoin(n_edges).crossJoin(n_wedges).crossJoin(tri)


COPURCHASE_PROBE_MAX = 5  # probe parts: part_id <= 5
COPURCHASE_TOP_K = 5


@query(
    "graph_copurchase_topk",
    oracle=f"""
    WITH {_SQL_COPURCHASE},
    directed AS (
      SELECT a AS part_id, b AS partner, w FROM pairs
      UNION ALL
      SELECT b, a, w FROM pairs
    )
    SELECT part_id, partner, w
    FROM directed
    WHERE part_id <= {COPURCHASE_PROBE_MAX}
    QUALIFY row_number() OVER (PARTITION BY part_id
                               ORDER BY w DESC, partner) <= {COPURCHASE_TOP_K}
    """,
)
def graph_copurchase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Customers who bought X also bought…": for each probe part, the
    top-k co-purchase partners by shared-order count — the
    market-basket recommendation primitive, run straight off the
    weighted edge relation.

    The probe filter lands BEFORE the window (only probe rows enter
    the rank), so the expensive part is just the edge aggregation the
    other graph keys already need; the per-probe top-k is a bounded
    window with a total tie-break order (w DESC, partner)."""
    edges = _copurchase_weighted(spark, sf_dir)
    directed = edges.select(
        F.col("a").alias("part_id"), F.col("b").alias("partner"), "w"
    ).unionAll(
        edges.select(
            F.col("b").alias("part_id"), F.col("a").alias("partner"), "w"
        )
    )
    w_ = Window.partitionBy("part_id").orderBy(F.desc("w"), "partner")
    return (
        directed.where(F.col("part_id") <= COPURCHASE_PROBE_MAX)
        .withColumn("rn", F.row_number().over(w_))
        .where(F.col("rn") <= COPURCHASE_TOP_K)
        .select("part_id", "partner", "w")
    )


MIN_RULE_SUPPORT = 2  # minimum co-occurrence (orders containing both)
RULE_PPM = 1_000_000  # metrics reported as exact integer parts-per-million


@query(
    "orders_association_rules",
    oracle=f"""
    WITH {_SQL_COPURCHASE},
    items AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c
      FROM li GROUP BY l_partkey
    ),
    nn AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n
           FROM lineitem)
    SELECT p.a, p.b, p.w AS n_orders_both,
           CAST(({RULE_PPM} * p.w) // ia.c AS BIGINT) AS conf_ab_ppm,
           CAST(({RULE_PPM} * p.w) // ib.c AS BIGINT) AS conf_ba_ppm,
           CAST(({RULE_PPM} * p.w) // nn.n AS BIGINT) AS support_ppm,
           CAST(({RULE_PPM} * nn.n * p.w) // (ia.c * ib.c) AS BIGINT)
             AS lift_ppm
    FROM pairs p
    JOIN items ia ON ia.l_partkey = p.a
    JOIN items ib ON ib.l_partkey = p.b
    CROSS JOIN nn
    WHERE p.w >= {MIN_RULE_SUPPORT}
    """,
)
def orders_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over the co-purchase pairs:
    for every part pair supported by ≥ {MIN_RULE_SUPPORT} orders,
    both directed confidences, support, and lift — the classic
    recommend-/bundle-mining read off the same canonical edge
    relation graph_copurchase_topk ranks.

    All metrics are exact integer parts-per-million: floor(ppm·w/c)
    etc. via integer division on all-positive operands, where Spark's
    `div` and DuckDB's `//` agree — no float ratio ever crosses the
    engine boundary, so the value gate is bit-exact. (At extreme
    corpus sizes the ppm·N·w lift numerator would need decimal
    widening — noted, not silently cast.)

    Scale design: the support filter prunes the pair relation BEFORE
    the two item-count joins (pairs ≫ items; both joins are equi-joins
    on the part key, broadcast-eligible when the item vocabulary is
    small); the order total is a 1-row broadcast. The expensive input —
    pair counts — is the memoized shuffle-free co-purchase build, paid
    once per session for the whole graph family."""
    ew = _copurchase_weighted(spark, sf_dir).where(
        F.col("w") >= MIN_RULE_SUPPORT
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    items = li.groupBy("l_partkey").agg(F.count("*").alias("c"))
    nn = li.select("l_orderkey").distinct().agg(F.count("*").alias("n"))
    joined = (
        ew.join(
            items.select(F.col("l_partkey").alias("a"), F.col("c").alias("ca")),
            "a",
        )
        .join(
            items.select(F.col("l_partkey").alias("b"), F.col("c").alias("cb")),
            "b",
        )
        .crossJoin(F.broadcast(nn))
    )
    ppm = RULE_PPM
    return joined.select(
        "a",
        "b",
        F.col("w").alias("n_orders_both"),
        F.expr(f"CAST(({ppm} * w) div ca AS BIGINT)").alias("conf_ab_ppm"),
        F.expr(f"CAST(({ppm} * w) div cb AS BIGINT)").alias("conf_ba_ppm"),
        F.expr(f"CAST(({ppm} * w) div n AS BIGINT)").alias("support_ppm"),
        F.expr(f"CAST(({ppm} * n * w) div (ca * cb) AS BIGINT)").alias(
            "lift_ppm"
        ),
    )


@query(
    "graph_jaccard_neighbors",
    oracle=f"""
    WITH {_SQL_COPURCHASE},
    und AS (
      SELECT a AS u, b AS v FROM pairs
      UNION ALL SELECT b, a FROM pairs
    ),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY u),
    common AS (
      SELECT e1.u AS p, e2.v AS q,
             CAST(COUNT(*) AS BIGINT) AS common_neighbors
      FROM und e1 JOIN und e2 ON e1.v = e2.u
      WHERE e1.u <= {COPURCHASE_PROBE_MAX} AND e2.v <> e1.u
      GROUP BY 1, 2
    )
    SELECT c.p AS part_id, c.q AS neighbor_id, c.common_neighbors,
           CAST((c.common_neighbors * 1000000)
                // (dp.d + dq.d - c.common_neighbors) AS BIGINT)
             AS jaccard_ppm
    FROM common c
    JOIN deg dp ON dp.u = c.p
    JOIN deg dq ON dq.u = c.q
    QUALIFY row_number() OVER (
      PARTITION BY c.p
      ORDER BY jaccard_ppm DESC, c.q) <= {COPURCHASE_TOP_K}
    """,
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural node similarity — top-k most similar parts to each
    probe part by Jaccard overlap of co-purchase neighbourhoods
    (|N(p)∩N(q)| / |N(p)∪N(q)|) — the classic link-prediction /
    "customers also bought" feature computed from graph structure
    alone, no embeddings involved.

    Exactness: the score is reported in exact integer ppm
    (common·10⁶ div (dp+dq−common)); ranking ties break on
    neighbor_id, so the top-k cut is deterministic in both engines.

    Scale design: rides the session-memoized weighted-edge relation
    (one build per corpus, shared with the other graph keys — no
    lineitem self-join). The probe adjacency (≤ probes × max-degree
    rows) BROADCASTS into the second hop, so the only corpus-sized
    work is one linear pass over the undirected edge relation; the
    (p,q) common-neighbour counts and everything after are bounded by
    the probes' 2-hop neighbourhood, and the degree lookups broadcast
    the probe-bounded sides into the full degree relation rather than
    shuffling it (the full-degree p-side lookup rides the family's
    size gate — _bcast_if — so past the gate AQE broadcasts the
    bounded scored side instead). At 100 TB with a larger probe panel
    the broadcast degrades to a co-partitioned equi-join on the hop
    key — same plan shape, one extra exchange."""
    edges = _copurchase_weighted(spark, sf_dir).select("a", "b")
    und = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count("*").alias("d"))
    probe_adj = und.where(F.col("u") <= COPURCHASE_PROBE_MAX).select(
        F.col("u").alias("p"), F.col("v").alias("n")
    )
    common = (
        und.join(F.broadcast(probe_adj), und.u == F.col("n"))
        .where(F.col("v") != F.col("p"))
        .groupBy("p", F.col("v").alias("q"))
        .agg(F.count("*").alias("common_neighbors"))
    )
    # common is probe-2-hop-bounded (broadcast unconditionally); the
    # p-side degree lookup is the full NODE-sized relation, so its
    # hint rides the same size gate as the rest of the family — over
    # the gate, AQE broadcasts the (bounded) scored side instead.
    small = _copurchase_is_small(spark, sf_dir)
    scored = (
        deg.select(F.col("u").alias("q"), F.col("d").alias("dq"))
        .join(F.broadcast(common), "q")
        .join(
            _bcast_if(
                deg.select(F.col("u").alias("p"), F.col("d").alias("dp")),
                small,
            ),
            "p",
        )
        .withColumn(
            "jaccard_ppm",
            F.expr(
                "CAST((common_neighbors * 1000000)"
                " div (dp + dq - common_neighbors) AS BIGINT)"
            ),
        )
    )
    w = Window.partitionBy("p").orderBy(F.desc("jaccard_ppm"), "q")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= COPURCHASE_TOP_K)
        .select(
            F.col("p").alias("part_id"),
            F.col("q").alias("neighbor_id"),
            "common_neighbors",
            "jaccard_ppm",
        )
    )


_BFS_HOPS = 2  # every level 0..2 is non-empty at BOTH sf0.01 and sf0.1
# (measured: 1/123/1876 nodes per level at sf0.01, 1/134/10766 at
# sf0.1; hop 3 is EMPTY at sf0.01 — the co-purchase graph closes by
# hop 2 there — so a deeper constant would make the last iteration
# vacuous at smoke scale, the pattern tools/vacuity_audit.py exists
# to catch)


@query(
    "graph_bfs_hops",
    oracle=f"""
    WITH RECURSIVE {_SQL_COPURCHASE},
    edges AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL SELECT b, a FROM pairs
    ),
    bfs AS (
      SELECT (SELECT MIN(a) FROM pairs) AS part_id, 0 AS hop
      UNION
      SELECT e.dst, bfs.hop + 1
      FROM bfs JOIN edges e ON e.src = bfs.part_id
      WHERE bfs.hop < {_BFS_HOPS}
    )
    SELECT part_id, CAST(MIN(hop) AS INT) AS hop
    FROM bfs GROUP BY part_id
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source-ready breadth-first search: minimum hop distance
    from a deterministic source (the lowest part id with an edge) over
    the co-purchase graph, levels 0..{_BFS_HOPS}.

    The frontier-expansion loop is the OTHER fundamental iterative
    graph pattern next to PageRank's message aggregation: per level,
    join the current frontier against the edge relation, de-dupe, and
    anti-join out everything already labelled. Each iteration is one
    equi-join plus one anti-join; ``localCheckpoint`` truncates the
    lineage so the plan stays O(1) in depth (the Pregel loop shape
    shared with graph_pagerank and dedup_clusters).

    Scale design: the edge relation is the shared memoized co-purchase
    build (never a lineitem self-join); the frontier and the visited
    set are node-sized, so at this scale they ride broadcast joins
    whose hints are SIZE-GATED (_bcast_if): on a graph whose edge
    count crosses the gate, both degrade to co-partitioned hash joins
    on part_id with the same algebra — as coded, not by hand-edit.
    All-integer output, so the unrolled loop is bit-comparable against
    DuckDB's native recursive CTE — two genuinely different executors
    (a driver-side loop of distributed joins vs a single recursive
    operator) agreeing on every (node, hop) pair.
    """
    ew = _copurchase_weighted(spark, sf_dir)
    small = _copurchase_is_small(spark, sf_dir)
    # round 16: no checkpoint on edges (the memoized cache below it
    # is the barrier). Unlike graph_pagerank, which keeps its edge
    # checkpoint because removing it measured slower, this loop
    # references edges fewer times, so it wins the removal
    edges = ew.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(ew.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    dist = (
        ew.agg(F.min("a").alias("part_id"))
        .select("part_id", F.lit(0).alias("hop"))
        .transform(stable_checkpoint_lazy)
    )
    frontier = dist
    for k in range(1, _BFS_HOPS + 1):
        neighbors = (
            edges.join(
                _bcast_if(frontier.select(F.col("part_id").alias("src")), small),
                "src",
            )
            .select(F.col("dst").alias("part_id"))
            .distinct()
        )
        frontier = (
            neighbors.join(
                _bcast_if(dist.select("part_id"), small), "part_id", "left_anti"
            )
            .select("part_id", F.lit(k).alias("hop"))
            .transform(stable_checkpoint_lazy)
        )
        dist = dist.unionAll(frontier)
    return dist.select("part_id", F.col("hop").cast("int").alias("hop"))
