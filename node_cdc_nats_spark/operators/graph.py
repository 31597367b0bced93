"""Graph analytics over the part co-purchase graph (lineitem-derived).

The reference engine has no graph layer (its surface is a 256-line NATS
pub/sub client, ``lib/nats.js``); these operators cover the graph-shaped
workloads a 100 TB curation pipeline runs on entity/co-occurrence graphs —
link-based importance scoring (PageRank over a co-purchase graph here; over
a doc-citation or domain-link graph in a web corpus) expressed as Spark
joins + aggregations, one shuffle per superstep, exactly the Pregel cost
model.

Determinism (the driver hash-checks values): cross-row float summation is
order-dependent, so each PageRank superstep quantizes every edge
contribution ``r(u)/outdeg(u)`` to integer picounits (floor at 1e12) BEFORE
the cross-row sum — the same make-the-iteration-integer trick that made the
learned-IVF Lloyd rounds oracle-checkable (operators/similarity.py). The
quantization is the operator's contract and the DuckDB oracle applies the
identical floor, so Spark and the oracle agree bit-for-bit after any number
of supersteps.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from ..cache import managed_persist
from ..io import load_table
from ..registry import register

PR_DAMPING = 0.85
PR_ITERS = 3
PR_TOPN = 20
# Contribution quantum: r/outdeg values live in (0, 1]; floored picounits
# keep >= 12 significant digits per contribution while any realistic
# in-degree sum stays far below int64 range (1e12 * degree << 9.2e18).
PR_QUANTUM = 1e12
# Max neighbors per adjacency row: a hub's neighbor list is hash-split
# into ceil(deg / PR_CHUNK) rows, so no single row ever materializes an
# unbounded array (the skew hazard r10's docstring deferred). 4096 ids
# ≈ 32 KB per row — far under any row-size or task-skew threshold, while
# the non-hub common case (deg <= 4096) stays exactly one row per node.
PR_CHUNK = 4096


def _chunked_adjacency(both: DataFrame, deg: DataFrame) -> DataFrame:
    """Grouped adjacency with BOUNDED rows: ``both`` is the symmetric edge
    list (node, nb), ``deg`` the per-node out-degree. Each node's neighbors
    are hash-partitioned into ``ceil(outdeg / PR_CHUNK)`` chunk rows, so a
    100M-degree hub becomes ~24k rows of ≤~4k ids instead of one 800 MB
    array row that no executor can hold. Non-hub nodes (the overwhelming
    majority) get ``nchunks = 1`` and exactly the pre-chunking layout.
    Chunking is invisible to consumers that key on ``node`` and carry
    ``outdeg``: per-node shares are computed per chunk row from the same
    (rank, outdeg) pair, so downstream sums are bit-identical."""
    nchunks = F.greatest(F.lit(1), F.ceil(F.col("outdeg") / F.lit(PR_CHUNK)))
    return (
        both.join(deg, "node")  # deg is |V|-sized: AQE broadcasts it
        .withColumn("ck", F.pmod(F.hash("nb"), nchunks).cast("int"))
        .groupBy("node", "ck")
        .agg(F.collect_list("nb").alias("ns"), F.first("outdeg").alias("outdeg"))
        .drop("ck")
    )


def _copurchase_und(li: DataFrame) -> DataFrame:
    """Distinct undirected co-purchase edges (u < v) from lineitem, built
    via per-order baskets with MAP-SIDE pair explosion (the
    orders_market_basket shape): one exchange collects each order's part
    set, pairs explode map-side, and the only other corpus exchange is the
    edge distinct — a lineitem self-join on orderkey would shuffle the fact
    table twice and was measurably slower."""
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    return (
        baskets.select(F.explode("ps").alias("u"), "ps")
        .select("u", F.explode("ps").alias("v"))
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )


def _directed(und: DataFrame) -> DataFrame:
    """The symmetric (src, dst) edge list of the u < v edges ``und``,
    persisted because every superstep joins it."""
    return managed_persist(
        und.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
            und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
    )


def _checkpoint(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """``df.localCheckpoint(eager=True)`` plus the aggregate ``metrics``
    over its rows, keyed by name. The metrics ride the checkpoint job as
    one ``Observation`` (CollectMetrics accumulates task-side during the
    materialization), so a round's counter costs no separate count()."""
    obs = Observation()
    out = df.observe(obs, *(c.alias(k) for k, c in metrics.items()))
    return out.localCheckpoint(eager=True), obs.get


def _fixpoint(step, state, max_rounds: int, failure: str):
    """Run ``state, done = step(state)`` until ``done`` and return the last
    state; raise ``RuntimeError(failure)`` after ``max_rounds`` rounds
    without it — a silent cap would return an unconverged result."""
    for _ in range(max_rounds):
        state, done = step(state)
        if done:
            return state
    raise RuntimeError(failure)


def _sql_pr_step(i: int) -> str:
    """One unrolled PageRank superstep as a DuckDB CTE: rank mass flows
    ``src -> dst`` over the co-purchase edges, each contribution floored to
    integer picounits before the cross-row sum (order-independent), then the
    damped update. Every co-purchase node has in-edges (the edge set is
    symmetric by construction), so grouping by ``dst`` re-covers the full
    node set each step."""
    return f"""
    r{i} AS (
      SELECT ed.dst AS node,
             CAST(0.15 AS DOUBLE) / MAX(n.n)
             + CAST({PR_DAMPING} AS DOUBLE)
               * (CAST(SUM(CAST(FLOOR((p.r / ed.outdeg) * {PR_QUANTUM:.1f})
                                AS BIGINT)) AS DOUBLE) / {PR_QUANTUM:.1f}) AS r
      FROM ed JOIN r{i - 1} p ON p.node = ed.src CROSS JOIN n
      GROUP BY ed.dst)"""


@register(
    "graph_pagerank",
    oracle=f"""
    WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
          FROM it a JOIN it b ON a.ok = b.ok AND a.pk <> b.pk),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
    ed AS (SELECT e.src, e.dst, d.outdeg FROM e JOIN deg d USING (src)),
    r0 AS (SELECT deg.src AS node, CAST(1 AS DOUBLE) / n.n AS r FROM deg, n),
    {",".join(_sql_pr_step(i).strip() for i in range(1, PR_ITERS + 1))}
    SELECT node AS part_key, r AS pagerank
    FROM (SELECT node, r,
                 ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rn
          FROM r{PR_ITERS})
    WHERE rn <= {PR_TOPN}
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph: nodes are parts, with a
    (symmetric, unweighted) edge between two parts whenever some order
    contains both; {PR_ITERS} damped supersteps from a uniform start, top
    {PR_TOPN} parts by final rank.

    Scale plan: the graph is persisted ONCE as grouped adjacency — one row
    per node carrying its neighbor array and out-degree (the GraphX /
    GraphFrames edge-partition layout). Each superstep is then a
    NODE-sized equi-join of adjacency with the current rank vector (two
    |V|-sized sides — AQE broadcasts the rank side), a map-side explode of
    the neighbor arrays (the per-node share q is projected BELOW the
    generate, so it's computed once per adjacency row, not once per edge —
    the r10 Lloyd lesson), and a partial+final integer SUM keyed on
    ``dst`` (map-side combine applies because the quantized contributions
    are BIGINTs). The only |E|-sized exchange per superstep is the
    combine's — a flat edge-list ⋈ ranks join per step measured ~3×
    slower at sf0.1. Hub skew is BOUNDED by construction: adjacency rows
    are hash-chunked to ≤~``PR_CHUNK`` neighbors (see
    :func:`_chunked_adjacency`), so the far-tail hub becomes many small
    rows spread across tasks instead of one unboundedly wide row — chunk
    rows carry the node's outdeg, shares are identical per chunk, and the
    dst-keyed sum is bit-identical to the unchunked plan. Nothing
    materializes driver-side except the 1-row node count. At 100 TB the
    superstep count is the knob; the per-step cost stays |edges|-linear.

    Determinism: contributions are floored to integer picounits before the
    cross-row sum (see module docstring); the quantization is mirrored in
    the oracle, so the iterated doubles are bit-identical cross-engine.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # und feeds both union branches; both feeds the degree census AND the
    # chunked-adjacency build (the basket/explode/distinct chain would
    # otherwise run once per consumer); deg feeds the chunk join, the
    # node count, and the rank init.
    und = managed_persist(_copurchase_und(li))
    both = managed_persist(
        und.select(F.col("u").alias("node"), F.col("v").alias("nb")).unionAll(
            und.select(F.col("v").alias("node"), F.col("u").alias("nb"))
        )
    )
    deg = managed_persist(
        both.groupBy("node").agg(F.count(F.lit(1)).alias("outdeg"))
    )
    # Bounded adjacency rows (≤~PR_CHUNK ids each), reused by every
    # superstep, so persist once.
    adj = managed_persist(_chunked_adjacency(both, deg))
    n = deg.count()  # 1-row fetch
    if not n:
        # No order carries two distinct parts: an empty graph is a
        # well-typed empty leaderboard, not a division by zero.
        return spark.createDataFrame([], "part_key bigint, pagerank double")
    # Rank init keys on deg, NOT adj: chunked hubs have >1 adjacency row.
    ranks = deg.select("node", (F.lit(1.0) / F.lit(float(n))).alias("r"))
    for _ in range(PR_ITERS):
        shares = adj.join(ranks, "node").select(
            "ns",
            F.floor((F.col("r") / F.col("outdeg")) * F.lit(PR_QUANTUM)).alias("q"),
        )
        contrib = shares.select(F.explode("ns").alias("dst"), "q")
        ranks = contrib.groupBy("dst").agg(F.sum("q").alias("sq")).select(
            F.col("dst").alias("node"),
            (
                F.lit(0.15) / F.lit(float(n))
                + F.lit(PR_DAMPING) * (F.col("sq").cast("double") / F.lit(PR_QUANTUM))
            ).alias("r"),
        )
    return (
        ranks.orderBy(F.col("r").desc(), "node")
        .limit(PR_TOPN)
        .select(F.col("node").alias("part_key"), F.col("r").alias("pagerank"))
    )


TRI_TOPN = 20


def _oriented_closures(und: DataFrame) -> DataFrame:
    """Shared degree-oriented wedge-closure skeleton (``graph_triangles``
    and ``graph_jaccard_neighbors``): orient every undirected edge from its
    (degree, id)-smaller endpoint to the larger one — bounding every
    out-degree, and hence every materialized adjacency array, by
    ~√(2·|E|) regardless of raw hub degree — then find each triangle
    a≺b≺c exactly once at its lowest edge (a, b) as the MAP-side
    intersection N_out(a) ∩ N_out(b). Returns the persisted closure table
    ``(src, dst, common array, k = |common|)`` filtered to k > 0 (a
    zero-closure edge credits nothing in either consumer). Shuffled bytes
    are |E| ids + |V| bounded arrays — never the wedge set (measured 20 s
    → ~2 s at sf0.1 vs the wedge equi-join)."""
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    with_deg = und.join(du, F.col("u") == F.col("du.node")).join(
        dv, F.col("v") == F.col("dv.node")
    )
    u_first = (F.col("du.d") < F.col("dv.d")) | (
        (F.col("du.d") == F.col("dv.d")) & (F.col("u") < F.col("v"))
    )
    de = managed_persist(
        with_deg.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    nbrs = managed_persist(
        de.groupBy("src").agg(F.collect_list("dst").alias("ns"))
    )
    nu = nbrs.select(F.col("src").alias("uk"), F.col("ns").alias("ns_u"))
    nv = nbrs.select(F.col("src").alias("vk"), F.col("ns").alias("ns_v"))
    # Inner joins: an edge whose endpoint has no out-neighbors closes no
    # triangle, so dropping it is exact.
    return managed_persist(
        de.join(nu, F.col("src") == F.col("uk"))
        .join(nv, F.col("dst") == F.col("vk"))
        .select("src", "dst", F.array_intersect("ns_u", "ns_v").alias("common"))
        .withColumn("k", F.size("common"))
        .filter(F.col("k") > 0)
    )


@register(
    "graph_triangles",
    oracle=f"""
    WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    und AS (SELECT DISTINCT a.pk AS u, b.pk AS v
            FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk),
    deg AS (SELECT node, COUNT(*) AS d
            FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
            GROUP BY node),
    de AS (
      SELECT CASE WHEN (du.d, und.u) < (dv.d, und.v) THEN und.u ELSE und.v END AS src,
             CASE WHEN (du.d, und.u) < (dv.d, und.v) THEN und.v ELSE und.u END AS dst,
             CASE WHEN (du.d, und.u) < (dv.d, und.v) THEN dv.d ELSE du.d END AS dd
      FROM und JOIN deg du ON du.node = und.u
               JOIN deg dv ON dv.node = und.v),
    tri AS (
      SELECT w.a, w.b, w.c
      FROM (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
            FROM de e1 JOIN de e2 ON e1.src = e2.src
            WHERE (e1.dd, e1.dst) < (e2.dd, e2.dst)) w
      JOIN de e3 ON e3.src = w.b AND e3.dst = w.c),
    cnt AS (SELECT node, COUNT(*) AS triangles
            FROM (SELECT a AS node FROM tri
                  UNION ALL SELECT b FROM tri
                  UNION ALL SELECT c FROM tri)
            GROUP BY node)
    SELECT node AS part_key, triangles
    FROM (SELECT node, triangles,
                 ROW_NUMBER() OVER (ORDER BY triangles DESC, node) AS rn
          FROM cnt)
    WHERE rn <= {TRI_TOPN}
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation census over the part co-purchase graph: for
    each part, how many co-purchase triangles it closes (top {TRI_TOPN} by
    count) — the clustering/cohesion signal behind community detection and
    recommender confidence.

    Scale plan — degree-ordered EDGE-iterator: every undirected edge is
    stored once and ORIENTED from its (degree, id)-smaller endpoint to its
    larger one, which bounds every out-degree by ~√(2·|E|) no matter how
    big a hub's raw degree is. Triangle a≺b≺c is then found exactly once at
    its LOWEST edge (a, b) as c ∈ N_out(a) ∩ N_out(b): out-neighbor lists
    are collected per node (array size ≤ √(2·|E|) by the orientation — the
    orientation is precisely what makes the adjacency arrays safe to
    materialize), hash-joined onto the edge list, and intersected map-side
    (``array_intersect`` is a per-row hash intersection). A first draft
    materialized the wedge set through an equi-join instead; at sf0.1 that
    shuffles a 41M-row wedge table to be filtered down to ~1.9M triangles —
    measured 20 s vs ~2 s warm for this shape, and the wedge:triangle waste
    RATIO only grows with corpus size. Shuffled bytes here are |E| ids +
    |V| bounded arrays + |edge-with-k| credits, never |wedges|. The edge
    list comes from per-order baskets with MAP-SIDE pair explosion (the
    orders_market_basket shape — one exchange, no lineitem self-join), and
    each triangle's three corner credits are emitted in ONE struct-explode
    pass over the persisted intersection table (a three-branch union would
    recompute it three times). Everything is exact integers; credits
    partial-aggregate before the final TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # und feeds the degree census (twice, via the symmetric union) and the
    # orientation join inside _oriented_closures — persist or the
    # basket/explode/distinct chain runs three times.
    und = managed_persist(_copurchase_und(li))
    j = _oriented_closures(und)
    lc = F.lit(1).cast("long")
    credits = j.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("src").alias("node"),
                        F.col("k").cast("long").alias("c"),
                    ),
                    F.struct(
                        F.col("dst").alias("node"),
                        F.col("k").cast("long").alias("c"),
                    ),
                ),
                F.transform(
                    "common",
                    lambda c: F.struct(c.alias("node"), lc.alias("c")),
                ),
            )
        ).alias("x")
    ).select("x.node", "x.c")
    return (
        credits.groupBy("node")
        .agg(F.sum("c").alias("triangles"))
        .orderBy(F.col("triangles").desc(), "node")
        .limit(TRI_TOPN)
        .select(F.col("node").alias("part_key"), "triangles")
    )


JAC_TOPN = 20


@register(
    "graph_jaccard_neighbors",
    oracle=f"""
    WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    und AS (SELECT DISTINCT a.pk AS u, b.pk AS v
            FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk),
    e AS (SELECT u AS a, v AS b FROM und
          UNION ALL SELECT v AS a, u AS b FROM und),
    deg AS (SELECT a, COUNT(*) AS d FROM e GROUP BY a),
    cw AS (SELECT x.a AS u, y.a AS v, COUNT(*) AS c
           FROM e x JOIN e y ON x.b = y.b AND x.a < y.a
           JOIN und ed ON ed.u = x.a AND ed.v = y.a
           GROUP BY x.a, y.a),
    scored AS (
      SELECT ed.u AS part1, ed.v AS part2,
             CAST(COALESCE(cw.c, 0) AS BIGINT) AS common_neighbors,
             CAST(COALESCE(cw.c, 0) AS DOUBLE)
               / (du.d + dv.d - COALESCE(cw.c, 0)) AS jaccard
      FROM und ed
      JOIN deg du ON du.a = ed.u
      JOIN deg dv ON dv.a = ed.v
      LEFT JOIN cw ON cw.u = ed.u AND cw.v = ed.v)
    SELECT part1, part2, common_neighbors, jaccard
    FROM (SELECT *, ROW_NUMBER() OVER (
            ORDER BY jaccard DESC, part1, part2) AS rn
          FROM scored)
    WHERE rn <= {JAC_TOPN}
    """,
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard part similarity — "customers who bought X also
    bought Y": for every co-purchased pair, |N(u) ∩ N(v)| / |N(u) ∪ N(v)|
    over full co-purchase neighborhoods, top {JAC_TOPN} pairs. This is the
    item-item collaborative-filtering score (SimRank's first hop /
    LinkedIn-style "people also viewed"), restricted — as production
    recommenders do — to pairs that co-occur at least once, which keeps
    the candidate set edge-bounded instead of all-pairs.

    Scale plan — ORIENTED intersection, scalar degrees (the r10 verdict's
    de-weak): |N(u) ∩ N(v)| for a co-purchase edge (u, v) is exactly the
    number of triangles containing that edge, so the count is taken from
    the shared degree-oriented closure skeleton (:func:`_oriented_closures`
    — every materialized adjacency array is ≤ ~√(2·|E|) ids no matter how
    big a hub's raw degree is): each closure row (a, b, common C) credits
    all three edges of each triangle {a, b, c∈C} in one struct-explode
    pass. |N(u)| itself is a SCALAR per-node count joined onto the edge
    list — no unoriented neighbor array is ever built, removing the
    unbounded hub-row skew the r10 plan carried. The per-edge arithmetic
    is one exact integer triple (c, deg_u, deg_v) and one double division,
    so the ranking stays bit-stable cross-engine (the oracle states the
    same truth as a declarative wedge join); ties break on (part1, part2).
    """
    li = load_table(spark, sf_dir, "lineitem")
    # und feeds the closure skeleton (3 consumers inside), the degree
    # census, and the final pair join — persist it once or the
    # basket/explode/distinct chain recomputes per consumer.
    und = managed_persist(_copurchase_und(li))
    j = _oriented_closures(und)
    one = F.lit(1).cast("long")
    # Triangle {a,b,c} (found once, at closure row (a,b) with c ∈ common)
    # credits +1 common-neighbor to EACH of its three undirected edges,
    # canonicalized to (least, greatest) partkey order to match und's
    # u < v layout. Emitted in one struct-explode pass over the persisted
    # closure table (three union branches would recompute it three times).
    credits = j.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.least("src", "dst").alias("p1"),
                        F.greatest("src", "dst").alias("p2"),
                        F.col("k").cast("long").alias("c"),
                    )
                ),
                F.transform(
                    "common",
                    lambda w: F.struct(
                        F.least(F.col("src"), w).alias("p1"),
                        F.greatest(F.col("src"), w).alias("p2"),
                        one.alias("c"),
                    ),
                ),
                F.transform(
                    "common",
                    lambda w: F.struct(
                        F.least(F.col("dst"), w).alias("p1"),
                        F.greatest(F.col("dst"), w).alias("p2"),
                        one.alias("c"),
                    ),
                ),
            )
        ).alias("x")
    ).select("x.p1", "x.p2", "x.c")
    # Exact BIGINT credits: partial-aggregates map-side before the
    # edge-keyed exchange.
    cw = credits.groupBy("p1", "p2").agg(F.sum("c").alias("cn"))
    # Scalar unoriented degrees — a count per node, never an array.
    deg = managed_persist(
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    scored = (
        und.join(
            deg.select(F.col("node").alias("uk"), F.col("d").alias("du")),
            F.col("u") == F.col("uk"),
        )
        .join(
            deg.select(F.col("node").alias("vk"), F.col("d").alias("dv")),
            F.col("v") == F.col("vk"),
        )
        # Left join: a triangle-free edge still ranks with 0 common (the
        # candidate set is the edge set, not the positive-closure set).
        .join(
            cw,
            (F.col("u") == F.col("p1")) & (F.col("v") == F.col("p2")),
            "left",
        )
        .select(
            F.col("u").alias("part1"),
            F.col("v").alias("part2"),
            F.coalesce(F.col("cn"), F.lit(0)).cast("long").alias("common_neighbors"),
            "du",
            "dv",
        )
        .select(
            "part1", "part2", "common_neighbors",
            (
                F.col("common_neighbors").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common_neighbors"))
            ).alias("jaccard"),
        )
    )
    return (
        scored.orderBy(F.col("jaccard").desc(), "part1", "part2")
        .limit(JAC_TOPN)
        .select("part1", "part2", "common_neighbors", "jaccard")
    )


LPA_ITERS = 3
LPA_TOPN = 20


def _sql_lpa_step(i: int) -> str:
    """One unrolled synchronous label-propagation superstep as DuckDB CTEs:
    per node, the new label is the MODE of its neighbors' current labels,
    ties broken by the SMALLEST label — expressed as an arg-max over the
    lexicographically compared pair [count, -label], the same (cnt, -lab)
    struct-max the Spark plan aggregates, so both engines pick the
    identical winner with no window sort."""
    return f"""
    c{i} AS (SELECT e.dst AS node, p.lab AS lab, COUNT(*) AS cnt
             FROM e JOIN l{i - 1} p ON p.node = e.src
             GROUP BY e.dst, p.lab),
    l{i} AS (SELECT node, CAST(-(MAX([cnt, -lab])[2]) AS BIGINT) AS lab
             FROM c{i} GROUP BY node)"""


def _lpa_labels(ed: DataFrame) -> DataFrame:
    """The (node, lab) vector after ``LPA_ITERS`` synchronous supersteps
    over the symmetric edge list ``ed`` (see graph_label_propagation)."""
    # Superstep 1 in closed form (mirrored in the oracle): initial labels
    # are all-distinct node ids, so the mode degenerates to MIN(neighbor)
    # — one map-side-reducible aggregate instead of a join + an exchange
    # that (labels still being unique) could not partial-reduce at all.
    # It also covers every node (the edge set is symmetric).
    # Each step's label vector is persisted (|V| rows — tiny): without
    # it, every later step's BROADCAST BUILD re-executes all prior steps
    # as nested jobs (measured ~2 extra |E| passes at 3 supersteps).
    labels = managed_persist(
        ed.groupBy("dst").agg(F.min("src").alias("lab")).select(
            F.col("dst").alias("node"), "lab"
        )
    )
    for _ in range(1, LPA_ITERS):
        contrib = ed.join(labels, ed["src"] == labels["node"]).select("dst", "lab")
        # mode(deterministic=True) breaks frequency ties on the LOWEST
        # value — exactly the oracle's arg-max over [cnt, -lab]; its
        # partial buffers combine map-side once labels reach consensus.
        labels = managed_persist(
            contrib.groupBy("dst").agg(
                F.mode("lab", True).alias("lab")
            ).select(F.col("dst").alias("node"), "lab")
        )
    return labels


@register(
    "graph_label_propagation",
    oracle=f"""
    WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
          FROM it a JOIN it b ON a.ok = b.ok AND a.pk <> b.pk),
    -- superstep 1 in closed form: with all-distinct initial labels
    -- (lab0(v) = v), every neighbor label occurs exactly once, so the
    -- mode tie rule (smallest label) reduces to MIN over neighbors
    l1 AS (SELECT dst AS node, MIN(src) AS lab FROM e GROUP BY dst),
    {",".join(_sql_lpa_step(i).strip() for i in range(2, LPA_ITERS + 1))}
    SELECT community, members
    FROM (SELECT lab AS community, CAST(COUNT(*) AS BIGINT) AS members,
                 ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, lab) AS rn
          FROM l{LPA_ITERS} GROUP BY lab)
    WHERE rn <= {LPA_TOPN}
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the part co-purchase graph via synchronous
    label propagation (Raghavan et al.'s LPA): every node starts as its
    own community, and for {LPA_ITERS} supersteps adopts the MODE of its
    neighbors' labels (ties → smallest label); output is the top
    {LPA_TOPN} communities by member count — the product-family signal
    behind assortment planning and recommendation candidate pools.

    Scale plan — the PageRank superstep skeleton, integer end to end:
    superstep 1 collapses algebraically to MIN(neighbor) per node
    (all-distinct initial labels make the mode's tie rule a plain MIN —
    one map-side-reducible aggregate, no join, no init pass; a naive
    step 1 shuffles the FULL edge set because unique labels cannot
    partial-reduce). Each later superstep is one |E|-sized equi-join of
    the persisted edge list with the |V|-sized label vector (AQE
    broadcasts the label side) and ONE exchange: a deterministic MODE
    aggregate keyed on dst whose partial buffers combine map-side — and
    by step 2 label consensus makes that reduction real. Unlike PageRank
    there is nothing to quantize: labels and counts are BIGINTs, so
    determinism is free — mode(deterministic=True) breaks ties on the
    lowest label, and the oracle's arg-max over the pair [cnt, -lab]
    picks the identical winner; the tie rule IS the cross-engine
    contract. Nothing materializes driver-side. At 100 TB the superstep
    count is the knob; each step stays |edges|-linear.
    """
    li = load_table(spark, sf_dir, "lineitem")
    labels = _lpa_labels(_directed(managed_persist(_copurchase_und(li))))
    return (
        labels.groupBy("lab")
        .agg(F.count(F.lit(1)).alias("members"))
        .orderBy(F.col("members").desc(), "lab")
        .limit(LPA_TOPN)
        .select(F.col("lab").alias("community"), "members")
    )


# Superstep budget for connected components. Min-label propagation with
# POINTER JUMPING doubles the propagation horizon per round (label chains
# halve: lab <- lab[lab]), so 12 rounds cover component diameters up to
# ~1000 (simulated: a 1000-node path fixpoints in exactly 12, a 2000-node
# path needs 13) at ANY node count — co-occurrence graphs are small-world
# (the sf0.1 co-purchase graph fixpoints in 4), and a >1000-diameter chain
# is a pathology the loud guard names rather than silently mislabeling.
CC_MAX_ITERS = 12
# Broadcast the per-round label vector while it fits executor memory
# comfortably: 4M (node, lab) BIGINT pairs ≈ 64 MB per copy. Beyond it the
# rounds fall back to shuffled joins — the same size-based call AQE would
# make if localCheckpoint kept stats (it does not; see _cc_labels).
CC_BROADCAST_MAX_NODES = 4_000_000


def _broadcast_if(df: DataFrame, rows: int) -> DataFrame:
    """Broadcast-hint ``df`` when the driver knows it holds at most
    ``CC_BROADCAST_MAX_NODES`` rows. A localCheckpoint erases the size
    stats AQE would use, so without the hint every round sort-merges,
    shuffling AND sorting the |E| edge side (measured interleaved
    min-of-3 at sf0.1: 7.21 → 6.71 s cold with it); beyond the cap the
    joins stay shuffled, because a forced Θ(|V|)-row broadcast would OOM
    at the 1e9-node target."""
    return F.broadcast(df) if rows <= CC_BROADCAST_MAX_NODES else df


def _sql_cc_step(i: int) -> str:
    """One unrolled pointer-jumping min-label superstep as DuckDB CTEs,
    mirroring the Spark loop join-for-join: ``p`` chases one pointer hop
    (lab <- lab[lab] — every label IS a node id of the same component, so
    the self-join always hits), ``n`` takes the neighbor min, ``l`` folds
    both with the current label. Integer end-to-end; idempotent once the
    fixpoint is reached, so unrolling past Spark's early-stopped round
    count changes nothing."""
    return f"""
    p{i} AS (SELECT a.node, a.lab, b.lab AS plab
             FROM l{i - 1} a JOIN l{i - 1} b ON a.lab = b.node),
    n{i} AS (SELECT e.dst AS node, MIN(p.lab) AS nlab
             FROM e JOIN l{i - 1} p ON p.node = e.src GROUP BY e.dst),
    l{i} AS MATERIALIZED (SELECT p.node, LEAST(p.lab, p.plab, n.nlab) AS lab
             FROM p{i} p JOIN n{i} n ON n.node = p.node)"""


def _cc_labels(ed: DataFrame, name: str) -> tuple[DataFrame, int]:
    """Connected components of the symmetric edge list ``ed`` (src, dst):
    the checkpointed (node, lab) vector, lab = the component's smallest
    node id, for every node that has an edge, plus the node count. The
    pointer-jumping core of graph_connected_components and dedup_clusters;
    past ``CC_MAX_ITERS`` rounds it raises, naming ``name``."""
    # Superstep 1 in closed form (mirrored in the oracle's l1): with
    # all-distinct initial labels the fold is least(self, min neighbor) —
    # one map-side-reducible aggregate, no init pass; symmetric edges
    # mean every graph node appears as dst. |V| rides the same job.
    labels, got = _checkpoint(
        ed.groupBy("dst")
        .agg(F.min("src").alias("m"))
        .select(F.col("dst").alias("node"), F.least("dst", "m").alias("lab")),
        n=F.count(F.lit(1)),
    )
    n_nodes = got["n"]

    def step(labels):
        lab2 = _broadcast_if(
            labels.select(F.col("node").alias("lnode"), F.col("lab").alias("plab")),
            n_nodes,
        )
        ptr = labels.join(lab2, labels["lab"] == lab2["lnode"]).select(
            "node", "lab", "plab"
        )
        labj = _broadcast_if(labels, n_nodes)
        nmin = (
            ed.join(labj, ed["src"] == labj["node"])
            .groupBy("dst")
            .agg(F.min("lab").alias("nlab"))
            .withColumnRenamed("dst", "node")
        )
        new = F.least("lab", "plab", "nlab")
        # chg is never NULL (all three candidates come from inner joins);
        # an empty vector sums to NULL, hence the coalesce.
        nxt, got = _checkpoint(
            ptr.join(nmin, "node").select(
                "node", new.alias("lab"), (new < F.col("lab")).alias("chg")
            ),
            changed=F.coalesce(F.sum(F.col("chg").cast("long")), F.lit(0)),
        )
        return nxt.drop("chg"), got["changed"] == 0

    labels = _fixpoint(
        step, labels, CC_MAX_ITERS - 1,
        f"{name}: pointer-jumping propagation did not converge in "
        f"{CC_MAX_ITERS} rounds (component diameter beyond "
        f"~2^{CC_MAX_ITERS - 2})",
    )
    return labels, n_nodes


@register(
    "graph_connected_components",
    oracle=f"""
    WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    -- MATERIALIZED throughout: DuckDB INLINES plain CTEs, and each
    -- superstep references its predecessor three times, so 11 inlined
    -- steps would expand to 3^11 copies of the lineitem scan (measured:
    -- "Too many open files" before any row came back)
    e AS MATERIALIZED (SELECT DISTINCT a.pk AS src, b.pk AS dst
          FROM it a JOIN it b ON a.ok = b.ok AND a.pk <> b.pk),
    -- superstep 1 in closed form: initial labels are the node ids, so
    -- least(self, min neighbor) needs no prior label vector
    l1 AS MATERIALIZED (SELECT dst AS node, LEAST(dst, MIN(src)) AS lab
          FROM e GROUP BY dst),
    {",".join(_sql_cc_step(i).strip() for i in range(2, CC_MAX_ITERS + 1))}
    SELECT node, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS csize
    FROM (SELECT node, lab AS component FROM l{CC_MAX_ITERS})
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the part co-purchase graph — every node
    labeled with its component's smallest part id plus the component size:
    the substitute/compatibility clusters downstream assortment and
    recommendation pipelines key on. ``dedup_clusters`` runs the same
    core (:func:`_cc_labels`) over the near-dup pair graph.

    Scale plan — min-label propagation with POINTER JUMPING, the
    Shiloach-Vishkin halving step expressed as DataFrame joins: each
    superstep folds three integer signals per node — its label, its
    label's label (one |V|-sized self-join on the label vector; every
    label is a node id, so the join always hits), and its neighbors' min
    label (one |E|-sized equi-join with the broadcast label vector).
    Pointer chasing doubles the propagation horizon per round, so
    fixpoint arrives in O(log diameter) supersteps — {CC_MAX_ITERS}
    rounds cover diameters to ~1000 where plain per-hop propagation would
    need a round per hop. Labels only decrease and are BIGINTs end to
    end, so determinism is free and the driver hash-checks exact values.
    Each round's |V|-sized vector is localCheckpoint-ed (breaks lineage:
    without it every later round's broadcast build re-executes all prior
    rounds), and the round's changed-label count rides the checkpoint job
    as an observed metric, so a round is ONE driver-synchronized job
    (interleaved min-of-3 at sf0.1: 4.47 s with a separate count job,
    4.04 s fused). The loop FAILS LOUDLY past the budget — a silent cap
    would emit split components. managed_persist label vectors (LPA's
    pattern) measured 38.6 s cold / 7.2 s warm against localCheckpoint's
    7.8 / 4.5 at sf0.1: with 3 joins per round the un-broken lineage makes
    every round re-optimize and re-build the whole history (LPA survives
    persist because it runs 2 simpler steps). Component sizes come from a
    groupBy + join rather than a window: a giant component (the expected
    shape — sf0.1 is ONE 20k-node component) would funnel the whole
    output through a single window partition, while the groupBy reduces
    map-side. The sizes join side goes through the SAME
    ``CC_BROADCAST_MAX_NODES`` dial as the label vector — sizes is one
    row per component, Θ(|V|) worst case, so an unconditional broadcast
    there would OOM at the 1e9-node target exactly like a forced label
    broadcast would. The oracle unrolls the SAME step {CC_MAX_ITERS}
    times; supersteps past Spark's early stop are idempotent, so both
    engines agree bit-for-bit whenever the guard passes.
    """
    li = load_table(spark, sf_dir, "lineitem")
    labels, n_nodes = _cc_labels(
        _directed(managed_persist(_copurchase_und(li))),
        "graph_connected_components",
    )
    # One row per component ≤ n_nodes rows, so the same gate applies.
    sizes = labels.groupBy("lab").agg(F.count(F.lit(1)).alias("csize"))
    return (
        labels.join(_broadcast_if(sizes, n_nodes), "lab")
        .select("node", F.col("lab").alias("component"), "csize")
    )


KCORE_K = 80
KCORE_MAX_ITERS = 12


def _sql_kcore_step(i: int) -> str:
    """One unrolled peeling step as DuckDB CTEs, mirroring the Spark loop
    join-for-join: ``d`` recomputes degrees over the surviving edges,
    ``k`` keeps nodes at degree >= K, ``e`` restricts the edge set to kept
    endpoints. Idempotent once the fixpoint is reached, so unrolling past
    Spark's early-stopped round count changes nothing. ``k``/``e`` are
    MATERIALIZED (multiple references per step — the CC 3^n-inlining
    lesson)."""
    return f"""
    d{i} AS (SELECT node, COUNT(*) AS deg
             FROM (SELECT u AS node FROM e{i - 1}
                   UNION ALL SELECT v FROM e{i - 1})
             GROUP BY node),
    k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {KCORE_K}),
    e{i} AS MATERIALIZED (SELECT u, v FROM e{i - 1}
             WHERE u IN (SELECT node FROM k{i})
               AND v IN (SELECT node FROM k{i}))"""


@register(
    "graph_k_core",
    oracle=f"""
    WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e0 AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
          FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk),
    {",".join(_sql_kcore_step(i).strip() for i in range(1, KCORE_MAX_ITERS + 1))}
    SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM (SELECT u AS node FROM e{KCORE_MAX_ITERS}
          UNION ALL SELECT v FROM e{KCORE_MAX_ITERS})
    GROUP BY node
    """,
)
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {KCORE_K}-core of the part co-purchase graph — iterative
    peeling (drop nodes with degree < K over the surviving subgraph,
    recompute, repeat to fixpoint), each surviving node with its in-core
    degree: the canonical graph-quality/community primitive and the
    standard cheap pre-filter before expensive community detection at
    100 TB (peeling the sparse fringe shrinks the graph the costly
    algorithms then run on). K = {KCORE_K} sits inside the fixture's
    degree distribution (sf0.01: min 42 / median 115; sf0.1: min 38 /
    median 119 — SF-stable by construction) so the peel genuinely
    CASCADES: measured 6 rounds to fixpoint at both sf0.01 (2000 → 1857
    nodes) and sf0.1 (20000 → 18863); at sf0.001 the whole graph peels
    away (max degree 138 but the cascade undercuts K) — the empty-core
    path both engines agree on.

    Scale plan — ONE driver-synchronized job per peel round: the
    symmetric-degree census (map-side partial on the edge list) rides
    INSIDE the edge-filter job as the shared broadcast build of the TWO
    semi-joins restricting the edge set to kept endpoints (both joins
    reference the same census DataFrame, so the exchange-reuse rule
    builds it once — runtime plan evidence in
    plans/r14/graph_k_core_round_after.txt), and the surviving edge
    count rides the same job as an observed metric. Convergence fires on
    that edge count: keep sets and edge sets both nest (each round
    filters the previous), and an unchanged keep set makes the re-filter
    a no-op, so edge-count convergence fires at the SAME round index a
    keep-count probe would. The census broadcast goes through the same
    measured ``CC_BROADCAST_MAX_NODES`` dial as
    graph_connected_components, gated WITHOUT a keep count: every kept
    node has degree ≥ K over the current edge set, so |keep| ≤ 2·|E|/K
    with |E| known exactly — beyond the cap the rounds fall back to
    shuffled semi-joins. The surviving edge set is localCheckpoint-ed
    per round (the CC lesson: un-broken lineage re-optimizes and
    re-executes the whole history; LPA-style persist measured 5× worse
    on the same shape, and a lazy rebuild from composed semi-joins 2×
    worse). The symmetric census explodes both endpoints in ONE pass
    over the checkpointed edges (a union of two selects scanned them
    twice per round). The loop FAILS LOUDLY past the
    {KCORE_MAX_ITERS}-round budget (2× the measured cascade) — a silent
    cap would emit a fake core containing not-yet-peeled fringe. Integer
    end-to-end, so the driver hash-checks exact values. The oracle
    unrolls the SAME step {KCORE_MAX_ITERS} times; steps past Spark's
    early stop are idempotent, so both engines agree bit-for-bit
    whenever the guard passes. (Interleaved min-of-3 at sf0.1: 5.57 →
    4.36 s for the census fusion, then 4.36 → 3.87 with the observed
    edge count.)
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges, got = _checkpoint(_copurchase_und(li), e=F.count(F.lit(1)))

    def sym(e):
        # Both endpoints in one scan: explode is a map-side generator, so
        # the census reads the checkpointed edge partitions once.
        return e.select(F.explode(F.array("u", "v")).alias("node"))

    def step(state):
        edges, prev_e = state
        keep = _broadcast_if(
            sym(edges)
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select("node"),
            2 * prev_e // KCORE_K,
        )
        edges, got = _checkpoint(
            edges.join(keep, edges["u"] == keep["node"], "left_semi")
            .join(keep, edges["v"] == keep["node"], "left_semi"),
            e=F.count(F.lit(1)),
        )
        # Edge sets nest, so an unchanged count ⇒ identical edge set ⇒
        # the next census would equal this round's keep ⇒ fixpoint.
        return (edges, got["e"]), got["e"] == prev_e

    edges, _ = _fixpoint(
        step, (edges, got["e"]), KCORE_MAX_ITERS,
        f"graph_k_core: peeling did not reach a fixpoint in "
        f"{KCORE_MAX_ITERS} rounds (cascade longer than the budget — "
        f"a silent cap would emit un-peeled fringe as core)",
    )
    return (
        sym(edges)
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
    )


@register(
    "graph_modularity",
    oracle=f"""
    WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e AS MATERIALIZED (SELECT DISTINCT a.pk AS src, b.pk AS dst
          FROM it a JOIN it b ON a.ok = b.ok AND a.pk <> b.pk),
    -- superstep 1 in closed form (the LPA oracle's derivation: all-distinct
    -- initial labels make the mode's tie rule a plain MIN over neighbors)
    l1 AS (SELECT dst AS node, MIN(src) AS lab FROM e GROUP BY dst),
    {",".join(_sql_lpa_step(i).strip() for i in range(2, LPA_ITERS + 1))},
    -- the fixpoint vector is referenced three times below; MATERIALIZED
    -- (the CC 3^n-inlining lesson)
    lf AS MATERIALIZED (SELECT node, lab FROM l{LPA_ITERS}),
    und AS MATERIALIZED (SELECT src AS u, dst AS v FROM e WHERE src < dst),
    m AS (SELECT COUNT(*) AS m FROM und),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src),
    comm AS (SELECT l.lab, CAST(COUNT(*) AS BIGINT) AS members,
                    CAST(SUM(d.deg) AS BIGINT) AS ds
             FROM lf l JOIN deg d ON d.node = l.node GROUP BY l.lab),
    intra AS (SELECT la.lab, CAST(COUNT(*) AS BIGINT) AS intra
              FROM und JOIN lf la ON la.node = und.u
                       JOIN lf lb ON lb.node = und.v
              WHERE la.lab = lb.lab GROUP BY la.lab)
    SELECT c.lab AS community, c.members,
           COALESCE(i.intra, 0) AS intra_edges,
           c.ds AS degree_sum,
           CAST(COALESCE(i.intra, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
           - (CAST(c.ds AS DOUBLE) / CAST(2 * m.m AS DOUBLE))
             * (CAST(c.ds AS DOUBLE) / CAST(2 * m.m AS DOUBLE)) AS q_contrib
    FROM comm c LEFT JOIN intra i ON i.lab = c.lab CROSS JOIN m
    ORDER BY c.members DESC, c.lab
    LIMIT {LPA_TOPN}
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA community partition on the part
    co-purchase graph — per community c: member count, intra-community
    edge count e_c, degree mass d_c, and the modularity contribution
    ``q_contrib = e_c/m − (d_c/2m)²`` (Newman & Girvan; Q = Σ_c q_contrib),
    for the top {LPA_TOPN} communities by members. This is the
    decision-ready score ON TOP of graph_label_propagation's output: LPA
    proposes communities, modularity says whether they actually capture
    edge density (Q near 0 ⇒ no better than random given the degree
    sequence; a strongly negative per-community row names a label that
    glued sparse nodes together), closing the graph-quality loop with
    graph_k_core's density pre-filter.

    Scale plan: the label vector comes from graph_label_propagation's own
    superstep loop (:func:`_lpa_labels`; both oracles derive the tie rule
    from the same ``_sql_lpa_step``). On top of it: ONE per-node degree
    aggregate (map-side partial over the symmetric edge list), ONE
    |E|-sized double label join for the intra count (AQE broadcasts the
    |V|-sized label vector exactly as in the LPA steps; beyond broadcast
    range both joins shuffle on node id — no array, no window, nothing
    driver-side except the single-scalar edge count m), and
    per-community aggregates whose key cardinality is the community
    count ≤ |V|. q_contrib is two IEEE divisions and one multiply with
    both engines evaluating the IDENTICAL tree (the square is an explicit
    self-product — ``POWER(x, 2)`` is a libm call whose last bit may
    differ across engines), so the driver hash-checks the doubles
    bit-for-bit. At 100 TB the additional cost over LPA itself is one
    edge-set pass — the score rides the partition it audits.
    """
    li = load_table(spark, sf_dir, "lineitem")
    und = managed_persist(_copurchase_und(li))
    # The one driver-side scalar: the undirected edge count m (a 1-row
    # aggregate probe, like CC's n_nodes — never a corpus collect).
    m = und.count()
    ed = _directed(und)
    labels = _lpa_labels(ed)
    deg = ed.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    comm = (
        labels.join(deg, "node")
        .groupBy("lab")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("members"),
            F.sum("deg").cast("bigint").alias("ds"),
        )
    )
    lab_u = labels.select(F.col("node").alias("u"), F.col("lab").alias("lab_u"))
    lab_v = labels.select(F.col("node").alias("v"), F.col("lab").alias("lab_v"))
    intra = (
        und.join(lab_u, "u")
        .join(lab_v, "v")
        .where(F.col("lab_u") == F.col("lab_v"))
        .groupBy(F.col("lab_u").alias("lab"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("intra"))
    )
    m_d = F.lit(float(m))
    twom_d = F.lit(float(2 * m))
    intra_e = F.coalesce(F.col("intra"), F.lit(0).cast("bigint"))
    ds_frac = F.col("ds").cast("double") / twom_d
    return (
        comm.join(intra, "lab", "left")
        .select(
            F.col("lab").alias("community"),
            "members",
            intra_e.alias("intra_edges"),
            F.col("ds").alias("degree_sum"),
            (intra_e.cast("double") / m_d - ds_frac * ds_frac).alias(
                "q_contrib"
            ),
        )
        .orderBy(F.col("members").desc(), "community")
        .limit(LPA_TOPN)
    )
