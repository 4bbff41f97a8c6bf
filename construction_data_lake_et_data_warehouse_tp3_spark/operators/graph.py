"""Graph analytics over the relational tables — PageRank on the product
co-purchase graph (parts bought together in one order), the engine's
iterative-algorithm family (the reference has no graph surface; its
nearest analog is the FK lookup joins, sync_to_mysql.py:236-282).

Exactness discipline: ranks live in INTEGER micro-units and every
update is integer arithmetic — contributions are rank DIV
out_degree, damping is (15·base + 85·Σcontrib) DIV 100 — so the unrolled
DuckDB oracle reproduces the Spark loop bit-for-bit (floor division on
non-negative ints is engine-independent; no float summation order
anywhere until the final display division).

Scale shape (10^9-edge graphs): edge build is one self-join shuffled on
l_orderkey (co-occurrence bounded by items-per-order, ~7 for TPC-H-like
data → ≤ 21 undirected pairs per order); each iteration is one join of
ranks×edges shuffled on src + one groupBy(dst) with map-side partial
sums. Degrees and N are computed once; ranks are K-V rows, never
driver-side."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import load_table

N_ITERS = 2
SCALE = 1_000_000_000  # nano-unit ranks: integer exact, 9 display digits
DAMP_NUM, DAMP_DEN = 85, 100  # 0.85 damping as a ratio
TOP_K = 20


def order_item_pairs(li: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(op, pairs): the distinct (order, part) frame and the canonical
    src<dst co-occurrence pair STREAM (one row per order-pair instance)
    — the shared base of the co-purchase graph builders here and
    analytics.basket_lift, so the canonical-orientation logic lives in
    exactly one place."""
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
    )
    return op, pairs


def _canonical_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected co-purchase edges in canonical orientation (src < dst),
    deduplicated across orders — half the rows through the distinct's
    shuffle vs deduping both orientations."""
    _, pairs = order_item_pairs(load_table(spark, sf_dir, "lineitem"))
    return pairs.distinct()


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed co-purchase edges: both orientations, mirrored map-side
    from the canonical half."""
    canon = _canonical_edges(spark, sf_dir)
    return canon.union(
        canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def pagerank_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N_ITERS integer-exact PageRank iterations from the uniform init,
    top-TOP_K products by final rank (part_id tiebreak). `rank` is the
    display division rank_int/SCALE rounded to 6."""
    # EAGER on purpose: constructing this DataFrame runs a job. The edge
    # set is reused N_ITERS+1 times inside the loop, and per-iteration
    # ranks also localCheckpoint — together they keep the iterated plan's
    # depth CONSTANT across iterations (locked by
    # test_graph.test_pagerank_iterated_plan_depth_constant). Lazy lineage
    # replay here would re-derive the self-join every iteration and grow
    # the plan; do not "optimize" the eager=True away.
    #
    # r13 (guide §2.4): the checkpointed edge frame CARRIES out_deg, so
    # each iteration is ONE join + one aggregation + the rank update —
    # the r≤12 loop re-aggregated degrees (a full O(|E|) pass) and
    # re-derived the node distinct and the consts broadcast from the
    # checkpoint EVERY iteration (each checkpointed round is its own
    # plan, so nothing is reused across rounds). nodes checkpoints once;
    # r0/base collapse to literals from one bounded count (the same
    # integer formulas the unrolled oracle replays — same values, same
    # hash). Output is bit-identical (exact-equality A/B at sf0.01).
    ewd_base = _edges(spark, sf_dir)
    deg = ewd_base.groupBy("src").agg(F.count("*").alias("out_deg"))
    edges = ewd_base.join(deg, "src").localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("pid")).distinct().localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:  # no co-purchases (empty or single-row input): no ranks
        return _top_ranks(nodes.select("pid", F.lit(0).cast("bigint").alias("r_int")))
    r0 = int(SCALE / n)
    base = int((100 - DAMP_NUM) * r0 / DAMP_DEN)
    ranks = nodes.select("pid", F.lit(r0).cast("bigint").alias("r_int"))
    for _ in range(N_ITERS):
        contrib = ranks.join(edges, ranks.pid == edges.src).select(
            "dst", (F.col("r_int") / F.col("out_deg")).cast("bigint").alias("c")
        )
        summed = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(summed, nodes.pid == summed.dst, "left")
            .select(
                "pid",
                (
                    F.lit(base).cast("bigint")
                    + (F.lit(DAMP_NUM) * F.coalesce(F.col("s"), F.lit(0)) / F.lit(DAMP_DEN)).cast(
                        "bigint"
                    )
                ).alias("r_int"),
            )
            .localCheckpoint(eager=True)
        )
    return _top_ranks(ranks)


def _top_ranks(ranks: DataFrame) -> DataFrame:
    """The TOP_K (pid, r_int) rows as (part_id, display rank)."""
    return (
        ranks.orderBy(F.desc("r_int"), F.asc("pid"))
        .limit(TOP_K)
        .select(
            F.col("pid").alias("part_id"),
            F.round(F.col("r_int") / F.lit(float(SCALE)), 6).alias("rank"),
        )
    )


def triangle_participation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the co-purchase graph, top-TOP_K most
    clustered products — the local-clustering primitive beside PageRank's
    centrality.

    DEGREE-ORDERED orientation (VERDICT r8 ask #7, the 10⁹-edge
    refinement COVERAGE.md carried as prose): every undirected edge is
    pointed from its lower-(degree, id) endpoint to the higher, and each
    triangle is enumerated exactly once as a wedge (u→v, u→w) with
    (deg_v, v) ≺ (deg_w, w), closed by the oriented edge v→w. Because
    the wedge join fans out on OUT-degree and no node's out-degree
    exceeds O(√m) under this orientation (the arboricity bound of the
    compact-forward algorithm, Latapy 2008), hub fan-out is bounded:
    the id-ordered special case this replaces let a high-degree hub
    with a small id own Σdeg² wedges. Counts are orientation-invariant,
    so the result (and its oracle hash) is unchanged.

    Scale shape: one degree aggregation + two joins — the wedge join
    shuffled on the shared lower endpoint, the closure join on the
    (v, w) pair. The closing-edge orientation is decided by the SAME
    (degree, id) struct comparison, so no second degree lookup."""
    canon = _canonical_edges(spark, sf_dir)
    deg = (
        canon.select(F.col("src").alias("node"))
        .union(canon.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    keyed = (
        canon.join(deg.withColumnRenamed("node", "src"), "src")
        .withColumnRenamed("deg", "sdeg")
        .join(deg.withColumnRenamed("node", "dst"), "dst")
        .withColumnRenamed("deg", "ddeg")
    )
    fwd = F.struct("sdeg", "src") < F.struct("ddeg", "dst")
    oriented = keyed.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("v"),
        F.when(fwd, F.col("ddeg")).otherwise(F.col("sdeg")).alias("vdeg"),
    )
    w1 = oriented.select("u", F.col("v").alias("b"), F.col("vdeg").alias("bdeg"))
    w2 = oriented.select("u", F.col("v").alias("c"), F.col("vdeg").alias("cdeg"))
    close = oriented.select(F.col("u").alias("b"), F.col("v").alias("c"))
    tri = (
        w1.join(w2, "u")
        .where(F.struct("bdeg", "b") < F.struct("cdeg", "c"))
        .join(close, ["b", "c"])
        .select(F.col("u").alias("a"), "b", "c")
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("part_id"))
        .limit(TOP_K)
    )


def degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase graph (the power-law health
    check run before any iterative graph algorithm — it is what tells
    you whether PageRank/triangles need hub mitigation).

    Plan: the canonical edge distinct is the only corpus-sized shuffle;
    both orientations mirror map-side, then two small aggregations
    (node→degree, degree→count). Output cardinality = |distinct
    degrees|, tiny at any scale."""
    canon = _canonical_edges(spark, sf_dir)
    incident = canon.select(F.col("src").alias("node")).union(
        canon.select(F.col("dst").alias("node"))
    )
    deg = incident.groupBy("node").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


#: link-prediction candidates kept (top by Jaccard score).
LINK_PRED_TOP_K = 20


def link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: for NON-adjacent node
    pairs with at least one common neighbor, the Jaccard coefficient
    |N(u)∩N(v)| / |N(u)∪N(v)| — the classic "which products will be
    bought together next" score (Liben-Nowell & Kleinberg 2003).

    Plan: the wedge join (shuffled on the shared neighbor, volume
    Σ deg² — same budget as triangle_participation, same degree-ordered
    refinement at 10^9 edges) produces candidate pairs; existing edges
    leave via a LEFT ANTI join on the canonical edge key; degrees join
    broadcast-or-small; the score is integer basis points (union =
    deg_u + deg_v − common is exact BIGINT), top-k via
    TakeOrderedAndProject."""
    canon = _canonical_edges(spark, sf_dir)
    directed = _edges(spark, sf_dir)
    e1 = directed.select(F.col("dst").alias("u"), F.col("src").alias("w"))
    e2 = directed.select(F.col("src").alias("w2"), F.col("dst").alias("v"))
    common = (
        e1.join(e2, e1.w == e2.w2)
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("n_common"))
    )
    non_edges = common.join(
        canon,
        (common.u == canon.src) & (common.v == canon.dst),
        "left_anti",
    )
    deg = (
        directed.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("degree"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("deg_v"))
    return (
        non_edges.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "n_common",
            "deg_u",
            "deg_v",
            F.expr(
                "(n_common * 10000) DIV (deg_u + deg_v - n_common)"
            ).alias("jaccard_bp"),
        )
        .orderBy(F.desc("jaccard_bp"), "u", "v")
        .limit(LINK_PRED_TOP_K)
    )


def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of endpoint degrees over directed edges (Newman 2002) —
    positive means hubs link hubs, negative means hub-and-spoke; it is
    the one-number structural summary read next to degree_distribution
    before running iterative algorithms.

    Exactness: degrees are BIGINT; the moment sums (the
    quantity_discount_corr discipline) are one map-side-combinable
    aggregation over the edge list, and the closed form is the only
    float math — bit-identical both engines.  Headroom: n·Σxy peaks
    ~deg_max²·|E|² — promote to DECIMAL(38,0)/HUGEINT past ~10^9 edges."""
    directed = _edges(spark, sf_dir)
    deg = directed.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("degree")
    )
    dx = deg.select(F.col("node").alias("src"), F.col("degree").alias("x"))
    dy = deg.select(F.col("node").alias("dst"), F.col("degree").alias("y"))
    m = (
        directed.join(dx, "src")
        .join(dy, "dst")
        .agg(
            F.count("*").alias("n_edges"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.expr("x * y")).alias("sxy"),
            F.sum(F.expr("x * x")).alias("sxx"),
            F.sum(F.expr("y * y")).alias("syy"),
        )
    )
    # zero-variance guard: a REGULAR graph (all endpoint degrees equal,
    # e.g. a cycle) zeroes both variance terms — assortativity is
    # undefined, so NULL, not an ANSI DIVIDE_BY_ZERO; same CASE in the
    # oracle so the hash still locks.
    return m.select(
        "n_edges",
        F.expr(
            "CASE WHEN n_edges * sxx - sx * sx = 0"
            " OR n_edges * syy - sy * sy = 0 THEN CAST(NULL AS DOUBLE)"
            " ELSE CAST(n_edges * sxy - sx * sy AS DOUBLE)"
            " / (sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE))"
            "    * sqrt(CAST(n_edges * syy - sy * sy AS DOUBLE))) END"
        ).alias("assortativity"),
    )


#: k-core threshold and bounded peel rounds. 70 peels actively at every
#: test SF (sf0.001: 200→185→177→169; sf0.01: 2000→1972→1971→1971) so
#: the iteration is genuinely exercised, never degenerate-empty or
#: all-survive. Bounded rounds (not run-to-fixpoint) keep the oracle an
#: unrolled CTE and the Spark loop a fixed-depth plan — the
#: pagerank discipline; production peeling iterates to convergence with
#: the same per-round shape.
K_CORE = 70
N_PEEL = 3


def kcore_products(
    spark: SparkSession, sf_dir: str, k: int = K_CORE, rounds: int = N_PEEL
) -> DataFrame:
    """Bounded k-core decomposition of the co-purchase graph: N_PEEL
    rounds of "drop nodes with induced degree < K_CORE", then the
    surviving nodes with their core-subgraph degree — the standard
    dense-substructure extraction (recommendation seed sets, fraud
    rings, mutually-reinforcing product communities) and the third
    iterative graph algorithm beside PageRank and Lloyd.

    Per round: two LEFT SEMI joins prune the edge list to the alive
    set (broadcastable — the alive list only ever shrinks and carries
    one bigint column), one degree aggregation, one filter; alive is
    localCheckpointed so the iterated plan stays linear. At 10^9 edges
    each round is one edge-keyed shuffle bounded by the SURVIVING
    subgraph — peeling strictly shrinks work per round.

    The edge set is localCheckpointed EAGERLY (the pagerank discipline,
    see pagerank_products): every round's alive-checkpoint job and the
    final degree pass consume `edges`, and without the checkpoint each
    of those rounds+1 jobs re-derives the co-purchase BUILD (lineitem
    self-join + distinct — the dominant cost) from scratch. Measured at
    the 10x tier (6.1M lineitem rows) this is the difference between a
    4.05x and a ~2x decade slope: the peel rounds themselves are bounded
    by the shrinking subgraph, the rebuilds were not.

    r9 (100x tier): the peel runs on the CANONICAL half (src < dst),
    not the mirrored directed set — induced degree is counted by
    aggregating both endpoint columns of each undirected edge, so the
    checkpoint holds 88M rows instead of 176M at the 100x tier and
    every per-round semi-join handles half the volume. Same degrees,
    same survivors, same hash; the directed mirror was pure
    double-work for this operator."""
    canon = _canonical_edges(spark, sf_dir).localCheckpoint(eager=True)

    def induced_degree(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("degree"))
        )

    def prune(e: DataFrame, alive_nodes: DataFrame) -> DataFrame:
        return e.join(
            alive_nodes.select(F.col("node").alias("src")), "src", "left_semi"
        ).join(alive_nodes.select(F.col("node").alias("dst")), "dst", "left_semi")

    # round 1 peels DIRECTLY off the full-graph degrees: alive₀ is every
    # node, so pruning against it is two no-op semi-joins the r≤12 loop
    # still paid for (r13; exact-equality A/B at sf0.01, −16% wall).
    if rounds < 1:  # degenerate call: unpeeled full-graph degrees
        return induced_degree(canon).select(
            F.col("node").alias("part_id"), F.col("degree").alias("core_degree")
        )
    alive = (
        induced_degree(canon)
        .where(F.col("degree") >= k)
        .select("node")
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds - 1):
        alive = (
            induced_degree(prune(canon, alive))
            .where(F.col("degree") >= k)
            .select("node")
            .localCheckpoint(eager=True)
        )
    return induced_degree(prune(canon, alive)).select(
        F.col("node").alias("part_id"), F.col("degree").alias("core_degree")
    )


QUERIES = {
    "degree_distribution": degree_distribution,
    "pagerank_products": pagerank_products,
    "triangle_participation": triangle_participation,
    "link_prediction_jaccard": link_prediction_jaccard,
    "degree_assortativity": degree_assortativity,
    "kcore_products": kcore_products,
}


def _iter_duck(prev: str, out: str) -> str:
    return f"""
        {out}_contrib AS (
            SELECT e.dst, CAST(floor(r.r_int / d.out_deg) AS BIGINT) AS c
            FROM {prev} r JOIN dedges e ON r.pid = e.src
            JOIN deg d ON d.src = e.src
        ),
        {out}_summed AS (SELECT dst, sum(c) AS s FROM {out}_contrib GROUP BY 1),
        {out} AS (
            SELECT n.pid,
                   (SELECT base FROM consts)
                   + CAST(floor({DAMP_NUM} * coalesce(s.s, 0) / {DAMP_DEN}) AS BIGINT)
                       AS r_int
            FROM nodes n LEFT JOIN {out}_summed s ON n.pid = s.dst
        )
"""


ORACLE = {
    "kcore_products": f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        canon AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey
        ),
        directed AS (
            SELECT src, dst FROM canon
            UNION ALL SELECT dst AS src, src AS dst FROM canon
        ),
        alive0 AS (SELECT DISTINCT src AS node FROM directed),
        deg1 AS (
            SELECT e.src, count(*) AS d FROM directed e
            JOIN alive0 a ON e.src = a.node JOIN alive0 b ON e.dst = b.node
            GROUP BY 1
        ),
        alive1 AS (SELECT src AS node FROM deg1 WHERE d >= {K_CORE}),
        deg2 AS (
            SELECT e.src, count(*) AS d FROM directed e
            JOIN alive1 a ON e.src = a.node JOIN alive1 b ON e.dst = b.node
            GROUP BY 1
        ),
        alive2 AS (SELECT src AS node FROM deg2 WHERE d >= {K_CORE}),
        deg3 AS (
            SELECT e.src, count(*) AS d FROM directed e
            JOIN alive2 a ON e.src = a.node JOIN alive2 b ON e.dst = b.node
            GROUP BY 1
        ),
        alive3 AS (SELECT src AS node FROM deg3 WHERE d >= {K_CORE})
        SELECT e.src AS part_id, count(*) AS core_degree
        FROM directed e
        JOIN alive3 a ON e.src = a.node JOIN alive3 b ON e.dst = b.node
        GROUP BY 1
    """,
    "link_prediction_jaccard": f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        canon AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey
        ),
        directed AS (
            SELECT src, dst FROM canon
            UNION ALL SELECT dst AS src, src AS dst FROM canon
        ),
        common AS (
            SELECT e1.dst AS u, e2.dst AS v, count(*) AS n_common
            FROM directed e1 JOIN directed e2 ON e1.src = e2.src
            WHERE e1.dst < e2.dst
            GROUP BY 1, 2
        ),
        non_edges AS (
            SELECT c.* FROM common c
            LEFT JOIN canon e ON e.src = c.u AND e.dst = c.v
            WHERE e.src IS NULL
        ),
        deg AS (SELECT src AS node, count(*) AS degree FROM directed GROUP BY 1)
        SELECT u, v, n_common,
               du.degree AS deg_u, dv.degree AS deg_v,
               CAST((n_common * 10000)
                    // (du.degree + dv.degree - n_common) AS BIGINT)
                   AS jaccard_bp
        FROM non_edges
        JOIN deg du ON du.node = u
        JOIN deg dv ON dv.node = v
        ORDER BY jaccard_bp DESC, u, v
        LIMIT {LINK_PRED_TOP_K}
    """,
    "degree_assortativity": """
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        canon AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey
        ),
        directed AS (
            SELECT src, dst FROM canon
            UNION ALL SELECT dst AS src, src AS dst FROM canon
        ),
        deg AS (SELECT src AS node, count(*) AS degree FROM directed GROUP BY 1),
        m AS (
            SELECT count(*) AS n_edges,
                   CAST(sum(dx.degree) AS BIGINT) AS sx,
                   CAST(sum(dy.degree) AS BIGINT) AS sy,
                   CAST(sum(dx.degree * dy.degree) AS BIGINT) AS sxy,
                   CAST(sum(dx.degree * dx.degree) AS BIGINT) AS sxx,
                   CAST(sum(dy.degree * dy.degree) AS BIGINT) AS syy
            FROM directed e
            JOIN deg dx ON dx.node = e.src
            JOIN deg dy ON dy.node = e.dst
        )
        SELECT n_edges,
               CASE WHEN n_edges * sxx - sx * sx = 0
                    OR n_edges * syy - sy * sy = 0 THEN NULL
               ELSE CAST(n_edges * sxy - sx * sy AS DOUBLE)
                   / (sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n_edges * syy - sy * sy AS DOUBLE))) END
                   AS assortativity
        FROM m
    """,
    "degree_distribution": """
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        canon AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey
        ),
        deg AS (
            SELECT node, count(*) AS degree
            FROM (SELECT src AS node FROM canon
                  UNION ALL SELECT dst FROM canon)
            GROUP BY node
        )
        SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree
    """,
    # the Spark loop unrolled with identical integer arithmetic: floor
    # division at every step, so the match is exact, not approximate.
    "pagerank_products": f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        dedges AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey != b.l_partkey
        ),
        deg AS (SELECT src, count(*) AS out_deg FROM dedges GROUP BY 1),
        nodes AS (SELECT DISTINCT src AS pid FROM dedges),
        consts AS (
            SELECT CAST(floor({SCALE} / count(*)) AS BIGINT) AS r0,
                   CAST(floor({100 - DAMP_NUM} * floor({SCALE} / count(*))
                              / {DAMP_DEN}) AS BIGINT) AS base
            FROM nodes
        ),
        r0 AS (SELECT pid, (SELECT r0 FROM consts) AS r_int FROM nodes),
        {_iter_duck('r0', 'r1')},
        {_iter_duck('r1', 'r2')}
        SELECT pid AS part_id,
               round(r_int / CAST({SCALE} AS DOUBLE), 6) AS rank
        FROM r2
        ORDER BY r_int DESC, pid
        LIMIT {TOP_K}
    """,
    "triangle_participation": f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        canon AS (
            SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey
        ),
        tri AS (
            SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
            FROM canon e1
            JOIN canon e2 ON e1.dst = e2.src
            JOIN canon e3 ON e3.src = e1.src AND e3.dst = e2.dst
        ),
        parts AS (
            SELECT a AS part_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        )
        SELECT part_id, count(*) AS n_triangles
        FROM parts
        GROUP BY 1
        ORDER BY n_triangles DESC, part_id ASC
        LIMIT {TOP_K}
    """,
}
