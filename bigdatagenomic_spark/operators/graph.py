"""Generic graph analytics (the reference's GAS model, generalized).

The reference hard-codes three GraphLab vertex programs
(assembly_final.cpp:155-624); this module exposes the underlying
primitive — gather/apply as a join + groupBy ("aggregateMessages",
SURVEY.md §3.2) — plus the degree helpers and a connected-components
operator, so the same machinery the assembly pipeline uses serves
general graph work (entity resolution over co-occurrence graphs being
the training-data-pipeline use case: q_graph_cc groups orders into
co-purchase components).

Scale notes: every superstep is one shuffle on vertex id. The driver
loop localCheckpoints each round — iterative lineage otherwise grows
unboundedly and re-executes from the scan on every action. Convergence
is checked per round by carrying the round-start label alongside the
new one (a filter + isEmpty on the checkpointed frame — no extra join);
hash-min propagation needs O(component diameter) rounds, which is small
for the short-diameter graphs entity resolution produces — for
adversarial long-path graphs, extract_path-style pointer doubling
(assembly.py) is the O(log n) alternative.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdatagenomic_spark.sources.local import local_frame


def out_degrees(edges: DataFrame) -> DataFrame:
    """(id, out_degree) — reference gather-over-OUT_EDGES cardinality."""
    return edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_degree")
    )


def in_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("in_degree"))


def aggregate_messages(
    vertices: DataFrame,
    edges: DataFrame,
    msg: Column,
    combine: str,
    direction: str = "out",
) -> DataFrame:
    """One GAS gather phase: each vertex receives ``msg`` (an expression
    over the neighbor's columns) along its edges, combined with ``combine``
    (min/max/sum/collect_list/...).

    ``direction='out'``: a vertex gathers from its out-neighbors (dst
    data flows back to src), matching the reference's
    ``gather_edges = OUT_EDGES`` (assembly_final.cpp:264-267).
    Returns (id, msg_agg). One join + one shuffle — the whole GraphLab
    gather/accumulator machinery (assembly_final.cpp:186-246) in two ops.
    """
    if direction == "out":
        joined = edges.join(vertices, edges["dst"] == vertices["id"]).select(
            edges["src"].alias("id"), msg.alias("_msg")
        )
    else:
        joined = edges.join(vertices, edges["src"] == vertices["id"]).select(
            edges["dst"].alias("id"), msg.alias("_msg")
        )
    return joined.groupBy("id").agg(getattr(F, combine)("_msg").alias("msg_agg"))


def connected_components(
    edges: DataFrame, max_rounds: int = 30
) -> DataFrame:
    """(id, component) — component = min vertex id reachable (undirected).

    Hash-min label propagation: every vertex repeatedly adopts the
    smallest label among itself and its neighbors, until a round changes
    nothing. Edges are symmetrized once up front; each round is one
    aggregate_messages shuffle + a changed-count check, with
    localCheckpoint cutting lineage.

    Deliberately NOT adaptive (no small-graph driver union-find): the
    measured cost is dominated by materializing the edge pipeline into
    the up-front checkpoint, each subsequent round runs on the tiny
    checkpointed frame, and pointer jumping bounds the round count by
    O(log diameter) — while a Python local-relation result adds
    ~0.4 s/pass of serialization overhead that a near-empty loop never
    pays.
    """
    # lazy up-front checkpoints (round 15): both still pin their frames
    # at first materialization — which now happens inside round 1's
    # checkpoint job instead of two standalone blocking driver jobs.
    # Interleaved A/B: q_graph_cc 1.118 vs 1.194 s, q_dedup_survivors
    # 1.076 vs 1.121 s (min-of-3 pairs). A SECOND pointer jump per
    # round was also tried (VERDICT r14 #4) and measured strictly
    # worse: rounds-to-converge did NOT drop (3 -> 3 on q_graph_cc,
    # 1 -> 1 on the survivor pair graph — the co-purchase components
    # are shallower than the jump schedule) while every round paid an
    # extra self-join (1.556 vs 1.194 s) — reverted, not kept.
    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_rounds):
        neighbor_min = aggregate_messages(
            labels.select("id", "component"),
            sym,
            msg=F.col("component"),
            combine="min",
            direction="out",
        )
        stepped = labels.join(neighbor_min, "id", "left").select(
            "id",
            F.col("component").alias("_old"),
            F.least(
                F.col("component"), F.coalesce("msg_agg", F.col("component"))
            ).alias("component"),
        )
        # pointer jumping: also adopt the label OF my label, which squares
        # the propagation distance per round — convergence in
        # O(log diameter) rounds instead of O(diameter), the difference
        # between ~7 and ~100+ shuffles on a long-chain 100 TB graph
        parents = stepped.select(
            F.col("id").alias("component"), F.col("component").alias("_parent")
        )
        new_labels = (
            stepped.join(parents, "component", "left")
            .select(
                "id",
                "_old",
                F.least(
                    F.col("component"), F.coalesce("_parent", F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        # convergence check: the round-start label rides along as _old,
        # so "anything changed?" is a filter on the frame just
        # checkpointed — no per-round (new ⋈ old) shuffle join, and
        # isEmpty short-circuits at the first changed row
        converged = new_labels.where(F.col("component") != F.col("_old")).isEmpty()
        labels = new_labels.select("id", "component")
        if converged:
            break
    return labels


def q_graph_cc(spark, sf_dir: str) -> DataFrame:
    """Entity resolution demo: orders connected by sharing a part
    (co-purchase graph over a bounded lineitem slice), labeled with
    their component. Iterative, but hash-checked against a recursive-CTE
    transitive closure; also union-find-matched in tests/test_graph.py."""
    from bigdatagenomic_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    # bipartite edges: order -> part (parts offset into their own id space)
    edges = li.select(
        F.col("l_orderkey").alias("src"),
        (F.col("l_partkey") + F.lit(1_000_000)).alias("dst"),
    ).distinct()
    cc = connected_components(edges)
    return (
        cc.where(F.col("id") < 1_000_000)  # report order vertices only
        .orderBy("id")
    )


Q_GRAPH_CC_SQL = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT l_orderkey AS src, l_partkey + 1000000 AS dst
  FROM lineitem WHERE l_orderkey < 200
), undirected AS (
  SELECT src, dst FROM edges
  UNION
  SELECT dst AS src, src AS dst FROM edges
), reach AS (
  SELECT src AS id, dst AS r FROM undirected
  UNION
  SELECT reach.id, u.dst AS r FROM reach JOIN undirected u ON reach.r = u.src
)
SELECT id, CAST(least(id, min(r)) AS BIGINT) AS component
FROM reach WHERE id < 1000000
GROUP BY id ORDER BY id
"""


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """(id, rank) — power-iteration PageRank with dangling-mass
    redistribution; ranks sum to the vertex count.

    The canonical GAS workload (gather rank/out_degree over in-edges,
    apply the damping update), expressed as the same join + groupBy
    superstep the reference's vertex programs map to (SURVEY.md §3.2).
    Per iteration: one shuffle for the message aggregation, a broadcast
    1-row join for the dangling mass, and a localCheckpoint to cut
    lineage. Fixed iteration count (the common production choice) keeps
    the loop free of per-round convergence jobs; n_iter=10 bounds the
    driver loop regardless of graph size.
    """
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = verts.count()
    deg = edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("out_degree"))
    # contribution edges with the sender's out-degree attached, reused
    # every round (checkpointed once — the invariant big table)
    contrib_edges = (
        edges.join(deg, edges["src"] == deg["id"])
        .select("src", "dst", "out_degree")
        .localCheckpoint(eager=True)
    )
    ranks = verts.withColumn("rank", F.lit(1.0))
    for _ in range(n_iter):
        msgs = (
            contrib_edges.join(ranks, contrib_edges["src"] == ranks["id"])
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("out_degree")).alias("_msg"),
            )
            .groupBy("id")
            .agg(F.sum("_msg").alias("recv"))
        )
        # dangling vertices (no out-edges) leak their rank; redistribute
        # it uniformly so total rank mass stays = n
        dangling = (
            ranks.join(deg.select("id"), "id", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass"))
        )
        ranks = (
            verts.join(msgs, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * (F.coalesce("recv", F.lit(0.0)) + F.col("dmass") / n)
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def _pagerank_oracle_sql(n_iter: int = 8, damping: float = 0.85) -> str:
    """Loop-unrolled PageRank oracle: one CTE per power iteration.

    Fixed iteration counts need no recursion — each iteration is a
    join + group-by over the previous CTE, so the whole computation is
    a chain of ordinary CTEs DuckDB evaluates exactly like the Spark
    driver loop. Ranks use the portable floor-rounding at 4 decimals
    (both engines sum doubles; the rounding absorbs order effects)."""
    base = """
  o AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey < 500),
  nxt AS (SELECT a.o_custkey AS src, b.o_custkey AS dst
          FROM o a JOIN o b ON b.o_orderkey = a.o_orderkey + 1),
  edges AS (SELECT DISTINCT src, dst FROM nxt WHERE src <> dst),
  verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
  nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
  deg AS (SELECT src AS id, count(*) AS out_degree FROM edges GROUP BY src),
  contrib AS (SELECT e.src, e.dst, d.out_degree
              FROM edges e JOIN deg d ON e.src = d.id),
  r0 AS (SELECT id, 1.0 AS rank FROM verts)"""
    steps = []
    for k in range(1, n_iter + 1):
        steps.append(f"""
  r{k} AS (
    SELECT v.id,
           {1.0 - damping} + {damping} * (coalesce(m.recv, 0.0) + d.dmass / nv.n)
             AS rank
    FROM verts v
    CROSS JOIN nv
    CROSS JOIN (SELECT coalesce(sum(rank), 0.0) AS dmass FROM r{k - 1}
                WHERE id NOT IN (SELECT id FROM deg)) d
    LEFT JOIN (SELECT c.dst AS id, sum(r.rank / c.out_degree) AS recv
               FROM contrib c JOIN r{k - 1} r ON c.src = r.id
               GROUP BY c.dst) m ON v.id = m.id)""")
    return (
        "WITH" + base + "," + ",".join(steps)
        + f"""
SELECT id, floor(rank * 10000 + 0.5) / 10000 AS rank
FROM r{n_iter} ORDER BY id"""
    )


Q_GRAPH_PAGERANK_SQL = _pagerank_oracle_sql()


def q_graph_pagerank(spark, sf_dir: str) -> DataFrame:
    """PageRank over the customer→customer order graph slice (bounded,
    deterministic). Fixed-iteration → hash-checked against a
    loop-unrolled CTE oracle; semantics also pinned by the hand-computed
    fixture in tests/test_graph.py."""
    from bigdatagenomic_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 500)
    # directed edges: each order links its customer to the customer of
    # the next order by key — an arbitrary but deterministic graph shape
    nxt = o.select(
        F.col("o_orderkey").alias("k"), F.col("o_custkey").alias("src")
    ).join(
        o.select((F.col("o_orderkey") - 1).alias("k"), F.col("o_custkey").alias("dst")),
        "k",
    )
    edges = nxt.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    pr = pagerank(edges, n_iter=8)
    return pr.select(
        "id", (F.floor(F.col("rank") * 10000 + F.lit(0.5)) / 10000).alias("rank")
    ).orderBy("id")


# ---------------------------------------------------------------------------
# triangle counting (degree-oriented node-iterator)
# ---------------------------------------------------------------------------

def triangle_count(edges: DataFrame) -> DataFrame:
    """1-row (n_wedges, n_triangles) over an undirected simple graph.

    The naive formulation joins the edge list with itself twice — on a
    power-law graph the hub vertices make the wedge join quadratic in
    the max degree. The standard distributed fix (node-iterator++ /
    Suri-Vassilvitskii MapReduce triangle counting) ORIENTS each edge
    from its lower-(degree, id) endpoint to the higher one: every
    vertex's out-degree is then O(sqrt(m)), so the wedge join is
    sum(out_deg²) ≤ m^1.5 total work regardless of skew, and each
    triangle {x<y<z} is generated exactly once as the wedge (x→y, x→z)
    closed by the oriented edge y→z. All three steps are equi-joins on
    vertex keys — no cross products.
    """
    a, b = F.col("src"), F.col("dst")
    # pin the two multiply-referenced narrow tables (und feeds the
    # degree census + the keyed join; oriented feeds both wedge sides +
    # the closing join): without the pins Catalyst re-derives each
    # reference from the raw edge input — measured 60 input scans for
    # this plan. The pinned tables are 2-3 int columns.
    und = (
        edges.where(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
    ).localCheckpoint(eager=False)
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("id").alias("a"), F.struct("deg", F.col("id")).alias("ka"))
    db = deg.select(F.col("id").alias("b"), F.struct("deg", F.col("id")).alias("kb"))
    keyed = und.join(da, "a").join(db, "b")
    oriented = keyed.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("dst_key"),
    ).localCheckpoint(eager=False)
    w1 = oriented.select(
        F.col("src").alias("x"), F.col("dst").alias("y"), F.col("dst_key").alias("ky")
    )
    w2 = oriented.select(
        F.col("src").alias("x"), F.col("dst").alias("z"), F.col("dst_key").alias("kz")
    )
    wedges = w1.join(w2, "x").where(F.col("ky") < F.col("kz")).select("y", "z")
    closing = oriented.select(
        F.col("src").alias("y"), F.col("dst").alias("z"), F.lit(1).alias("_closed")
    )
    # one pass for both counts: oriented edges are distinct, so the left
    # join cannot multiply wedge rows — count(*) is the wedge census and
    # count(_closed) the triangles
    return wedges.join(closing, ["y", "z"], "left").agg(
        F.count("*").alias("n_wedges"), F.count("_closed").alias("n_triangles")
    )


def q_graph_triangles(spark, sf_dir: str) -> DataFrame:
    """Triangle census of the bounded co-purchase graph (orders sharing
    a part, same slice as q_graph_cc): a clustering-coefficient-style
    corpus/graph health signal. Oracle: the same orientation replayed
    in SQL with row-value comparisons."""
    from bigdatagenomic_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    items = li.select("l_orderkey", "l_partkey").distinct()
    o1 = items.select(F.col("l_orderkey").alias("src"), "l_partkey")
    o2 = items.select(F.col("l_orderkey").alias("dst"), "l_partkey")
    edges = (
        o1.join(o2, "l_partkey")
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return triangle_count(edges)


Q_GRAPH_TRIANGLES_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey < 200
), und AS (
  SELECT DISTINCT i.l_orderkey AS a, j.l_orderkey AS b
  FROM items i JOIN items j
    ON i.l_partkey = j.l_partkey AND i.l_orderkey < j.l_orderkey
), deg AS (
  SELECT id, count(*) AS deg FROM (
    SELECT a AS id FROM und UNION ALL SELECT b FROM und
  ) GROUP BY id
), oriented AS (
  SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS src,
         CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS dst,
         CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN db.deg ELSE da.deg END AS ddeg
  FROM und u JOIN deg da ON u.a = da.id JOIN deg db ON u.b = db.id
), wedges AS (
  SELECT w1.dst AS y, w2.dst AS z
  FROM oriented w1 JOIN oriented w2
    ON w1.src = w2.src AND (w1.ddeg, w1.dst) < (w2.ddeg, w2.dst)
)
SELECT count(*) AS n_wedges, count(o.src) AS n_triangles
FROM wedges w
LEFT JOIN oriented o ON w.y = o.src AND w.z = o.dst
"""


KCORE_MAX_ROUNDS = 40        # Spark loops to fixpoint under this cap
KCORE_ORACLE_ROUNDS = 16     # unrolled oracle replay bound (see k_core;
                             # measured convergence: 2 rounds at sf0.001
                             # and sf0.1, 12 at sf0.01)


def k_core(
    edges: DataFrame,
    k: int,
    max_rounds: int = KCORE_MAX_ROUNDS,
    rounds_out: list | None = None,
) -> DataFrame:
    """The k-core of an undirected graph: iteratively peel every vertex
    whose (undirected, de-duplicated, loop-free) degree is < k until a
    fixpoint — the standard graph-density filter (cohesive subgroup
    mining, spam/hub pruning before embedding training).

    Plan per round: one map-side-combined degree aggregate over the
    surviving symmetrized edge set + two semi-joins on the vertex key
    to drop edges touching a peeled vertex; `localCheckpoint` cuts the
    lineage and the fixpoint test is an `isEmpty` on peeled vertices
    (the CC convergence pattern at :136). Rounds are data-dependent —
    each round removes at least one vertex (worst case a path peels
    two ends per round); the testdata co-purchase slices converge in
    2-12 rounds and ``max_rounds`` bounds the pathological case. The DuckDB oracle
    replays peeling UNROLLED to KCORE_ORACLE_ROUNDS — extra rounds
    past the fixpoint are no-ops, so the replay is exact whenever the
    data converges within the bound (asserted by the convergence test
    in tests/test_graph.py).

    Returns (id, core_degree): surviving vertices with their degree
    inside the k-core. ``rounds_out`` (if given a list) receives the
    number of PEELING rounds actually executed — the convergence test
    in tests/test_graph.py asserts this stays within
    KCORE_ORACLE_ROUNDS on every testdata SF, which is the condition
    under which the unrolled DuckDB oracle is exact.
    """
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds_used = 0
    for _ in range(max_rounds):
        deg = e.groupBy("src").agg(F.count("*").alias("deg"))
        peeled = deg.where(F.col("deg") < k).select("src")
        if peeled.isEmpty():
            break
        rounds_used += 1
        keep = deg.where(F.col("deg") >= k).select("src")
        e = (
            e.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    if rounds_out is not None:
        rounds_out.append(rounds_used)
    return (
        e.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").cast("long").alias("core_degree"))
    )


def q_graph_kcore(spark, sf_dir: str) -> DataFrame:
    """2-core of the bounded co-purchase graph (same slice as
    q_graph_cc/triangles): vertices that survive repeated removal of
    degree-<2 nodes — the cyclic backbone of the graph."""
    from bigdatagenomic_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    items = li.select("l_orderkey", "l_partkey").distinct()
    o1 = items.select(F.col("l_orderkey").alias("src"), "l_partkey")
    o2 = items.select(F.col("l_orderkey").alias("dst"), "l_partkey")
    edges = (
        o1.join(o2, "l_partkey")
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return k_core(edges, k=2).orderBy("id")


def _kcore_oracle_sql(k: int = 2, rounds: int = KCORE_ORACLE_ROUNDS) -> str:
    """Unrolled peeling replay (kmeans-unroll pattern): per-round
    MATERIALIZED edge CTEs — each is referenced twice (degree + join)
    and DuckDB would otherwise inline and re-evaluate the whole chain
    exponentially (the b453be9 gotcha)."""
    parts = [
        """
  e0 AS MATERIALIZED (
    SELECT DISTINCT src, dst FROM (
      SELECT i.l_orderkey AS src, j.l_orderkey AS dst
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey < 200) i
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey < 200) j
        ON i.l_partkey = j.l_partkey AND i.l_orderkey <> j.l_orderkey))"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""
  k{r} AS MATERIALIZED (
    SELECT src AS id FROM e{r - 1} GROUP BY src HAVING count(*) >= {k}),
  e{r} AS MATERIALIZED (
    SELECT e.src, e.dst FROM e{r - 1} e
    JOIN k{r} a ON e.src = a.id JOIN k{r} b ON e.dst = b.id)""")
    return (
        "WITH" + ",".join(parts)
        + f"""
SELECT src AS id, CAST(count(*) AS BIGINT) AS core_degree
FROM e{rounds} GROUP BY src ORDER BY id"""
    )


def q_graph_degree_hist(spark, sf_dir: str) -> DataFrame:
    """Degree distribution of the bounded co-purchase graph — the
    first-look graph health check (hubs, skew, disconnected mass) and
    the input to the orientation argument triangle_count relies on.
    Two map-side-combined shuffles: degree per vertex, then vertices
    per degree; the histogram domain is bounded by the max degree."""
    from bigdatagenomic_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    items = li.select("l_orderkey", "l_partkey").distinct()
    o1 = items.select(F.col("l_orderkey").alias("src"), "l_partkey")
    o2 = items.select(F.col("l_orderkey").alias("dst"), "l_partkey")
    und = (
        o1.join(o2, "l_partkey")
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    deg = (
        und.select(F.col("src").alias("id"))
        .unionByName(und.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count("*").alias("n_vertices"))
        .orderBy("degree")
    )


Q_GRAPH_DEGREE_HIST_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey < 200
), und AS (
  SELECT DISTINCT i.l_orderkey AS a, j.l_orderkey AS b
  FROM items i JOIN items j
    ON i.l_partkey = j.l_partkey AND i.l_orderkey < j.l_orderkey
), deg AS (
  SELECT id, count(*) AS degree FROM (
    SELECT a AS id FROM und UNION ALL SELECT b FROM und
  ) GROUP BY id
)
SELECT degree, count(*) AS n_vertices FROM deg GROUP BY degree ORDER BY degree
"""


# --------------------------------------------------------------------------
# label propagation (community detection)
# --------------------------------------------------------------------------
LPA_ITERS = 4


def label_propagation(edges: DataFrame, n_iter: int = LPA_ITERS) -> DataFrame:
    """(id, label) — synchronous label propagation community detection.

    Each round every vertex adopts the most frequent label among its
    neighbors (undirected), ties broken by the SMALLEST label — the
    deterministic variant of Raghavan et al.'s LPA (async/random-order
    LPA is run-dependent; synchronous + least-label ties replays
    byte-identically, which is what makes it oracle-checkable). A FIXED
    iteration count bounds the driver loop and sidesteps synchronous
    LPA's bipartite oscillation (no convergence test to fail).

    Per round: one shuffle to tally (vertex, neighbor-label) counts and
    one to pick the per-vertex argmax via a struct-min fold — the same
    superstep shape as :func:`pagerank`, with ``localCheckpoint`` per
    round to cut lineage. The symmetrized edge table is checkpointed
    once and reused every round (the invariant big table).
    """
    und = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = und.select(F.col("src").alias("id")).distinct().localCheckpoint(
        eager=True
    )
    labels = verts.withColumn("label", F.col("id"))
    for _ in range(n_iter):
        freq = (
            und.join(labels, und["dst"] == labels["id"])
            .select(und["src"].alias("id"), "label")
            .groupBy("id", "label")
            .agg(F.count("*").alias("cnt"))
        )
        # argmax by (cnt DESC, label ASC) as a lexicographic struct-min
        best = freq.groupBy("id").agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("label").alias("l")))[
                "l"
            ].alias("new_label")
        )
        labels = (
            verts.join(best, "id", "left")
            .select("id", F.coalesce("new_label", F.col("id")).alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels


def q_graph_lpa(spark, sf_dir: str) -> DataFrame:
    """Community detection over the same bounded order–part co-purchase
    graph as q_graph_cc: 4 synchronous LPA rounds, least-label ties.
    Fixed-iteration → hash-checked against a loop-unrolled CTE oracle."""
    from bigdatagenomic_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    edges = li.select(
        F.col("l_orderkey").alias("src"),
        (F.col("l_partkey") + F.lit(1_000_000)).alias("dst"),
    ).distinct()
    return (
        label_propagation(edges)
        .where(F.col("id") < 1_000_000)
        .select("id", F.col("label").cast("long").alias("label"))
        .orderBy("id")
    )


def _lpa_oracle_sql(n_iter: int = LPA_ITERS) -> str:
    """Loop-unrolled LPA oracle: per round, a (vertex, label) frequency
    CTE plus a row_number argmax with the same (cnt DESC, label ASC)
    tie-break the Spark struct-min implements."""
    base = """
  e AS (SELECT DISTINCT l_orderkey AS src, l_partkey + 1000000 AS dst
        FROM lineitem WHERE l_orderkey < 200),
  und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
  verts AS (SELECT DISTINCT src AS id FROM und),
  l0 AS (SELECT id, id AS label FROM verts)"""
    steps = []
    for k in range(1, n_iter + 1):
        steps.append(f"""
  f{k} AS (SELECT u.src AS id, l.label, count(*) AS cnt
           FROM und u JOIN l{k - 1} l ON u.dst = l.id
           GROUP BY u.src, l.label),
  l{k} AS (SELECT v.id, coalesce(b.label, v.id) AS label
           FROM verts v LEFT JOIN (
             SELECT id, label FROM (
               SELECT id, label,
                      row_number() OVER (PARTITION BY id
                                         ORDER BY cnt DESC, label) AS rn
               FROM f{k}) WHERE rn = 1) b USING (id))""")
    return (
        "WITH" + base + "," + ",".join(steps)
        + f"""
SELECT id, CAST(label AS BIGINT) AS label
FROM l{n_iter} WHERE id < 1000000 ORDER BY id"""
    )


Q_GRAPH_LPA_SQL = _lpa_oracle_sql()


# --------------------------------------------------------------------------
# hierarchy closure (root + depth) via pointer doubling
# --------------------------------------------------------------------------
TREE_N = 1024
TREE_DOUBLING_ROUNDS = 11  # ceil(log2(max depth)) + 1 for the 1024-node tree


def tree_closure(parents: DataFrame, n_rounds: int = TREE_DOUBLING_ROUNDS) -> DataFrame:
    """(node, root, depth) for a parent-pointer forest — org charts,
    bill-of-materials, comment threads. The sequential walk is O(depth)
    supersteps; POINTER DOUBLING halves the remaining distance each
    round (anc <- anc's anc, depth <- depth + anc's depth), so a
    depth-d hierarchy closes in ceil(log2 d) self-joins of the narrow
    (node, anc, depth) state — the same doubling the assembly path walk
    uses (operators/assembly.py), here with distance accumulation.
    Roots carry (node, node, 0), which doubles into a fixpoint: joining
    a root's state adds nothing, so extra rounds are no-ops rather than
    drift.

    ``parents``: (node, parent); roots are rows where parent == node.
    """
    state = parents.select(
        F.col("node"),
        F.col("parent").alias("anc"),
        F.when(F.col("parent") == F.col("node"), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("depth"),
    ).localCheckpoint(eager=True)
    for _ in range(n_rounds):
        hop = state.select(
            F.col("node").alias("_n"),
            F.col("anc").alias("_a"),
            F.col("depth").alias("_d"),
        )
        state = (
            state.join(hop, state["anc"] == hop["_n"])
            .select(
                "node",
                F.col("_a").alias("anc"),
                (F.col("depth") + F.col("_d")).alias("depth"),
            )
            .localCheckpoint(eager=True)
        )
    return state.select("node", F.col("anc").alias("root"), "depth")


def q_x_tree_closure(spark, sf_dir: str) -> DataFrame:
    """Binary-heap hierarchy over the first TREE_N order keys
    (parent(k) = k div 2, root 1): every node's root and depth via
    pointer doubling, hash-checked against a recursive-CTE walk."""
    from bigdatagenomic_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderkey") >= 1) & (F.col("o_orderkey") <= TREE_N)
    )
    parents = o.select(
        F.col("o_orderkey").alias("node"),
        F.when(F.col("o_orderkey") == 1, F.lit(1))
        .otherwise(F.floor(F.col("o_orderkey") / 2))
        .cast("long")
        .alias("parent"),
    )
    return tree_closure(parents).orderBy("node")


Q_X_TREE_CLOSURE_SQL = f"""
WITH RECURSIVE nodes AS (
  SELECT o_orderkey AS node,
         CASE WHEN o_orderkey = 1 THEN 1
              ELSE CAST(floor(o_orderkey / 2) AS BIGINT) END AS parent
  FROM orders WHERE o_orderkey BETWEEN 1 AND {TREE_N}),
walk AS (
  SELECT node, parent AS anc,
         CASE WHEN parent = node THEN 0 ELSE 1 END AS depth
  FROM nodes
  UNION ALL
  SELECT w.node, n.parent, w.depth + 1
  FROM walk w JOIN nodes n ON w.anc = n.node
  WHERE n.parent <> w.anc)
SELECT node, CAST(anc AS BIGINT) AS root, CAST(depth AS BIGINT) AS depth
FROM (SELECT node, anc, depth,
             row_number() OVER (PARTITION BY node ORDER BY depth DESC) AS rn
      FROM walk)
WHERE rn = 1 ORDER BY node
"""


def unitig_compaction(edges: DataFrame) -> DataFrame:
    """Compact the maximal non-branching paths ("unitigs") of a directed
    graph. An edge u->v is unambiguous iff u's out-degree is 1 AND v's
    in-degree is 1, computed over DISTINCT edges — compaction is a
    property of the graph structure, not edge multiplicity. Inside the
    unambiguous subgraph every vertex has undirected degree <= 2, so
    its connected components are exactly the simple paths and cycles an
    assembler calls unitigs; hash-min CC labels both (a head-chasing
    pointer walk would never terminate on an isolated cycle). Vertices
    touching no unambiguous edge are singleton unitigs.

    This is the de Bruijn-side analog of the reference's overlap-path
    merge (assembly_final.cpp:402-624 compacts unbranched overlap
    chains vertex by vertex); here the whole compaction is declared
    relationally and Catalyst schedules it.

    Scale shape: two map-side-combined degree aggregates and two narrow
    equi-joins select the unambiguous subgraph (keys are the vertex
    ids), then connected_components runs O(log chain-length)
    pointer-jumping rounds over a subgraph no larger than the edge set.
    Nothing is quadratic in the graph at any size.

    Returns one row per unitig: (unitig_id = min member id, n_nodes,
    members = ','-joined sorted member ids).
    """
    e = edges.select("src", "dst").distinct()
    ue = _unambiguous_edges(e)
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    cc = connected_components(ue)
    labeled = nodes.join(cc, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("unitig_id")
    )
    return labeled.groupBy("unitig_id").agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.array_join(F.array_sort(F.collect_list("id")), ",").alias("members"),
    )


def _unambiguous_edges(e: DataFrame) -> DataFrame:
    """The unambiguous subgraph of a DISTINCT edge set: edge u->v
    survives iff u has out-degree 1 and v has in-degree 1. Two
    map-side-combined degree aggregates + two equi-joins on the vertex
    keys; every vertex has undirected degree <= 2 inside the result, so
    its components are simple paths and cycles."""
    out1 = (
        e.groupBy("src").agg(F.count("*").alias("od"))
        .where(F.col("od") == 1)
        .select("src")
    )
    in1 = (
        e.groupBy("dst").agg(F.count("*").alias("idg"))
        .where(F.col("idg") == 1)
        .select("dst")
    )
    return e.join(out1, "src").join(in1, "dst").select("src", "dst")


def chain_paths(edges: DataFrame, n_rounds: int = TREE_DOUBLING_ROUNDS) -> DataFrame:
    """(node, root, depth) for every vertex on a PATH unitig of the
    unambiguous subgraph — root is the chain head (the member with no
    unambiguous in-edge) and depth its position along the chain, the
    ordering unitig_compaction's membership labels lack. Vertices
    touching no unambiguous edge are depth-0 singleton chains; members
    of isolated unambiguous CYCLES are excluded (a cycle has no head,
    so there is no well-defined linear order — unitig_compaction still
    reports them as membership groups).

    Plan: degree filter + one CC pass to find and drop cycle
    components (a component is a cycle iff no member lacks an
    unambiguous in-edge), then tree_closure's pointer doubling orders
    every chain in ceil(log2 depth) self-joins of narrow
    (node, anc, depth) rows. ``n_rounds`` bounds the orderable chain
    length at 2^n_rounds.
    """
    e = edges.select("src", "dst").distinct()
    ue = _unambiguous_edges(e)
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    ind = ue.select(F.col("dst").alias("id"), F.col("src").alias("parent"))
    cc = connected_components(ue)
    heads_in_cc = cc.join(ind.select("id"), "id", "left_anti")
    cycle_comps = (
        cc.select("component")
        .distinct()
        .join(heads_in_cc.select("component").distinct(), "component", "left_anti")
    )
    cycle_nodes = cc.join(cycle_comps, "component").select("id")
    parents = (
        nodes.join(cycle_nodes, "id", "left_anti")
        .join(ind, "id", "left")
        .select(
            F.col("id").alias("node"),
            F.coalesce("parent", F.col("id")).alias("parent"),
        )
    )
    return tree_closure(parents, n_rounds)


def spell_contigs(edges: DataFrame, k: int) -> DataFrame:
    """Spell every PATH unitig of a (k-1)-mer de Bruijn edge set into
    its assembled sequence: the head (k-1)-mer followed by the last
    base of each subsequent node in chain order — the step that turns
    compacted paths into contig strings (the de Bruijn counterpart of
    the reference's per-vertex sequence stitching,
    assembly_final.cpp:402-624,631-645).

    Contract (pinned by tests/test_graph.py planted chain+cycle parity
    test): members of isolated unambiguous CYCLES are EXCLUDED — a
    cycle has no head, so there is no well-defined spelling start;
    singleton vertices spell themselves. This matches the DuckDB
    oracle's head-anchored recursive walk (queries.py
    q_asm_contig_spell), whose `heads` CTE never seeds a cycle.

    Scale shape: chain_paths orders every chain with O(log depth)
    pointer-doubling self-joins of narrow (node, root, depth) rows;
    the spelling itself is ONE sort-free hash aggregate — per-group
    (depth, chunk) structs are array_sort'ed inside the aggregate
    buffer, never a global orderBy — so nothing here exceeds the
    chain-member row width on the wire.

    Returns (unitig_id, n_nodes, sequence, seq_len), one row per path.
    """
    ordered = chain_paths(edges)
    chunk = F.when(F.col("depth") == 0, F.col("node")).otherwise(
        F.substring("node", k - 1, 1)
    )
    return (
        ordered.select("root", "depth", chunk.alias("chunk"))
        .groupBy(F.col("root").alias("unitig_id"))
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("depth", "chunk"))),
                    lambda s: s["chunk"],
                ),
                "",
            ).alias("sequence"),
        )
        .withColumn("seq_len", F.length("sequence").cast("long"))
    )


# --------------------------------------------------------------------------
# strongly connected components (directed): trim + coloring
# --------------------------------------------------------------------------
SCC_MAX_OUTER = 12   # SCC-DAG chain-depth bound (peel one DAG level/round)
SCC_MAX_ROUNDS = 40  # inner fixpoint bound (trim / color / mark loops)


def strongly_connected_components(
    edges: DataFrame,
    max_outer: int = SCC_MAX_OUTER,
    max_rounds: int = SCC_MAX_ROUNDS,
    stats_out: dict | None = None,
) -> DataFrame:
    """(id, scc) over a DIRECTED edge set — scc = min vertex id in the
    strongly connected component (u,v share an scc iff u reaches v AND
    v reaches u).

    The distributed Trim + Coloring scheme (Orzan's coloring with the
    FW-BW trim step; Hong et al. 2013 is the standard multicore/BSP
    formulation). Per outer round:

    1. **Trim**: iteratively peel vertices with in-degree 0 or
       out-degree 0 in the remaining subgraph — they can sit on no
       cycle, so each is a singleton SCC. This resolves the acyclic
       bulk of the graph in O(DAG-level) cheap degree rounds instead
       of feeding it to the quadratic-ish coloring phase (the same
       peel-loop shape as :func:`k_core`).
    2. **Color**: forward min-label propagation to fixpoint —
       ``color(v)`` = smallest remaining id that reaches ``v`` — with
       the pointer-jumping accelerator from :func:`connected_components`
       (``color(color(v))`` also reaches ``v``, squaring propagation
       distance per round, O(log diameter) rounds).
    3. **Mark**: a color root (``color(v) == v``, i.e. no smaller
       remaining vertex reaches it) is its SCC's minimum: every vertex
       of color r that reaches r is mutually connected with r, and the
       v→r path stays inside the color class — so the SCC is recovered
       by backward reachability over SAME-COLOR edges only, a
       monotone frontier loop bounded by the component diameter.
    4. Assign marked vertices ``scc = color``, remove them, repeat:
       each outer round clears at least every source SCC of the
       remaining SCC-DAG, so outer rounds are bounded by the SCC-DAG
       chain depth (the ``max_outer`` cap; convergence on the testdata
       graphs is pinned by tests).

    Self-loops are dropped up front (singleton SCCs exist with or
    without them; trim then classifies correctly). Scale shape: every
    step is a key-partitioned join/aggregate on vertex id over frames
    that only shrink; ``localCheckpoint`` cuts lineage per round
    exactly as in the CC/k-core loops.

    ``stats_out`` (if given a dict) receives the executed round counts
    {outer, trim, color, mark} — each trim round costs two ``distinct``
    projections, two semi-joins and an ``isEmpty`` driver action, so
    these counts ARE the driver-side job budget the ×N scale sweep
    (tools/scale_check_graph.py) pins: replica-disjoint growth must not
    grow them.
    """
    e_all = (
        edges.where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    remaining = (
        e_all.select(F.col("src").alias("id"))
        .unionByName(e_all.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    pieces: list[DataFrame] = []
    stats = {"outer": 0, "trim": 0, "color": 0, "mark": 0}
    e = e_all
    for _ in range(max_outer):
        if remaining.isEmpty():
            break
        stats["outer"] += 1
        # ---- 1. trim singleton SCCs (no in- or no out-edge) ----
        for _ in range(max_rounds):
            stats["trim"] += 1
            has_out = e.select(F.col("src").alias("id")).distinct()
            has_in = e.select(F.col("dst").alias("id")).distinct()
            core = (
                remaining.join(has_out, "id", "left_semi")
                .join(has_in, "id", "left_semi")
                .localCheckpoint(eager=True)
            )
            trimmed = remaining.join(core, "id", "left_anti")
            if trimmed.isEmpty():
                break
            pieces.append(
                trimmed.select("id", F.col("id").alias("scc")).localCheckpoint(
                    eager=True
                )
            )
            remaining = core
            e = (
                e.join(core.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(core.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .localCheckpoint(eager=True)
            )
        if remaining.isEmpty():
            break
        # ---- 2. color: forward min-label to fixpoint ----
        labels = remaining.select("id", F.col("id").alias("color")).localCheckpoint(
            eager=True
        )
        for _ in range(max_rounds):
            stats["color"] += 1
            incoming = (
                e.join(labels, e["src"] == labels["id"])
                .select(e["dst"].alias("id"), F.col("color").alias("_msg"))
                .groupBy("id")
                .agg(F.min("_msg").alias("_msg"))
            )
            stepped = labels.join(incoming, "id", "left").select(
                "id",
                F.col("color").alias("_old"),
                F.least(
                    F.col("color"), F.coalesce("_msg", F.col("color"))
                ).alias("color"),
            )
            # pointer jump: whoever reaches my color also reaches me
            parents = stepped.select(
                F.col("id").alias("color"), F.col("color").alias("_parent")
            )
            new_labels = (
                stepped.join(parents, "color", "left")
                .select(
                    "id",
                    "_old",
                    F.least(
                        F.col("color"), F.coalesce("_parent", F.col("color"))
                    ).alias("color"),
                )
                .localCheckpoint(eager=True)
            )
            converged = new_labels.where(
                F.col("color") != F.col("_old")
            ).isEmpty()
            labels = new_labels.select("id", "color")
            if converged:
                break
        # ---- 3. mark: backward reach to the root over same-color edges ----
        marked = labels.where(F.col("color") == F.col("id")).localCheckpoint(
            eager=True
        )
        for _ in range(max_rounds):
            stats["mark"] += 1
            preds = (
                e.join(marked, e["dst"] == marked["id"])
                .select(e["src"].alias("id"), marked["color"].alias("_mc"))
                .join(labels, "id")
                .where(F.col("_mc") == F.col("color"))
                .select("id", "color")
                .distinct()
            )
            new_marked = preds.join(marked, "id", "left_anti").localCheckpoint(
                eager=True
            )
            if new_marked.isEmpty():
                break
            marked = marked.unionByName(new_marked).localCheckpoint(eager=True)
        # ---- 4. assign and shrink ----
        pieces.append(
            marked.select("id", F.col("color").alias("scc")).localCheckpoint(
                eager=True
            )
        )
        remaining = remaining.join(marked, "id", "left_anti").localCheckpoint(
            eager=True
        )
        e = (
            e.join(remaining.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(remaining.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
    if stats_out is not None:
        stats_out.update(stats)
    # Non-convergence must be loud, not a silently partial result: the
    # outer loop peels >=1 SCC-DAG level per round, so leftovers mean
    # the caps were too small for this graph's DAG depth (ADVICE r8).
    if not remaining.isEmpty():
        raise RuntimeError(
            "strongly_connected_components did not converge within "
            f"max_outer={max_outer} outer rounds; "
            f"{remaining.count()} vertices unresolved — raise the caps"
        )
    if not pieces:  # edge-free input: empty result, src's own dtype
        return edges.select(
            F.col("src").alias("id"), F.col("src").alias("scc")
        ).where(F.lit(False))
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def q_graph_scc(spark, sf_dir: str) -> DataFrame:
    """SCCs of the temporal co-purchase graph: directed edge o1→o2 when
    the two orders share a part and o1's order YEAR is <= o2's — the
    cycle-forming same-year clusters are the recurrent purchase
    communities, the cross-year edges the (acyclic) drift between them.
    Iterative, but hash-checked against an exact transitive-closure
    mutual-reachability oracle on the bounded slice."""
    from bigdatagenomic_spark.sources.tables import load_table

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 400)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 400)
        .select("o_orderkey", F.year("o_orderdate").alias("_y"))
    )
    oi = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey", "l_partkey", "_y"
    )
    a = oi.select(
        F.col("l_orderkey").alias("src"), "l_partkey", F.col("_y").alias("_ya")
    )
    b = oi.select(
        F.col("l_orderkey").alias("dst"), "l_partkey", F.col("_y").alias("_yb")
    )
    edges = (
        a.join(b, "l_partkey")
        .where((F.col("src") != F.col("dst")) & (F.col("_ya") <= F.col("_yb")))
        .select("src", "dst")
        .distinct()
    )
    return strongly_connected_components(edges).orderBy("id")


Q_GRAPH_SCC_SQL = """
WITH RECURSIVE sl AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey < 400
), o AS MATERIALIZED (
  SELECT o_orderkey, year(o_orderdate) AS y FROM orders WHERE o_orderkey < 400
), e AS MATERIALIZED (
  SELECT DISTINCT i.l_orderkey AS src, j.l_orderkey AS dst
  FROM sl i
  JOIN sl j ON i.l_partkey = j.l_partkey AND i.l_orderkey <> j.l_orderkey
  JOIN o oa ON i.l_orderkey = oa.o_orderkey
  JOIN o ob ON j.l_orderkey = ob.o_orderkey
  WHERE oa.y <= ob.y
), verts AS MATERIALIZED (
  SELECT src AS id FROM e UNION SELECT dst FROM e
), reach AS (
  SELECT src AS a, dst AS b FROM e
  UNION
  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src
), mutual AS MATERIALIZED (
  SELECT r1.a AS id, r1.b AS other
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
)
SELECT v.id, CAST(least(v.id, coalesce(min(m.other), v.id)) AS BIGINT) AS scc
FROM verts v LEFT JOIN mutual m ON v.id = m.id
GROUP BY v.id ORDER BY v.id
"""


# --------------------------------------------------------------------------
# HITS (hubs & authorities) — exact-integer fixed-iteration variant
# --------------------------------------------------------------------------
HITS_ITERS = 4  # alternating sums grow ~(total degree)^iters; 4 rounds
                # keeps the exact BIGINT scores far inside int64 on the
                # bounded slices while reaching a stable ranking


def hits_exact(edges: DataFrame, n_iter: int = HITS_ITERS) -> DataFrame:
    """(id, auth_n, hub_n) — Kleinberg's HITS with EXACT integer
    arithmetic: hubs start at 1; each round replays
    ``auth(v) = Σ hub(u) over u→v`` then ``hub(u) = Σ auth(v) over
    u→v``, UNNORMALIZED. Integer sums are associative-exact, so the
    result is bit-identical in any execution order — which is what
    makes a fixed-iteration spectral method hash-checkable against a
    loop-unrolled SQL oracle (the float-normalized textbook form would
    diverge at 1e-15 per round; callers can normalize the final
    integers however they like). The trade: scores grow like
    (Σ degree)^iters, so ``n_iter`` must keep them inside int64 —
    the caller's contract, asserted by the registry query's bounded
    slice.

    Per round: two map-side-combined shuffles keyed on vertex id (one
    per direction) + a left join back to the stable vertex frame;
    ``localCheckpoint`` cuts the iterative lineage exactly as in
    :func:`pagerank`.
    """
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = verts.select("id", F.lit(1).cast("long").alias("hub_n"))
    auth = verts.select("id", F.lit(0).cast("long").alias("auth_n"))
    for _ in range(n_iter):
        a_in = (
            e.join(hub, e["src"] == hub["id"])
            .groupBy(e["dst"].alias("id"))
            .agg(F.sum("hub_n").alias("_a"))
        )
        auth = (
            verts.join(a_in, "id", "left")
            .select("id", F.coalesce("_a", F.lit(0)).cast("long").alias("auth_n"))
            .localCheckpoint(eager=True)
        )
        h_out = (
            e.join(auth, e["dst"] == auth["id"])
            .groupBy(e["src"].alias("id"))
            .agg(F.sum("auth_n").alias("_h"))
        )
        hub = (
            verts.join(h_out, "id", "left")
            .select("id", F.coalesce("_h", F.lit(0)).cast("long").alias("hub_n"))
            .localCheckpoint(eager=True)
        )
    return auth.join(hub, "id").select("id", "auth_n", "hub_n")


def q_graph_hits(spark, sf_dir: str) -> DataFrame:
    """Hubs & authorities of the bounded directed order→part purchase
    graph: an order's hub weight aggregates the authority of the parts
    it buys, a part's authority the hub weight of the orders buying it
    — the classic mutually-recursive importance ranking (catalog
    curation: which parts anchor the assortment, which orders are the
    broad 'basket' orders). 4 exact-integer rounds, hash-checked
    against the loop-unrolled oracle."""
    from bigdatagenomic_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    edges = li.select(
        F.col("l_orderkey").alias("src"),
        (F.col("l_partkey") + F.lit(1_000_000)).alias("dst"),
    ).distinct()
    return hits_exact(edges).orderBy("id")


def _hits_oracle_sql(n_iter: int = HITS_ITERS) -> str:
    """Loop-unrolled HITS replay: one auth/hub CTE pair per round,
    MATERIALIZED (each is referenced twice — the b453be9 DuckDB
    CTE-inlining gotcha)."""
    parts = [
        """
  e AS MATERIALIZED (
    SELECT DISTINCT l_orderkey AS src, l_partkey + 1000000 AS dst
    FROM lineitem WHERE l_orderkey < 200),
  verts AS MATERIALIZED (
    SELECT src AS id FROM e UNION SELECT dst FROM e),
  h0 AS MATERIALIZED (SELECT id, CAST(1 AS BIGINT) AS hub_n FROM verts)"""
    ]
    for r in range(1, n_iter + 1):
        parts.append(f"""
  a{r} AS MATERIALIZED (
    SELECT v.id, CAST(coalesce(sum(h.hub_n), 0) AS BIGINT) AS auth_n
    FROM verts v
    LEFT JOIN e ON e.dst = v.id
    LEFT JOIN h{r - 1} h ON h.id = e.src
    GROUP BY v.id),
  h{r} AS MATERIALIZED (
    SELECT v.id, CAST(coalesce(sum(a.auth_n), 0) AS BIGINT) AS hub_n
    FROM verts v
    LEFT JOIN e ON e.src = v.id
    LEFT JOIN a{r} a ON a.id = e.dst
    GROUP BY v.id)""")
    return (
        "WITH" + ",".join(parts)
        + f"""
SELECT a.id, a.auth_n, h.hub_n
FROM a{n_iter} a JOIN h{n_iter} h ON a.id = h.id
ORDER BY a.id"""
    )


# --------------------------------------------------------------------------
# single-source shortest paths — fixed-round integer Bellman-Ford
# --------------------------------------------------------------------------
SSSP_ROUNDS = 8


def sssp_bellman_ford(
    edges: DataFrame, source: int, n_rounds: int = SSSP_ROUNDS
) -> DataFrame:
    """(id, dist) — shortest integer-weighted distance from ``source``
    after exactly ``n_rounds`` Bellman-Ford relaxations; vertices not
    yet reached are absent. Edge schema (src, dst, w), non-negative
    integer weights.

    Fixed rounds rather than convergence-test rounds: ``n_rounds``
    bounds the hop count of any shortest path found, the result after
    r rounds is EXACTLY "min weight over paths of ≤ r hops" — a
    well-defined contract an unrolled oracle replays verbatim (the
    pagerank/kmeans pattern) — and integer mins are order-exact, so
    the hash check needs no tolerance. Per round: one map-side-
    combined min-aggregate shuffle on dst + an outer merge with the
    previous frontier, ``localCheckpoint`` to cut the iterative
    lineage.
    """
    e = (
        edges.select("src", "dst", F.col("w").cast("long").alias("w"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    # a local relation: no lineage to cut, so the seed needs no pin
    dist = local_frame(e.sparkSession, [(source, 0)], "id LONG, dist LONG")
    for _ in range(n_rounds):
        relaxed = (
            e.join(dist, e["src"] == dist["id"])
            .select(e["dst"].alias("id"), (F.col("dist") + F.col("w")).alias("_d"))
            .groupBy("id")
            .agg(F.min("_d").alias("_d"))
        )
        dist = (
            dist.join(relaxed, "id", "full_outer")
            .select(
                "id",
                F.least(
                    F.coalesce("dist", F.lit(2**62)),
                    F.coalesce("_d", F.lit(2**62)),
                ).alias("dist"),
            )
            .localCheckpoint(eager=True)
        )
    return dist


def q_graph_sssp(spark, sf_dir: str) -> DataFrame:
    """Shortest quantity-weighted paths from order 0 across the bounded
    co-purchase graph (order↔part bipartite edges weighted by the
    line's quantity — "fewest units moved" routing). 8 exact-integer
    Bellman-Ford rounds, hash-checked against the unrolled-rounds
    oracle."""
    from bigdatagenomic_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    fwd = li.select(
        F.col("l_orderkey").alias("src"),
        (F.col("l_partkey") + F.lit(1_000_000)).alias("dst"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    return sssp_bellman_ford(edges, source=0).orderBy("id")


def _sssp_oracle_sql(source: int = 0, n_rounds: int = SSSP_ROUNDS) -> str:
    """Unrolled Bellman-Ford replay, MATERIALIZED per round (each
    d{r} is referenced twice — the b453be9 DuckDB CTE-inlining
    gotcha)."""
    parts = [
        f"""
  e AS MATERIALIZED (
    SELECT src, dst, CAST(min(w) AS BIGINT) AS w FROM (
      SELECT l_orderkey AS src, l_partkey + 1000000 AS dst,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem WHERE l_orderkey < 200
      UNION ALL
      SELECT l_partkey + 1000000 AS src, l_orderkey AS dst,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem WHERE l_orderkey < 200)
    GROUP BY src, dst),
  d0 AS MATERIALIZED (SELECT CAST({source} AS BIGINT) AS id,
                             CAST(0 AS BIGINT) AS dist)"""
    ]
    for r in range(1, n_rounds + 1):
        parts.append(f"""
  d{r} AS MATERIALIZED (
    SELECT id, CAST(min(dist) AS BIGINT) AS dist FROM (
      SELECT id, dist FROM d{r - 1}
      UNION ALL
      SELECT e.dst AS id, d.dist + e.w AS dist
      FROM d{r - 1} d JOIN e ON e.src = d.id)
    GROUP BY id)""")
    return (
        "WITH" + ",".join(parts)
        + f"""
SELECT id, dist FROM d{n_rounds} ORDER BY id"""
    )


# --------------------------------------------------------------------------
# tip clipping — short dead-end chain detection (assembly graph cleanup)
# --------------------------------------------------------------------------
TIP_MAX_LEN = 10  # max nodes a dead-end chain may have and still be a tip
                  # (Velvet/SPAdes clip at ~2k bases; 2k/(k-1)-mer ~ 10 @ k=5)


def tip_unitigs(edges: DataFrame, tip_len: int = TIP_MAX_LEN) -> DataFrame:
    """Detect the TIPS of a de Bruijn graph — short dead-end chains
    hanging off a junction, the sequencing-error artifacts an assembler
    clips before contig output (Velvet "tip clipping" / SPAdes tip
    removal; the reference's overlap pipeline assumes clean reads,
    assembly_final.cpp:155-182 only invalidates by degree — this is
    the error-model cleanup its real-data successor runs first).

    Contract: a chain (PATH unitig of the unambiguous subgraph, in
    chain_paths order) is a tip iff EXACTLY ONE of its ends dangles in
    the FULL graph — head with no incoming edge anywhere, or tail with
    no outgoing edge anywhere — and it has at most ``tip_len`` nodes.
    Chains dangling at BOTH ends are isolated contigs (clipping them
    would delete real sequence), chains dangling at NEITHER end are
    internal, and cycles have no dangling end; none of those are tips.

    Scale shape: chain_paths orders every chain with O(log depth)
    pointer-doubling self-joins; the per-chain summary is one (root)
    hash aggregate with max_by, and the dangling flags are two left
    joins against the distinct src/dst key sets — everything keyed on
    vertex ids, nothing quadratic in the graph.

    Returns (unitig_id, n_nodes, tip_end in {'head','tail'}).
    """
    e = edges.select("src", "dst").distinct()
    chains = (
        chain_paths(e)
        .groupBy("root")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.max_by("node", "depth").alias("tail"),
        )
    )
    has_in = (
        e.select(F.col("dst").alias("root")).distinct().withColumn("hi", F.lit(1))
    )
    has_out = (
        e.select(F.col("src").alias("tail")).distinct().withColumn("ho", F.lit(1))
    )
    flagged = (
        chains.join(has_in, "root", "left")
        .join(has_out, "tail", "left")
        .select(
            F.col("root").alias("unitig_id"),
            "n_nodes",
            F.col("hi").isNull().alias("head_dangling"),
            F.col("ho").isNull().alias("tail_dangling"),
        )
    )
    return flagged.where(
        (F.col("head_dangling") != F.col("tail_dangling"))
        & (F.col("n_nodes") <= tip_len)
    ).select(
        "unitig_id",
        "n_nodes",
        F.when(F.col("head_dangling"), F.lit("head"))
        .otherwise(F.lit("tail"))
        .alias("tip_end"),
    )


# ---------------------------------------------------------------------------
# personalized PageRank (topic-sensitive teleport)
# ---------------------------------------------------------------------------

PPR_N_SOURCES = 5


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    n_iter: int = 8,
    damping: float = 0.85,
) -> DataFrame:
    """(id, rank) — PageRank with the teleport vector concentrated on
    ``sources`` (topic-sensitive PageRank, Haveliwala 2002): random
    walks restart uniformly over the source set instead of the whole
    vertex set, so rank measures proximity TO the sources. Total mass
    is 1; dangling mass teleports back to the sources.

    Same superstep economics as :func:`pagerank` — per iteration one
    message-aggregation shuffle, a 1-row broadcast for the dangling
    mass, ``localCheckpoint`` to cut lineage. The personalization
    vector rides as a column on the (checkpointed) vertex frame, so the
    loop body is identical work to the uniform variant.
    """
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    srcs = sources.select("id").distinct()
    ns = srcs.agg(F.count("*").cast("double").alias("ns"))
    vp = (
        verts.join(srcs.withColumn("_s", F.lit(1)), "id", "left")
        .crossJoin(F.broadcast(ns))
        .select(
            "id",
            F.when(F.col("_s").isNotNull(), F.lit(1.0) / F.col("ns"))
            .otherwise(F.lit(0.0))
            .alias("p"),
        )
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_degree")
    )
    contrib_edges = (
        edges.join(deg, edges["src"] == deg["id"])
        .select("src", "dst", "out_degree")
        .localCheckpoint(eager=True)
    )
    ranks = vp.select("id", F.col("p").alias("rank"))
    for _ in range(n_iter):
        msgs = (
            contrib_edges.join(ranks, contrib_edges["src"] == ranks["id"])
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("out_degree")).alias("_msg"),
            )
            .groupBy("id")
            .agg(F.sum("_msg").alias("recv"))
        )
        dangling = ranks.join(deg.select("id"), "id", "left_anti").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass")
        )
        ranks = (
            vp.join(msgs, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit(1.0 - damping) * F.col("p")
                    + F.lit(damping)
                    * (
                        F.coalesce("recv", F.lit(0.0))
                        + F.col("dmass") * F.col("p")
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def q_graph_ppr(spark, sf_dir: str) -> DataFrame:
    """Personalized PageRank over the same bounded customer→customer
    order graph as q_graph_pagerank, teleporting to the PPR_N_SOURCES
    smallest vertex ids. Fixed-iteration → hash-checked against a
    loop-unrolled CTE oracle."""
    from bigdatagenomic_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 500)
    nxt = o.select(
        F.col("o_orderkey").alias("k"), F.col("o_custkey").alias("src")
    ).join(
        o.select(
            (F.col("o_orderkey") - 1).alias("k"), F.col("o_custkey").alias("dst")
        ),
        "k",
    )
    edges = nxt.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    srcs = verts.orderBy("id").limit(PPR_N_SOURCES)
    pr = personalized_pagerank(edges, srcs, n_iter=8)
    return pr.select(
        "id", (F.floor(F.col("rank") * 10000 + F.lit(0.5)) / 10000).alias("rank")
    ).orderBy("id")


def _ppr_oracle_sql(n_iter: int = 8, damping: float = 0.85) -> str:
    """Loop-unrolled personalized-PageRank oracle (one CTE per power
    iteration, same replay pattern as _pagerank_oracle_sql)."""
    base = f"""
  o AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey < 500),
  nxt AS (SELECT a.o_custkey AS src, b.o_custkey AS dst
          FROM o a JOIN o b ON b.o_orderkey = a.o_orderkey + 1),
  edges AS (SELECT DISTINCT src, dst FROM nxt WHERE src <> dst),
  verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
  srcs AS (SELECT id FROM verts ORDER BY id LIMIT {PPR_N_SOURCES}),
  ns AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM srcs),
  vp AS MATERIALIZED (
    SELECT v.id,
           CASE WHEN s.id IS NOT NULL THEN 1.0 / ns.ns ELSE 0.0 END AS p
    FROM verts v CROSS JOIN ns LEFT JOIN srcs s ON v.id = s.id),
  deg AS (SELECT src AS id, count(*) AS out_degree FROM edges GROUP BY src),
  contrib AS (SELECT e.src, e.dst, d.out_degree
              FROM edges e JOIN deg d ON e.src = d.id),
  r0 AS (SELECT id, p AS rank FROM vp)"""
    steps = []
    for k in range(1, n_iter + 1):
        steps.append(f"""
  r{k} AS MATERIALIZED (
    SELECT vp.id,
           {1.0 - damping} * vp.p
             + {damping} * (coalesce(m.recv, 0.0) + d.dmass * vp.p) AS rank
    FROM vp
    CROSS JOIN (SELECT coalesce(sum(rank), 0.0) AS dmass FROM r{k - 1}
                WHERE id NOT IN (SELECT id FROM deg)) d
    LEFT JOIN (SELECT c.dst AS id, sum(r.rank / c.out_degree) AS recv
               FROM contrib c JOIN r{k - 1} r ON c.src = r.id
               GROUP BY c.dst) m ON vp.id = m.id)""")
    return (
        "WITH" + base + "," + ",".join(steps)
        + f"""
SELECT id, floor(rank * 10000 + 0.5) / 10000 AS rank
FROM r{n_iter} ORDER BY id"""
    )


Q_GRAPH_PPR_SQL = _ppr_oracle_sql()


# ---------------------------------------------------------------------------
# common-neighbor link prediction
# ---------------------------------------------------------------------------

LINKPRED_MAX_POSTING = 30  # drop hub parts shared by more orders


def q_graph_linkpred(spark, sf_dir: str) -> DataFrame:
    """Jaccard link prediction over the bounded bipartite order—part
    graph: score order pairs at distance 2 by the Jaccard of their
    part neighborhoods — the classic common-neighbors recommender
    (predict a link where neighborhoods overlap).

    Scale shape is the winnow/minimizer posting-cap pattern: candidate
    pairs come from an equi-join on the shared part key, and HUB parts
    (posting lists longer than LINKPRED_MAX_POSTING) are dropped BEFORE
    the wedge join — the quadratic fan-out of a power-law hub never
    materializes, exactly like minimizer_overlaps' high-frequency
    mask. Degrees are computed over the same capped edge set so the
    score stays self-consistent."""
    from bigdatagenomic_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    edges = li.select(
        F.col("l_orderkey").alias("id"), F.col("l_partkey").alias("p")
    ).distinct()
    keep = (
        edges.groupBy("p")
        .agg(F.count("*").alias("np"))
        .where(F.col("np") <= LINKPRED_MAX_POSTING)
        .select("p")
    )
    kept = edges.join(keep, "p", "left_semi")
    deg = kept.groupBy("id").agg(F.count("*").alias("d"))
    a = kept.select(F.col("id").alias("a_id"), "p")
    b = kept.select(F.col("id").alias("b_id"), "p")
    common = (
        a.join(b, "p")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(deg.select(F.col("id").alias("a_id"), F.col("d").alias("da")), "a_id")
        .join(deg.select(F.col("id").alias("b_id"), F.col("d").alias("db")), "b_id")
        .select(
            "a_id",
            "b_id",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common")
                / (F.col("da") + F.col("db") - F.col("n_common")),
                4,
            ).alias("jacc"),
        )
        .orderBy("a_id", "b_id")
    )


Q_GRAPH_LINKPRED_SQL = f"""
WITH edges AS (
  SELECT DISTINCT l_orderkey AS id, l_partkey AS p
  FROM lineitem WHERE l_orderkey < 200
), keep AS (
  SELECT p FROM edges GROUP BY p
  HAVING count(*) <= {LINKPRED_MAX_POSTING}
), kept AS (
  SELECT e.id, e.p FROM edges e JOIN keep k ON e.p = k.p
), deg AS (
  SELECT id, count(*) AS d FROM kept GROUP BY id
), common AS (
  SELECT a.id AS a_id, b.id AS b_id, count(*) AS n_common
  FROM kept a JOIN kept b ON a.p = b.p AND a.id < b.id
  GROUP BY 1, 2
)
SELECT c.a_id, c.b_id, CAST(c.n_common AS BIGINT) AS n_common,
       round(c.n_common / CAST(da.d + db.d - c.n_common AS DOUBLE), 4) AS jacc
FROM common c
JOIN deg da ON c.a_id = da.id
JOIN deg db ON c.b_id = db.id
ORDER BY c.a_id, c.b_id
"""


# ---------------------------------------------------------------------------
# GNN-style neighborhood feature aggregation (2-hop mean propagation)
# ---------------------------------------------------------------------------

NEIGHBOR_AGG_MAX_ORDERKEY = 2000  # bounded deterministic graph slice


def q_graph_neighbor_agg(spark, sf_dir: str) -> DataFrame:
    """Two-layer GraphSAGE-mean-style feature propagation over the
    customer co-order graph: layer 1 aggregates each vertex's neighbor
    account balances, layer 2 aggregates the neighbors' layer-1
    aggregates — the feature-engineering primitive GNN pipelines
    precompute at corpus scale (2-hop "social proof" features).

    Integer-exact by construction: the vertex feature is the balance
    in CENTS (BIGINT), every layer emits (sum, count) pairs — long
    addition is order-independent — and the mean is published as the
    truncated ``1000*sum div weight`` milli-value; no float aggregate
    crosses the engine boundary.

    Scale shape: each layer is ONE aggregateMessages superstep (edge
    join + map-side-combined sum on the vertex key) — the exact GAS
    gather of the reference (assembly_final.cpp:264-272) with a narrow
    (id, sum, cnt) message, never the neighborhood itself; 2 layers =
    2 shuffles on vertex id regardless of corpus size.
    """
    from bigdatagenomic_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < NEIGHBOR_AGG_MAX_ORDERKEY
    )
    nxt = o.select(
        F.col("o_orderkey").alias("k"), F.col("o_custkey").alias("src")
    ).join(
        o.select((F.col("o_orderkey") - 1).alias("k"), F.col("o_custkey").alias("dst")),
        "k",
    )
    directed = nxt.select("src", "dst").where(F.col("src") != F.col("dst"))
    # undirected neighbor SET: both directions, deduped
    nbrs = (
        directed.unionByName(
            directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("feat_cents"),
    )
    # layer 1: gather neighbor features
    h1 = (
        nbrs.join(cust, nbrs["dst"] == cust["id"])
        .groupBy(F.col("src").alias("id"))
        .agg(
            F.sum("feat_cents").cast("long").alias("h1_sum"),
            F.count("*").cast("long").alias("deg"),
        )
    )
    # layer 2: gather neighbor (h1_sum, deg) pairs
    h2 = (
        nbrs.join(h1, nbrs["dst"] == h1["id"])
        .groupBy(F.col("src").alias("id"))
        .agg(
            F.sum("h1_sum").cast("long").alias("h2_sum"),
            F.sum("deg").cast("long").alias("h2_wt"),
        )
    )
    return (
        h1.join(h2, "id", "left")
        .select(
            "id",
            "deg",
            "h1_sum",
            F.expr("1000 * h1_sum div deg").alias("h1_milli"),
            F.coalesce("h2_sum", F.lit(0)).alias("h2_sum"),
            F.coalesce("h2_wt", F.lit(0)).alias("h2_wt"),
            F.coalesce(F.expr("1000 * h2_sum div h2_wt"), F.lit(0)).alias(
                "h2_milli"
            ),
        )
        .orderBy("id")
    )


Q_GRAPH_NEIGHBOR_AGG_SQL = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey FROM orders
  WHERE o_orderkey < {NEIGHBOR_AGG_MAX_ORDERKEY}),
nxt AS (
  SELECT a.o_custkey AS src, b.o_custkey AS dst
  FROM o a JOIN o b ON b.o_orderkey = a.o_orderkey + 1
  WHERE a.o_custkey <> b.o_custkey),
nbrs AS (
  SELECT DISTINCT src, dst FROM
    (SELECT src, dst FROM nxt UNION ALL SELECT dst, src FROM nxt)),
cust AS (
  SELECT c_custkey AS id, CAST(round(c_acctbal * 100) AS BIGINT) AS feat_cents
  FROM customer),
h1 AS (
  SELECT n.src AS id, CAST(sum(c.feat_cents) AS BIGINT) AS h1_sum,
         CAST(count(*) AS BIGINT) AS deg
  FROM nbrs n JOIN cust c ON n.dst = c.id GROUP BY n.src),
h2 AS (
  SELECT n.src AS id, CAST(sum(h.h1_sum) AS BIGINT) AS h2_sum,
         CAST(sum(h.deg) AS BIGINT) AS h2_wt
  FROM nbrs n JOIN h1 h ON n.dst = h.id GROUP BY n.src)
SELECT h1.id, h1.deg, h1.h1_sum,
       1000 * h1.h1_sum // h1.deg AS h1_milli,
       coalesce(h2.h2_sum, 0) AS h2_sum,
       coalesce(h2.h2_wt, 0) AS h2_wt,
       coalesce(1000 * h2.h2_sum // h2.h2_wt, 0) AS h2_milli
FROM h1 LEFT JOIN h2 ON h1.id = h2.id
ORDER BY h1.id
"""


# ---------------------------------------------------------------------------
# Deterministic hash-seeded random walks (node2vec-style sampling)
# ---------------------------------------------------------------------------

WALK_N_STARTS = 50
WALK_STEPS = 3


def q_graph_walks(spark, sf_dir: str) -> DataFrame:
    """Fixed-length graph walks from a bounded start set — the
    node2vec/DeepWalk sampling primitive that feeds embedding trainers.
    The next hop from ``v`` at step ``s`` is the out-neighbor
    minimizing ``md5(s:src:dst)`` — hash-argmin instead of an RNG, the
    codebase's standard derandomization (q_x_sample_hash, corpus_mix):
    the walk distribution is uniform-ish over neighbors, reproducible
    across engines and retries, and each step is pure relational
    algebra. Dead ends carry NULL for the remaining positions (walks
    never restart).

    Scale shape: one equi-join (frontier x out-edges on the current
    vertex) + one map-side-combined min-struct aggregate per step —
    the frontier row count never exceeds the walker count, so cost is
    O(steps) narrow supersteps, not O(paths); at a billion walkers the
    shuffles stay (walk_id, vertex)-wide.
    """
    from bigdatagenomic_spark.functions import md5_long
    from bigdatagenomic_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < NEIGHBOR_AGG_MAX_ORDERKEY
    )
    nxt = o.select(
        F.col("o_orderkey").alias("k"), F.col("o_custkey").alias("src")
    ).join(
        o.select((F.col("o_orderkey") - 1).alias("k"), F.col("o_custkey").alias("dst")),
        "k",
    )
    edges = nxt.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    starts = (
        edges.select("src")
        .distinct()
        .orderBy("src")
        .limit(WALK_N_STARTS)
        .select(F.col("src").alias("walk_id"), F.col("src").alias("v0"))
    )
    walks = starts
    for s in range(1, WALK_STEPS + 1):
        cur = f"v{s - 1}"
        h = md5_long(
            F.concat_ws(":", F.lit(s), F.col("src"), F.col("dst"))
        )
        pick = (
            walks.join(edges, walks[cur] == edges["src"])
            .groupBy("walk_id")
            .agg(F.min(F.struct(h.alias("h"), F.col("dst").alias("d")))["d"].alias(f"v{s}"))
        )
        walks = walks.join(pick, "walk_id", "left")
    return walks.orderBy("walk_id")


def _walks_oracle_sql() -> str:
    base = f"""
  o AS (SELECT o_orderkey, o_custkey FROM orders
        WHERE o_orderkey < {NEIGHBOR_AGG_MAX_ORDERKEY}),
  edges AS (SELECT DISTINCT a.o_custkey AS src, b.o_custkey AS dst
            FROM o a JOIN o b ON b.o_orderkey = a.o_orderkey + 1
            WHERE a.o_custkey <> b.o_custkey),
  w0 AS (SELECT src AS walk_id, src AS v0 FROM
           (SELECT DISTINCT src FROM edges ORDER BY src
            LIMIT {WALK_N_STARTS}))"""
    steps = []
    for s in range(1, WALK_STEPS + 1):
        steps.append(f"""
  p{s} AS (
    SELECT walk_id, dst AS v{s} FROM (
      SELECT w.walk_id, e.dst,
             row_number() OVER (
               PARTITION BY w.walk_id
               ORDER BY CAST('0x' || substr(md5(concat_ws(':', {s}, e.src,
                         e.dst)), 1, 15) AS BIGINT), e.dst) AS rn
      FROM w{s - 1} w JOIN edges e ON w.v{s - 1} = e.src)
    WHERE rn = 1),
  w{s} AS (
    SELECT w.*, p.v{s} FROM w{s - 1} w LEFT JOIN p{s} p USING (walk_id))""")
    return (
        "WITH" + base + "," + ",".join(steps)
        + f"""
SELECT * FROM w{WALK_STEPS} ORDER BY walk_id"""
    )


Q_GRAPH_WALKS_SQL = _walks_oracle_sql()


# ---------------------------------------------------------------------------
# Directed 3-motif census (feed-forward vs cycle triangles)
# ---------------------------------------------------------------------------

def q_graph_motifs(spark, sf_dir: str) -> DataFrame:
    """Directed triad census over the bounded customer co-order graph:
    wedges (a→b→c), feed-forward closures (plus a→c) and directed
    3-cycles (plus c→a) — the Milo et al. network-motif counts that
    separate hierarchy-shaped graphs (feed-forward-heavy) from
    feedback-shaped ones, and the directed extension of
    q_graph_triangles.

    Plan shape: wedges are ONE self-equi-join on the pivot vertex,
    closures one more equi-join on the wedge's (a, c) endpoints — the
    standard edge-iterator; each cycle is found at all 3 rotations, so
    the count divides by 3 (exact: the filter a<b keeps nothing here
    because rotations are distinct edges; integer div is safe because
    the raw count is a multiple of 3). Against a power-law graph the
    wedge join takes the same posting-cap/degree-orientation medicine
    as triangles/linkpred; the bounded slice keeps the registered
    entry driver-checkable.
    """
    from bigdatagenomic_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < NEIGHBOR_AGG_MAX_ORDERKEY
    )
    nxt = o.select(
        F.col("o_orderkey").alias("k"), F.col("o_custkey").alias("src")
    ).join(
        o.select((F.col("o_orderkey") - 1).alias("k"), F.col("o_custkey").alias("dst")),
        "k",
    )
    e = nxt.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    wedges = e1.join(e2, "b").where(F.col("a") != F.col("c"))
    closing = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    ffl = wedges.join(closing, ["a", "c"], "left_semi")
    back = e.select(F.col("dst").alias("a"), F.col("src").alias("c"))
    cyc = wedges.join(back, ["a", "c"], "left_semi")
    n_wedges = wedges.agg(F.count("*").cast("long").alias("n_wedges"))
    n_ffl = ffl.agg(F.count("*").cast("long").alias("n_ffl"))
    n_cyc = cyc.agg(
        F.expr("count(*) div 3").cast("long").alias("n_cycles")
    )
    return n_wedges.crossJoin(F.broadcast(n_ffl)).crossJoin(
        F.broadcast(n_cyc)
    )


Q_GRAPH_MOTIFS_SQL = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey FROM orders
  WHERE o_orderkey < {NEIGHBOR_AGG_MAX_ORDERKEY}),
e AS (
  SELECT DISTINCT a.o_custkey AS src, b.o_custkey AS dst
  FROM o a JOIN o b ON b.o_orderkey = a.o_orderkey + 1
  WHERE a.o_custkey <> b.o_custkey),
wedges AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM e e1 JOIN e e2 ON e1.dst = e2.src
  WHERE e1.src <> e2.dst),
nw AS (SELECT CAST(count(*) AS BIGINT) AS n_wedges FROM wedges),
nf AS (SELECT CAST(count(*) AS BIGINT) AS n_ffl FROM wedges w
       WHERE EXISTS (SELECT 1 FROM e WHERE e.src = w.a AND e.dst = w.c)),
nc AS (SELECT CAST(count(*) // 3 AS BIGINT) AS n_cycles FROM wedges w
       WHERE EXISTS (SELECT 1 FROM e WHERE e.src = w.c AND e.dst = w.a))
SELECT nw.n_wedges, nf.n_ffl, nc.n_cycles
FROM nw CROSS JOIN nf CROSS JOIN nc
"""


# ---------------------------------------------------------------------------
# Katz centrality (fixed-round, exact-integer variant)
# ---------------------------------------------------------------------------

KATZ_ROUNDS = 6


def q_graph_katz(spark, sf_dir: str) -> DataFrame:
    """Katz centrality over the bounded customer co-order graph,
    truncated at KATZ_ROUNDS with attenuation alpha = 1/2 — the
    walk-counting centrality between degree (local) and eigenvector /
    PageRank (global): ``c(v) = sum_k alpha^k · #paths of length k
    ending at v``.

    Exact-integer by the same device as q_graph_hits: path counts are
    BIGINTs (order-independent sums), and the alpha weighting is
    scaled by 2^KATZ_ROUNDS so every term is the integer
    ``p_k(v) * 2^(K-k)`` — ``katz_num`` is the centrality times 2^K,
    hash-exact against the loop-unrolled oracle with no float
    anywhere.

    Scale shape: each round is ONE aggregateMessages superstep (edge
    join on the sender + map-side-combined sum on the receiver) over a
    narrow (id, count) frame, localCheckpointed to keep lineage flat;
    the K round frames then union into one final sum — K+1 shuffles
    total, independent of graph size.
    """
    from bigdatagenomic_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < NEIGHBOR_AGG_MAX_ORDERKEY
    )
    nxt = o.select(
        F.col("o_orderkey").alias("k"), F.col("o_custkey").alias("src")
    ).join(
        o.select((F.col("o_orderkey") - 1).alias("k"), F.col("o_custkey").alias("dst")),
        "k",
    )
    edges = nxt.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    p = verts.select("id", F.lit(1).cast("long").alias("p"))
    terms = []
    for k in range(1, KATZ_ROUNDS + 1):
        p = (
            edges.join(p, edges["src"] == p["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("p").cast("long").alias("p"))
            .localCheckpoint()
        )
        w = 1 << (KATZ_ROUNDS - k)
        terms.append(p.select("id", (F.col("p") * w).alias("t")))
    allt = terms[0]
    for t in terms[1:]:
        allt = allt.unionByName(t)
    katz = allt.groupBy("id").agg(F.sum("t").cast("long").alias("katz_num"))
    return (
        verts.join(katz, "id", "left")
        .select("id", F.coalesce("katz_num", F.lit(0)).alias("katz_num"))
        .orderBy("id")
    )


def _katz_oracle_sql() -> str:
    base = f"""
  o AS (SELECT o_orderkey, o_custkey FROM orders
        WHERE o_orderkey < {NEIGHBOR_AGG_MAX_ORDERKEY}),
  edges AS (SELECT DISTINCT a.o_custkey AS src, b.o_custkey AS dst
            FROM o a JOIN o b ON b.o_orderkey = a.o_orderkey + 1
            WHERE a.o_custkey <> b.o_custkey),
  verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
  p0 AS (SELECT id, CAST(1 AS BIGINT) AS p FROM verts)"""
    steps = []
    for k in range(1, KATZ_ROUNDS + 1):
        steps.append(f"""
  p{k} AS MATERIALIZED (
    SELECT e.dst AS id, CAST(sum(q.p) AS BIGINT) AS p
    FROM edges e JOIN p{k - 1} q ON e.src = q.id GROUP BY e.dst)""")
    weights = " + ".join(
        f"coalesce(p{k}.p, 0) * {1 << (KATZ_ROUNDS - k)}"
        for k in range(1, KATZ_ROUNDS + 1)
    )
    joins = "\n".join(
        f"LEFT JOIN p{k} ON v.id = p{k}.id"
        for k in range(1, KATZ_ROUNDS + 1)
    )
    return (
        "WITH" + base + "," + ",".join(steps)
        + f"""
SELECT v.id, CAST({weights} AS BIGINT) AS katz_num
FROM verts v
{joins}
ORDER BY v.id"""
    )


Q_GRAPH_KATZ_SQL = _katz_oracle_sql()


# ---------------------------------------------------------------------------
# Local clustering coefficient (per-vertex triangle density)
# ---------------------------------------------------------------------------

def q_graph_clustering_coeff(spark, sf_dir: str) -> DataFrame:
    """Per-vertex local clustering coefficient over the undirected
    customer co-order graph: ``cc(v) = 2·tri(v) / (deg(v)·(deg(v)-1))``
    — the Watts-Strogatz small-world statistic, and the per-vertex
    refinement of q_graph_triangles' global census (community-ish
    vertices score high, bridge/hub vertices low).

    Integer-exact: emits (deg, n_tri, cc_micro) with
    ``cc_micro = 2·tri·1e6 div (deg·(deg-1))`` — no float crosses the
    engine boundary. Plan: neighbor pairs at v come from ONE
    self-equi-join of the neighbor table on v (u < w kills mirror
    duplicates), closed by an equi-join against the undirected edge
    set; on a power-law graph the wedge join takes triangle_count's
    degree-orientation / posting-cap medicine — the bounded slice
    keeps the registered entry driver-checkable.
    """
    from bigdatagenomic_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < NEIGHBOR_AGG_MAX_ORDERKEY
    )
    nxt = o.select(
        F.col("o_orderkey").alias("k"), F.col("o_custkey").alias("src")
    ).join(
        o.select((F.col("o_orderkey") - 1).alias("k"), F.col("o_custkey").alias("dst")),
        "k",
    )
    d = nxt.select("src", "dst").where(F.col("src") != F.col("dst"))
    und = (
        d.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    nbr = und.select(F.col("a").alias("v"), F.col("b").alias("u")).unionByName(
        und.select(F.col("b").alias("v"), F.col("a").alias("u"))
    )
    deg = nbr.groupBy("v").agg(F.count("*").cast("long").alias("deg"))
    l = nbr.select("v", F.col("u").alias("u1"))
    r = nbr.select("v", F.col("u").alias("u2"))
    pairs = l.join(r, "v").where(F.col("u1") < F.col("u2"))
    closed = pairs.join(
        und,
        (pairs["u1"] == und["a"]) & (pairs["u2"] == und["b"]),
        "left_semi",
    )
    tri = closed.groupBy("v").agg(F.count("*").cast("long").alias("n_tri"))
    return (
        deg.join(tri, "v", "left")
        .select(
            F.col("v").alias("id"),
            "deg",
            F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
            F.when(
                F.col("deg") >= 2,
                F.expr(
                    "2 * coalesce(n_tri, 0) * 1000000 div (deg * (deg - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("cc_micro"),
        )
        .orderBy("id")
    )


Q_GRAPH_CLUSTERING_COEFF_SQL = f"""
WITH o AS (
  SELECT o_orderkey, o_custkey FROM orders
  WHERE o_orderkey < {NEIGHBOR_AGG_MAX_ORDERKEY}),
d AS (
  SELECT a.o_custkey AS src, b.o_custkey AS dst
  FROM o a JOIN o b ON b.o_orderkey = a.o_orderkey + 1
  WHERE a.o_custkey <> b.o_custkey),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM d),
nbr AS (
  SELECT a AS v, b AS u FROM und UNION ALL SELECT b, a FROM und),
deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM nbr GROUP BY v),
tri AS (
  SELECT l.v, CAST(count(*) AS BIGINT) AS n_tri
  FROM nbr l JOIN nbr r ON l.v = r.v AND l.u < r.u
  WHERE EXISTS (SELECT 1 FROM und WHERE und.a = l.u AND und.b = r.u)
  GROUP BY l.v)
SELECT deg.v AS id, deg.deg,
       coalesce(tri.n_tri, 0) AS n_tri,
       CASE WHEN deg.deg >= 2
            THEN 2 * coalesce(tri.n_tri, 0) * 1000000
                 // (deg.deg * (deg.deg - 1))
            ELSE 0 END AS cc_micro
FROM deg LEFT JOIN tri ON deg.v = tri.v
ORDER BY id
"""


# ---------------------------------------------------------------------------
# Degree assortativity (round 11)
# ---------------------------------------------------------------------------

def q_graph_degree_assortativity(spark, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of the bounded
    co-purchase graph: the Pearson correlation of endpoint degrees
    over the edge list — positive means hubs attach to hubs (social
    shape), negative means hub-and-spoke (dependency/infrastructure
    shape); the one-number summary that says WHICH sampling and
    partitioning pathologies (superhub shuffle skew, LSH bucket blow-
    up) a graph will exhibit before any algorithm runs.

    Same derived graph as q_graph_degree_hist (l_orderkey < 200
    candidate slice — the bounded-contract device every graph-family
    op uses). Undirected symmetrization: each edge contributes both
    (deg_a, deg_b) and (deg_b, deg_a), folded algebraically into the
    moment sums (sx = Σ(da+db), sxy = Σ 2·da·db, sxx = Σ(da²+db²),
    m = 2·|E|) — no doubled edge list materialized. The correlation is
    assembled from exact BIGINT moments behind the CASE zero-variance
    guard (NULL for regular graphs, matching DuckDB corr semantics and
    ANSI discipline — the q_x_rolling_corr pattern); the moments are
    one map-side-combinable aggregate after the two degree joins
    (shuffle equi-joins on vertex id, broadcast-eligible at this
    slice, hash-partitioned at scale).
    """
    from bigdatagenomic_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    items = li.select("l_orderkey", "l_partkey").distinct()
    o1 = items.select(F.col("l_orderkey").alias("src"), "l_partkey")
    o2 = items.select(F.col("l_orderkey").alias("dst"), "l_partkey")
    und = (
        o1.join(o2, "l_partkey")
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    deg = (
        und.select(F.col("src").alias("id"))
        .unionByName(und.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    da, db = F.col("deg_a"), F.col("deg_b")
    edges = (
        und.join(deg.select(F.col("id").alias("src"), F.col("degree").alias("deg_a")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("degree").alias("deg_b")), "dst")
    )
    m = edges.agg(
        F.count("*").cast("long").alias("n_edges"),
        F.sum(da + db).cast("long").alias("_sx"),
        F.sum(F.lit(2) * da * db).cast("long").alias("_sxy"),
        F.sum(da * da + db * db).cast("long").alias("_sxx"),
    )
    n2 = F.lit(2) * F.col("n_edges")
    cov = n2 * F.col("_sxy") - F.col("_sx") * F.col("_sx")
    var = n2 * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    r = F.when(
        var > 0,
        F.round(cov.cast("double") / var.cast("double"), 6),
    )
    return m.select("n_edges", F.col("_sx").alias("sum_deg"), r.alias("assortativity"))


Q_GRAPH_DEGREE_ASSORTATIVITY_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey < 200
), und AS (
  SELECT DISTINCT i.l_orderkey AS src, j.l_orderkey AS dst
  FROM items i JOIN items j
    ON i.l_partkey = j.l_partkey AND i.l_orderkey < j.l_orderkey
), deg AS (
  SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT src AS id FROM und UNION ALL SELECT dst FROM und
  ) GROUP BY id
), edges AS (
  SELECT a.degree AS deg_a, b.degree AS deg_b
  FROM und e
  JOIN deg a ON a.id = e.src
  JOIN deg b ON b.id = e.dst
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges,
         CAST(sum(deg_a + deg_b) AS BIGINT) AS sx,
         CAST(sum(2 * deg_a * deg_b) AS BIGINT) AS sxy,
         CAST(sum(deg_a * deg_a + deg_b * deg_b) AS BIGINT) AS sxx
  FROM edges
)
SELECT n_edges, sx AS sum_deg,
       CASE WHEN 2 * n_edges * sxx - sx * sx > 0
            THEN round(CAST(2 * n_edges * sxy - sx * sx AS DOUBLE)
                       / CAST(2 * n_edges * sxx - sx * sx AS DOUBLE), 6)
       END AS assortativity
FROM mom
"""


# ---------------------------------------------------------------------------
# two-hop (friends-of-friends) reach (round 11)
# ---------------------------------------------------------------------------

def q_graph_two_hop(spark, sf_dir: str) -> DataFrame:
    """Per-vertex two-hop reach over the bounded co-purchase graph:
    degree, the count of distinct nodes at EXACTLY distance 2, and the
    ratio — the neighborhood-growth statistic behind friend-of-friend
    recommendation fan-out sizing and the first empirical read on a
    graph's expansion (reach2 >> deg^2 is impossible, reach2 ~ deg
    means dense clustering, reach2 ~ deg*(avg_deg-1) means tree-like).

    Same derived graph and bounded contract as q_graph_degree_hist
    (l_orderkey < 200). Plan: symmetrized adjacency, one self equi-join
    on the middle vertex (the two-hop path enumeration — bounded by
    sum of deg(mid)^2 over the slice), distinct endpoints, then a
    left-anti join removes direct neighbors so "exactly 2" is honest;
    per-vertex counts are one aggregate. At scale the mid-join is the
    standard superstep shuffle; superhub mids are the known hazard and
    the degree histogram (its sibling op) is the pre-flight check.
    """
    from bigdatagenomic_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    items = li.select("l_orderkey", "l_partkey").distinct()
    o1 = items.select(F.col("l_orderkey").alias("src"), "l_partkey")
    o2 = items.select(F.col("l_orderkey").alias("dst"), "l_partkey")
    und = (
        o1.join(o2, "l_partkey")
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    adj = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = adj.groupBy("src").agg(F.count("*").cast("long").alias("degree"))
    h1 = adj.select(F.col("src").alias("a"), F.col("dst").alias("mid"))
    h2 = adj.select(F.col("src").alias("mid"), F.col("dst").alias("c"))
    two = (
        h1.join(h2, "mid")
        .where(F.col("a") != F.col("c"))
        .select("a", "c")
        .distinct()
    )
    exactly2 = two.join(
        adj.select(F.col("src").alias("a"), F.col("dst").alias("c")),
        ["a", "c"],
        "left_anti",
    )
    reach = exactly2.groupBy("a").agg(F.count("*").cast("long").alias("n_2hop"))
    return (
        deg.join(reach, deg["src"] == reach["a"], "left")
        .select(
            F.col("src").alias("id"),
            "degree",
            F.coalesce("n_2hop", F.lit(0)).cast("long").alias("n_2hop"),
            F.expr(
                "coalesce(n_2hop, CAST(0 AS BIGINT)) * 1000000 div degree"
            ).cast("long").alias("reach_ratio_micro"),
        )
        .orderBy("id")
    )


Q_GRAPH_TWO_HOP_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey < 200),
und AS (
  SELECT DISTINCT a.l_orderkey AS src, b.l_orderkey AS dst
  FROM items a JOIN items b
    ON a.l_partkey = b.l_partkey AND a.l_orderkey < b.l_orderkey),
adj AS (SELECT src, dst FROM und UNION ALL SELECT dst, src FROM und),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY src),
two AS (
  SELECT DISTINCT h1.src AS a, h2.dst AS c
  FROM adj h1 JOIN adj h2 ON h1.dst = h2.src
  WHERE h1.src <> h2.dst),
exactly2 AS (
  SELECT t.a, t.c FROM two t
  WHERE NOT EXISTS (SELECT 1 FROM adj e WHERE e.src = t.a AND e.dst = t.c)),
reach AS (SELECT a, CAST(count(*) AS BIGINT) AS n_2hop FROM exactly2 GROUP BY a)
SELECT d.src AS id, d.degree,
       CAST(coalesce(r.n_2hop, 0) AS BIGINT) AS n_2hop,
       CAST(coalesce(r.n_2hop, 0) * 1000000 // d.degree AS BIGINT)
         AS reach_ratio_micro
FROM deg d LEFT JOIN reach r ON r.a = d.src
ORDER BY id
"""
