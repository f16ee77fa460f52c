"""Coverage queries: embedding-cosine near-dup, LSH-blocked variant,
and duplicate clustering via connected components (the Spark iterative
answer to SQL's recursive CTE — SURVEY §2.2 names recursive CTE as the
one [L] gap, emulated here with an iterative DataFrame loop; the
DuckDB oracle uses WITH RECURSIVE directly, so the two different
mechanisms must converge to identical components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_lens_spark.dedup import embedding as emb_dedup
from etl_lens_spark.operators.partitioning import parallelize_compute
from etl_lens_spark.operators.staging import freeze, stage
from etl_lens_spark.queries import query
from etl_lens_spark.sources.tables import load_table

COSINE_TAU = 0.35
EMB_DIM = 64


@query(
    "dedup_pipeline_keep_list",
    oracle="""
    WITH RECURSIVE norm AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
               list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS toks
        FROM documents
    ),
    exact_edges AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM norm a JOIN norm b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    tok AS (
        SELECT doc_id, len(toks) AS sz, unnest(toks) AS t
        FROM norm WHERE doc_id < 150
    ),
    near_edges AS (
        SELECT a.doc_id AS u, b.doc_id AS v
        FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
        HAVING CAST(COUNT(*) AS DOUBLE) / (a.sz + b.sz - COUNT(*)) >= 0.5
    ),
    edges AS (
        SELECT u, v FROM exact_edges UNION SELECT u, v FROM near_edges
        UNION SELECT v, u FROM exact_edges UNION SELECT v, u FROM near_edges
    ),
    reach(src, node) AS (
        SELECT doc_id, doc_id FROM norm
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT src AS doc_id,
           MIN(node) AS component,
           src = MIN(node) AS keep
    FROM reach
    GROUP BY src
    ORDER BY doc_id
    """,
)
def dedup_pipeline_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data dedup pipeline — the [N] deliverable
    composed from the family's pieces: exact-fingerprint duplicate
    edges (whole corpus) ∪ near-dup edges (exact token-Jaccard >= 0.5,
    bounded to doc_id < 150 so the oracle's quadratic stays fixture-
    sized; at scale this stage is the MinHash-LSH candidate set) →
    connected components (pointer-jumping loop) → keep-list: one
    representative (min doc_id) per component. The oracle rebuilds the
    whole cascade relationally with a WITH RECURSIVE closure."""
    from etl_lens_spark.dedup import minhash as mh
    from etl_lens_spark.dedup.exact import fingerprint

    docs = parallelize_compute(
        load_table(spark, sf_dir, "documents")
    ).select("doc_id", "text")
    fp = docs.withColumn("fp", fingerprint(F.col("text")))
    exact_edges = (
        fp.select(F.col("doc_id").alias("u"), "fp")
        .join(fp.select(F.col("doc_id").alias("v"), "fp"), "fp")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
    )
    near_edges = mh.ngram_jaccard_pairs(
        docs, n=1, min_jaccard=0.5, candidate_filter=F.col("doc_id") < 150
    ).select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    edges = exact_edges.unionByName(near_edges).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    cc = emb_dedup.connected_components(nodes, edges)
    return cc.select(
        F.col("node").alias("doc_id"),
        "component",
        (F.col("node") == F.col("component")).alias("keep"),
    ).orderBy("doc_id")


@query(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])) AS DOUBLE)
               AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.35
    ORDER BY id_a, id_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N] embedding-cosine near-dup pairs, exact plan (all pairs,
    JVM-side zip_with/aggregate dot product). The LSH-blocked scale
    plan is ``dedup_embedding_lsh``; this exact form is the oracle
    anchor. The left (streamed) side of the BNLJ is repartitioned so
    the quadratic scoring stage uses every core — measured 2-3x at
    fixture scale; at real scale the scan itself provides splits."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    return emb_dedup.cosine_pairs(e, COSINE_TAU).orderBy("id_a", "id_b")


@query("dedup_embedding_lsh")
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N] LSH-blocked near-dup pairs (rows-only: banding is an
    approximation, so the contract is recall vs the exact plan —
    asserted in tests/test_graph.py — not hash equality).

    Band geometry note: SRP collision probability per bit is
    1 - angle/pi, so at the test threshold tau=0.35 (69° — far looser
    than a production near-dup threshold of >= 0.9 / 26°) recall needs
    short bucket ids and many bands (4 bits x 16 bands -> ~0.91
    expected recall). At tau=0.9 the same recall needs only ~8 bits x
    4 bands with far stronger pruning — tighter thresholds are
    *cheaper*, which is why this plan holds at 100 TB."""
    e = load_table(spark, sf_dir, "embeddings")
    return emb_dedup.cosine_pairs_lsh(
        e, COSINE_TAU, dim=EMB_DIM, n_bits=4, n_bands=16
    ).orderBy("id_a", "id_b")


@query(
    "dedup_cc_clusters",
    oracle="""
    WITH RECURSIVE
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.35
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION ALL
        SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach(src, node) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT src AS node, MIN(node) AS component
    FROM reach
    GROUP BY src
    ORDER BY node
    """,
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[N] duplicate clustering: connected components of the near-dup
    graph. Spark runs iterative min-label propagation (O(diameter)
    shuffles, lineage truncated per iteration); the oracle runs the
    equivalent WITH RECURSIVE transitive closure. Component id = min
    vec_id in the component; singletons map to themselves."""
    e = parallelize_compute(load_table(spark, sf_dir, "embeddings"))
    edges = emb_dedup.cosine_pairs(e, COSINE_TAU).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    nodes = e.select(F.col("vec_id").alias("node"))
    cc = emb_dedup.connected_components(nodes, edges)
    return cc.orderBy("node")


@query("graph_pagerank_bipartite")
def graph_pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer→supplier purchase graph (edges =
    distinct (c_custkey, l_suppkey) pairs via orders⋈lineitem), run
    with iterate_fixpoint (operators/fixpoint.py) — the general
    iterative-algorithm shape beyond connected components. Fixed
    damping 0.85 and a FIXED 25-round power iteration (not a
    convergence test): deterministic arithmetic lets the numpy
    reference in tests/test_graph.py replay the exact computation,
    and the bound keeps the query's cost predictable at any sf.

    Scale shape per iteration: ONE shuffle join (ranks ⋈ weighted
    edges on src) + ONE groupBy(dst) sum. The 1/out-degree edge
    weights are loop-invariant, so edges⋈outdeg materializes ONCE
    before the loop (recomputing it per round is the classic waste in
    naive PageRank loops); the symmetric edge set guarantees every
    node has inflow, so no per-round left-join against the node list
    is needed either. Lineage is truncated per iteration. Rows-only
    entry — the numpy power-iteration reference in
    tests/test_graph.py is the exactness check."""
    from etl_lens_spark.operators.fixpoint import CHANGED_COL, iterate_fixpoint

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    # undirected bipartite walk: add the reverse edges
    edges = edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    wedges = (
        edges.join(outdeg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("deg")).alias("w"))
        .transform(stage, "wedges")
    )
    nodes = wedges.select(F.col("src").alias("node")).distinct()
    n_nodes = nodes.count()
    init = nodes.withColumn("rank", F.lit(1.0 / n_nodes))

    def step(state):
        nxt = (
            state.join(wedges, state.node == wedges.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    F.lit(0.15 / n_nodes)
                    + F.lit(0.85) * F.sum(F.col("rank") * F.col("w"))
                ).alias("rank")
            )
        )
        return nxt.withColumn(CHANGED_COL, F.lit(True))

    ranks = iterate_fixpoint(init, step, max_iter=25)
    return (
        ranks.filter(F.col("node").startswith("s"))
        .orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(20)
        .select("node", F.round("rank", 9).alias("rank"))
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT a.l_partkey AS s1, b.l_partkey AS s2
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT s1 AS v FROM e UNION ALL SELECT s2 AS v FROM e
      ) GROUP BY v
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
      (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
      (SELECT CAST(COUNT(*) AS BIGINT)
       FROM e e1
       JOIN e e2 ON e1.s2 = e2.s1
       JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2) AS n_triangles
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle + wedge census of the part co-purchase graph (parts
    sharing an order are adjacent) — the graph-analytics staple for
    community structure, here expressed as pure DataFrame joins.

    Scale shape: edges are ORIENTED by key (s1 < s2) so each triangle
    is enumerated exactly once as e1=(a,b) ⋈ e2=(b,c) ⋈ e3=(a,c) —
    the join-materialized path set is the sum over b of
    lower-deg(b)·upper-deg(b), ~4x smaller than the undirected path
    count. At real scale the orientation key should be DEGREE rank,
    not raw id (degree-ordered orientation bounds per-vertex oriented
    out-degree at O(sqrt(m)) — the arboricity bound — taming hub
    skew); key order keeps this fixture's oracle deterministic.
    Wedges come from a degree aggregate, no joins."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("s1"), F.col("b.l_partkey").alias("s2")
        )
        .distinct()
        .transform(stage, "triangle_edges")  # 3 reuses
    )
    deg = (
        e.select(F.col("s1").alias("v"))
        .unionAll(e.select(F.col("s2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    n_edges = e.select(F.count(F.lit(1)).cast("long").alias("n_edges"))
    n_wedges = deg.select(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.s2") == F.col("e2.s1"))
        .join(
            e3,
            (F.col("e3.s1") == F.col("e1.s1"))
            & (F.col("e3.s2") == F.col("e2.s2")),
        )
        .select(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return n_edges.crossJoin(n_wedges).crossJoin(tri)


@query(
    "graph_bfs_hops",
    oracle="""
    WITH RECURSIVE
    base AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
        SELECT src, dst FROM base
        UNION ALL
        SELECT dst AS src, src AS dst FROM base
    ),
    bfs AS (
        SELECT 's0' AS node, 0 AS hops
        UNION
        SELECT e.dst AS node, b.hops + 1 AS hops
        FROM bfs b JOIN edges e ON e.src = b.node
        WHERE b.hops < 4
    )
    SELECT node, CAST(MIN(hops) AS BIGINT) AS hops
    FROM bfs GROUP BY node ORDER BY node
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first shortest hop counts from supplier s0 over the
    bipartite purchase graph (depth-capped at 4) — the unweighted
    shortest-path member of the graph family, next to the closure
    (recursive_cte_org_chart) and CC (dedup_cc_clusters). The oracle
    runs DuckDB's native recursive CTE; Spark runs level-synchronous
    semi-naive BFS — per level ONE frontier⋈edges join and one
    subtract against the seen set, integer hop counts so the result
    is exact. Lineage truncates per level; frontier and seen stay
    node-keyed so each level is a single co-partitioned shuffle."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    base = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
    )
    edges = base.unionAll(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).transform(stage, "edges")
    spark_ = edges.sparkSession
    seen = spark_.createDataFrame([("s0", 0)], "node string, hops int")
    frontier = seen
    for d in range(4):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(seen.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(d + 1))
            .transform(freeze, "bounded loop lineage")
        )
        if nxt.limit(1).count() == 0:
            break
        seen = freeze(seen.unionByName(nxt), "bounded loop lineage")
        frontier = nxt
    return seen.select(
        "node", F.col("hops").cast("long").alias("hops")
    ).orderBy("node")


@query(
    "graph_pagerank_trade",
    oracle="""
    WITH edges_raw AS (
        SELECT cn.n_nationkey AS src, sn.n_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        WHERE cn.n_nationkey <> sn.n_nationkey
        GROUP BY 1, 2
    ),
    outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow
             FROM edges_raw GROUP BY src),
    edges AS (
        SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.ow AS share
        FROM edges_raw e JOIN outw o ON e.src = o.src
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges_raw
              UNION SELECT DISTINCT dst FROM edges_raw),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    it0 AS (SELECT node, 1.0 / (SELECT n FROM n) AS pr FROM nodes),
    it1 AS (
        SELECT nd.node,
               0.15 / (SELECT n FROM n)
                 + 0.85 * COALESCE(SUM(p.pr * e.share), 0) AS pr
        FROM nodes nd
        LEFT JOIN edges e ON e.dst = nd.node
        LEFT JOIN it0 p ON p.node = e.src
        GROUP BY nd.node
    ),
    it2 AS (
        SELECT nd.node,
               0.15 / (SELECT n FROM n)
                 + 0.85 * COALESCE(SUM(p.pr * e.share), 0) AS pr
        FROM nodes nd
        LEFT JOIN edges e ON e.dst = nd.node
        LEFT JOIN it1 p ON p.node = e.src
        GROUP BY nd.node
    ),
    it3 AS (
        SELECT nd.node,
               0.15 / (SELECT n FROM n)
                 + 0.85 * COALESCE(SUM(p.pr * e.share), 0) AS pr
        FROM nodes nd
        LEFT JOIN edges e ON e.dst = nd.node
        LEFT JOIN it2 p ON p.node = e.src
        GROUP BY nd.node
    )
    SELECT node, pr FROM it3 ORDER BY node
    """,
)
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the international trade graph (nations as nodes,
    customer-nation → supplier-nation order flow as weighted edges;
    damping 0.85, 3 synchronous iterations from the uniform vector) —
    the canonical iterative graph algorithm, expressed as an UNROLLED
    lazy plan: each iteration is one broadcast join of the rank
    vector (N rows — nations here; at web scale, the rank frame
    shuffles on dst instead, same operator shape) against the
    edge-share table plus a grouped sum. No driver-side loop state,
    no collect — the whole 3-step recurrence is a single Catalyst
    plan, and the heavy part (reducing 10^8 lineitems to the 25x25
    weighted trade matrix) is one map-side-combined aggregate. The
    oracle replays the identical recurrence as unrolled CTEs; scores
    are doubles whose per-node sums have <= N terms, well inside the
    6-decimal hash tolerance."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    edges_raw = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    outw = edges_raw.groupBy("src").agg(
        F.sum("w").cast("long").alias("ow")
    )
    edges = edges_raw.join(outw, "src").select(
        "src", "dst", (F.col("w").cast("double") / F.col("ow")).alias("share")
    )
    nodes = (
        edges_raw.select(F.col("src").alias("node"))
        .union(edges_raw.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(3):
        contrib = (
            F.broadcast(ranks)
            .join(edges, ranks["node"] == edges["src"])
            .select("dst", (F.col("pr") * F.col("share")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                (
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return ranks.orderBy("node")


@query(
    "graph_shortest_path_weighted",
    oracle="""
    WITH RECURSIVE base AS (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               COUNT(*) AS cnt
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT src, dst, 1 + cnt % 7 AS w
        FROM base
        WHERE ('0x' || substring(md5(
                  CAST(src AS VARCHAR) || '_' || CAST(dst AS VARCHAR)
              ), 1, 8))::BIGINT % 100 < 30
    ),
    walk AS (
        SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist,
               0 AS depth
        UNION ALL
        SELECT e.dst, wk.dist + e.w, wk.depth + 1
        FROM walk wk JOIN edges e ON e.src = wk.node
        WHERE wk.depth < 4
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(MIN(dist) AS BIGINT) AS dist
    FROM walk GROUP BY node ORDER BY node
    """,
)
def graph_shortest_path_weighted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted shortest path (bounded Bellman-Ford), completing the
    graph family next to BFS hops (unweighted), closure, CC, and
    PageRank: nation-level trade edges (weight = 1 + volume mod 7,
    hash-sparsified to ~30% so the graph isn't complete), distances
    from nation 0 using at most 4 hops. Spark runs 4 relaxation
    rounds — per round ONE frontier⋈edges equi-join and a min-groupBy,
    lineage truncated — which computes min-over-walks exactly; the
    oracle lets DuckDB's recursive CTE enumerate every bounded walk
    and take the MIN. Integer weights keep both engines exact.

    Scale: relaxation state is (node, dist) — O(V) rows, never paths;
    each round is an equi-join co-partitioned on the node key. The
    walk-enumeration form the oracle uses would explode at scale;
    the relaxation form is the distributed one (Pregel's SSSP)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    keep = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("src").cast("string"),
                        F.lit("_"),
                        F.col("dst").cast("string"),
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
        < 30
    )
    edges = (
        base.filter(keep)
        .select(
            "src", "dst", (F.lit(1) + F.col("cnt") % 7).alias("w")
        )
        .transform(stage, "edges")
    )
    dist = spark.createDataFrame([(0, 0)], "node long, dist long")
    for _ in range(4):
        relaxed = dist.join(edges, dist.node == edges.src).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .transform(freeze, "bounded loop lineage")
        )
    return dist.select(
        "node", F.col("dist").cast("long").alias("dist")
    ).orderBy("node")


@query(
    "graph_adamic_adar_links",
    oracle="""
    WITH ps AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s
        FROM lineitem WHERE l_quantity >= 49
    ),
    deg AS (SELECT s, COUNT(*) AS d FROM ps GROUP BY s),
    cand AS (
        SELECT a.p AS p1, b.p AS p2, a.s
        FROM ps a JOIN ps b ON a.s = b.s AND a.p < b.p
    ),
    scored AS (
        SELECT c.p1, c.p2,
               CAST(COUNT(*) AS BIGINT) AS n_common,
               SUM(1.0 / ln(d.d)) AS aa
        FROM cand c JOIN deg d ON c.s = d.s
        WHERE d.d >= 2
        GROUP BY c.p1, c.p2
    )
    SELECT p1, p2, n_common, ROUND(aa, 6) AS adamic_adar
    FROM scored WHERE n_common >= 2
    ORDER BY p1, p2
    """,
)
def graph_adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINK PREDICTION on the part–supplier bipartite graph:
    Adamic–Adar affinity between part pairs — common neighbours
    weighted 1/ln(degree), so a shared RARE supplier signals far more
    than a shared commodity hub (the classic fix for raw
    common-neighbour counts). The graph is the high-quantity edge
    subset (l_quantity ≥ 49 — strong relationships), candidate pairs
    generated by the standard neighbour self-join ON THE SHARED
    SUPPLIER (never part × part), degrees broadcast in, and the
    reported edge set thresholded on the INTEGER n_common ≥ 2 so the
    cross-engine result set is boundary-stable while the float score
    is rounded per pair.

    Degree-1 suppliers are excluded from scoring (1/ln(1) = ∞;
    a single-neighbour supplier cannot witness a pair anyway — the
    WHERE d ≥ 2 guard is shared by both engines).

    Scale: candidate volume is Σ_s deg(s)² — bounded by filtering to
    the strong-edge subgraph and skew-capped by the supplier degree
    distribution, the same discipline as every blocking cascade here;
    the self-join shuffles once on s, the scoring aggregation once on
    (p1, p2)."""
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 49)
        .select(
            F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
        )
        .distinct()
    )
    deg = ps.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    a = ps.alias("a")
    b = ps.alias("b")
    cand = a.join(
        b,
        (F.col("a.s") == F.col("b.s")) & (F.col("a.p") < F.col("b.p")),
    ).select(
        F.col("a.p").alias("p1"), F.col("b.p").alias("p2"), F.col("a.s")
    )
    scored = (
        cand.join(F.broadcast(deg.filter(F.col("d") >= 2)), "s")
        .groupBy("p1", "p2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(1.0 / F.log(F.col("d").cast("double"))).alias("aa"),
        )
        .filter(F.col("n_common") >= 2)
    )
    return scored.select(
        "p1", "p2", "n_common", F.round("aa", 6).alias("adamic_adar")
    ).orderBy("p1", "p2")


def _kcore_oracle(k: int = 3, rounds: int = 8) -> str:
    """Unrolled peel: each round drops nodes below degree k and the
    edges touching them; `rounds` exceeds measured convergence depth
    (4 at sf0.1), and extra rounds are idempotent at the fixpoint."""
    sql = [
        """
    WITH e0 AS MATERIALIZED (
        SELECT DISTINCT l_partkey AS u, l_suppkey + 1000000 AS v
        FROM lineitem WHERE l_quantity >= 49
    )"""
    ]
    prev = "e0"
    for i in range(1, rounds + 1):
        sql.append(
            f""",
    d{i} AS MATERIALIZED (
        SELECT n, COUNT(*) AS dg FROM (
            SELECT u AS n FROM {prev}
            UNION ALL SELECT v FROM {prev}
        ) GROUP BY n HAVING COUNT(*) >= {k}
    ),
    e{i} AS MATERIALIZED (
        SELECT e.u, e.v FROM {prev} e
        JOIN d{i} a ON e.u = a.n JOIN d{i} b ON e.v = b.n
    )"""
        )
        prev = f"e{i}"
    sql.append(
        f"""
    SELECT n,
           CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM (SELECT u AS n FROM {prev} UNION ALL SELECT v FROM {prev})
    GROUP BY n
    ORDER BY n"""
    )
    return "".join(sql)


@query("graph_kcore_decomposition", oracle=_kcore_oracle())
def graph_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-CORE decomposition (k = 3) of the strong-edge part-supplier
    bipartite graph — the dense-subgraph extractor community mining
    and fraud rings start from: iteratively peel every node with
    degree < k until the remainder is stable; what survives is the
    maximal subgraph where EVERYONE keeps ≥ k connections. Spark
    runs the peel as a degree-aggregate + semi-join fixpoint loop
    (lineage truncated per round with freeze(), O(1) driver
    convergence check — the connected-components discipline); the
    oracle is the same peel UNROLLED past the measured convergence
    depth (2 rounds at sf0.01, 4 at sf0.1; extra rounds idempotent),
    so the fixpoint itself is cross-checked, not just one round.
    Output: surviving nodes with their in-core degree."""
    e = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 49)
        .select(
            F.col("l_partkey").alias("u"),
            (F.col("l_suppkey") + 1000000).alias("v"),
        )
        .distinct()
        .transform(stage, "kcore_edges")
    )
    k = 3
    while True:
        deg = (
            e.select(F.col("u").alias("n"))
            .unionAll(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("dg"))
            .filter(F.col("dg") >= k)
            .select("n")
        )
        e2 = (
            e.join(deg.withColumnRenamed("n", "u"), "u", "leftsemi")
            .join(deg.withColumnRenamed("n", "v"), "v", "leftsemi")
            .select("u", "v")
            .transform(freeze, "bounded loop lineage")
        )
        if e2.count() == e.count():
            break
        e = e2
    return (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .orderBy("n")
    )


def _lpa_oracle(rounds: int = 4) -> str:
    """Unrolled synchronous LPA: per round, every node adopts the
    minimum among its neighbors' most-frequent labels (deterministic
    argmax tie-break) — the same fixed-round schedule Spark runs."""
    sql = [
        """
    WITH e0 AS MATERIALIZED (
        SELECT DISTINCT l_partkey AS u, l_suppkey + 1000000 AS v
        FROM lineitem WHERE l_quantity >= 49
    ),
    ed AS MATERIALIZED (
        SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
    ),
    l0 AS MATERIALIZED (SELECT DISTINCT u AS n, u AS lbl FROM ed)"""
    ]
    prev = "l0"
    for i in range(1, rounds + 1):
        sql.append(
            f""",
    c{i} AS MATERIALIZED (
        SELECT ed.u AS n, l.lbl, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM ed JOIN {prev} l ON ed.v = l.n
        GROUP BY ed.u, l.lbl
    ),
    l{i} AS MATERIALIZED (
        SELECT n, lbl FROM (
            SELECT n, lbl,
                   row_number() OVER (
                       PARTITION BY n ORDER BY cnt DESC, lbl) AS r
            FROM c{i}
        ) WHERE r = 1
    )"""
        )
        prev = f"l{i}"
    sql.append(
        f"""
    SELECT n, lbl AS community
    FROM {prev}
    ORDER BY n"""
    )
    return "".join(sql)


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation
    (Raghavan et al. 2007, made deterministic): every node starts as
    its own label; each round it adopts the MINIMUM among its
    neighbors' most-frequent labels (argmax by count, ties to the
    smallest label — the determinism random-order LPA lacks), for a
    fixed 4 rounds on the strong-edge part–supplier graph. Distinct
    from connected components (labels follow local density, so one
    component can split into several communities) and from k-core
    (which thins, LPA partitions).

    Scale posture: one round = one edge⋈label equi-join on the
    well-distributed node key + two map-side-combining aggregates
    (label counts, then per-node argmax via max_by — no window, no
    sort); labels are scalars, the edge list never grows, and the
    fixed round count makes the whole plan static — no driver-side
    convergence loop to stall a 100 TB run. The oracle unrolls the
    identical schedule, so every round is cross-checked."""
    e = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 49)
        .select(
            F.col("l_partkey").alias("u"),
            (F.col("l_suppkey") + 1000000).alias("v"),
        )
        .distinct()
    )
    ed = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).transform(stage, "ed")
    labels = ed.select(F.col("u").alias("n")).distinct().select(
        "n", F.col("n").alias("lbl")
    )
    for _ in range(4):
        cnt = (
            ed.join(labels.withColumnRenamed("n", "v"), "v")
            .groupBy(F.col("u").alias("n"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = cnt.groupBy("n").agg(
            F.max_by("lbl", F.struct(F.col("cnt"), (-F.col("lbl")))).alias(
                "lbl"
            )
        ).transform(freeze, "bounded loop lineage")
    return labels.select("n", F.col("lbl").alias("community")).orderBy("n")


@query(
    "graph_modularity_best_merge",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS i, b.l_partkey AS j,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    edges AS (
      SELECT i, j, w FROM pairs
      UNION ALL
      SELECT j, i, w FROM pairs
    ),
    deg AS (SELECT i AS v, CAST(SUM(w) AS DOUBLE) AS k
            FROM edges GROUP BY i),
    m AS (SELECT CAST(SUM(w) AS DOUBLE) AS m2 FROM edges),
    gains AS (
      SELECT e.i, e.j,
             2.0 * (CAST(e.w AS DOUBLE) / m.m2
                    - (di.k / m.m2) * (dj.k / m.m2)) AS gain
      FROM edges e
      JOIN deg di ON di.v = e.i
      JOIN deg dj ON dj.v = e.j
      CROSS JOIN m
    ),
    best AS (
      SELECT i, j, gain FROM (
        SELECT i, j, gain,
               ROW_NUMBER() OVER (PARTITION BY i
                                  ORDER BY gain DESC, j) AS rn
        FROM gains WHERE gain > 0
      ) WHERE rn = 1
    ),
    mutual AS (
      SELECT a.i, a.j FROM best a JOIN best b
        ON a.j = b.i AND b.j = a.i AND a.i < a.j
    ),
    q0 AS (
      SELECT -SUM((k / m.m2) * (k / m.m2)) AS q FROM deg CROSS JOIN m
    ),
    merged_gain AS (
      SELECT COALESCE(SUM(g.gain), 0.0) AS dq
      FROM mutual mu JOIN gains g ON g.i = mu.i AND g.j = mu.j
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
           (SELECT m2 / 2.0 FROM m) AS total_weight,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM mutual)
             AS n_mutual_pairs,
           (SELECT q FROM q0) AS q_singletons,
           (SELECT q FROM q0) + (SELECT dq FROM merged_gain)
             AS q_after_merge
    """,
)
def graph_modularity_best_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One synchronous modularity-optimizing merge sweep over the
    part co-purchase graph (parts sharing an order, edge weight =
    co-occurrence count) — the deterministic core of a Louvain
    phase-1 step: every node computes the modularity gain
    ΔQ = 2(w_ij/2m − k_i·k_j/(2m)²) of merging with each neighbor,
    picks its best POSITIVE-gain neighbor (gain desc, id tie-break;
    nodes with no improving move stay put, as in Louvain), and MUTUAL
    best pairs merge — the agglomerative move that is well-defined without the
    sequential visit order vanilla Louvain depends on (and therefore
    oracle-checkable). Emits modularity before (singleton partition:
    −Σ(k/2m)²) and after the merge sweep; q_after > q_singletons is
    the gain the sweep banked.

    Scale posture: the co-occurrence self-join is per-order (bounded
    fanout per basket); gains ride the edge list with degree/m
    broadcast; the argmax window partitions per NODE over its
    neighbor list. Each further Louvain level runs this same plan on
    the contracted graph."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("i")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("j")
    )
    pairs = (
        a.join(b, ["ok"])
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    edges = pairs.unionByName(
        pairs.select(
            F.col("j").alias("i"), F.col("i").alias("j"), "w"
        )
    )
    deg = edges.groupBy(F.col("i").alias("v")).agg(
        F.sum("w").cast("double").alias("k")
    )
    m = edges.agg(F.sum("w").cast("double").alias("m2"))
    gains = (
        edges.join(deg.withColumnRenamed("v", "i"), "i")
        .withColumnRenamed("k", "ki")
        .join(
            deg.select(F.col("v").alias("j"), F.col("k").alias("kj")),
            "j",
        )
        .crossJoin(F.broadcast(m))
        .select(
            "i",
            "j",
            (
                2.0
                * (
                    F.col("w").cast("double") / F.col("m2")
                    - (F.col("ki") / F.col("m2"))
                    * (F.col("kj") / F.col("m2"))
                )
            ).alias("gain"),
        )
    )
    wn = Window.partitionBy("i").orderBy(F.desc("gain"), "j")
    best = (
        gains.filter(F.col("gain") > 0)
        .withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") == 1)
        .select("i", "j", "gain")
    )
    mutual = (
        best.alias("a")
        .join(
            best.alias("b"),
            (F.col("a.j") == F.col("b.i"))
            & (F.col("b.j") == F.col("a.i"))
            & (F.col("a.i") < F.col("a.j")),
        )
        .select(F.col("a.i").alias("i"), F.col("a.j").alias("j"))
    )
    q0 = deg.crossJoin(F.broadcast(m)).agg(
        (
            -F.sum(
                (F.col("k") / F.col("m2")) * (F.col("k") / F.col("m2"))
            )
        ).alias("q")
    )
    merged_gain = mutual.join(gains, ["i", "j"]).agg(
        F.coalesce(F.sum("gain"), F.lit(0.0)).alias("dq")
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    n_edges = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges")
    )
    tw = m.select((F.col("m2") / 2.0).alias("total_weight"))
    n_mut = mutual.agg(
        F.count(F.lit(1)).cast("long").alias("n_mutual_pairs")
    )
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tw))
        .crossJoin(F.broadcast(n_mut))
        .crossJoin(
            F.broadcast(q0.select(F.col("q").alias("q_singletons")))
        )
        .crossJoin(F.broadcast(merged_gain))
        .select(
            "n_nodes",
            "n_edges",
            "total_weight",
            "n_mutual_pairs",
            "q_singletons",
            (F.col("q_singletons") + F.col("dq")).alias(
                "q_after_merge"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Personalized PageRank (restart vector at a seed node)
# ---------------------------------------------------------------------------

_PPR_SEED = 0  # seed nation
_PPR_ALPHA = 0.85  # continuation probability
_PPR_ITERS = 3


def _ppr_iter_sql(prev: str, name: str) -> str:
    return f"""
    {name} AS (
        SELECT nd.node,
               CASE WHEN nd.node = {_PPR_SEED}
                    THEN {1.0 - _PPR_ALPHA!r} ELSE 0.0 END
                 + {_PPR_ALPHA!r} * COALESCE(SUM(p.pr * e.share), 0) AS pr
        FROM nodes nd
        LEFT JOIN edges e ON e.dst = nd.node
        LEFT JOIN {prev} p ON p.node = e.src
        GROUP BY nd.node
    )"""


@query(
    "graph_ppr_trade",
    oracle=f"""
    WITH edges_raw AS (
        SELECT cn.n_nationkey AS src, sn.n_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        WHERE cn.n_nationkey <> sn.n_nationkey
        GROUP BY 1, 2
    ),
    outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow
             FROM edges_raw GROUP BY src),
    edges AS (
        SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.ow AS share
        FROM edges_raw e JOIN outw o ON e.src = o.src
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges_raw
              UNION SELECT DISTINCT dst FROM edges_raw),
    it0 AS (
        SELECT node,
               CASE WHEN node = {_PPR_SEED} THEN 1.0 ELSE 0.0 END AS pr
        FROM nodes
    ),
    {_ppr_iter_sql('it0', 'it1')},
    {_ppr_iter_sql('it1', 'it2')},
    {_ppr_iter_sql('it2', 'it3')}
    SELECT node, pr FROM it3 ORDER BY node
    """,
)
def graph_ppr_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank over the trade graph: the restart vector
    concentrates all teleport mass on ONE seed nation instead of the
    uniform vector — the recommender-system primitive ("importance
    relative to node s", the scorer behind who-to-follow / related-
    item graphs), and the survey's round-6 candidate pulled forward.
    Same unrolled-lazy-plan shape as graph_pagerank_trade: each of
    the 3 synchronous iterations is one broadcast join of the rank
    vector against the edge-share table plus a grouped sum; the only
    change is the restart term e_s(node) = (1-α)·[node = s] (it0
    starts as the indicator, so early iterations are SPARSE — at web
    scale the rank frame starts as 1 row and grows by the frontier,
    which is why PPR is the cheap member of the PageRank family).
    No dangling-mass redistribution on either engine (identical
    semantics, noted contract). Oracle replays the identical
    recurrence as unrolled CTEs."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    edges_raw = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    outw = edges_raw.groupBy("src").agg(
        F.sum("w").cast("long").alias("ow")
    )
    edges = edges_raw.join(outw, "src").select(
        "src", "dst", (F.col("w").cast("double") / F.col("ow")).alias("share")
    )
    nodes = (
        edges_raw.select(F.col("src").alias("node"))
        .union(edges_raw.select(F.col("dst").alias("node")))
        .distinct()
    )
    restart = F.when(
        F.col("node") == _PPR_SEED, F.lit(1.0 - _PPR_ALPHA)
    ).otherwise(F.lit(0.0))
    ranks = nodes.select(
        "node",
        F.when(F.col("node") == _PPR_SEED, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("pr"),
    )
    for _ in range(_PPR_ITERS):
        contrib = (
            F.broadcast(ranks)
            .join(edges, ranks["node"] == edges["src"])
            .select("dst", (F.col("pr") * F.col("share")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    restart
                    + F.lit(_PPR_ALPHA)
                    * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return ranks.orderBy("node")



def _ktruss_oracle(k: int = 4, rounds: int = 6) -> str:
    """Unrolled edge peel: each round recomputes per-edge triangle
    support on the surviving edge set and drops edges below k-2;
    `rounds` exceeds measured convergence (3 at both sf0.01 and
    sf0.1), and extra rounds are idempotent at the fixpoint."""
    sql = [
        """
    WITH li AS MATERIALIZED (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem WHERE l_quantity >= 45
    ),
    e0 AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_partkey < b.l_partkey
    )"""
    ]
    prev = "e0"
    for i in range(1, rounds + 1):
        sql.append(
            f""",
    t{i} AS MATERIALIZED (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM {prev} e1
        JOIN {prev} e2 ON e2.u = e1.v
        JOIN {prev} e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    s{i} AS MATERIALIZED (
        SELECT u, v, COUNT(*) AS sup FROM (
            SELECT a AS u, b AS v FROM t{i}
            UNION ALL SELECT b, c FROM t{i}
            UNION ALL SELECT a, c FROM t{i}
        ) GROUP BY u, v
    ),
    e{i} AS MATERIALIZED (
        SELECT e.u, e.v FROM {prev} e
        JOIN s{i} s ON e.u = s.u AND e.v = s.v
        WHERE s.sup >= {k - 2}
    )"""
        )
        prev = f"e{i}"
    sql.append(
        f"""
    SELECT e.u, e.v, CAST(s.sup AS BIGINT) AS support
    FROM {prev} e
    JOIN s{rounds} s ON e.u = s.u AND e.v = s.v
    ORDER BY e.u, e.v"""
    )
    return "".join(sql)


@query("graph_ktruss_decomposition", oracle=_ktruss_oracle())
def graph_ktruss_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k-TRUSS (k = 4) of the strong-edge part co-purchase graph —
    the EDGE-cohesion dual of graph_kcore_decomposition's node peel:
    keep only edges supported by at least k-2 triangles among the
    survivors, iterating until stable. A truss is strictly stronger
    evidence of community than a core (every surviving relationship
    is embedded in multiple closed triads) — the structure fraud-ring
    and community-mining pipelines extract after cores get too loose.

    Spark runs the peel as a triangle-join + support-aggregate +
    semi-join fixpoint: edges oriented u < v so each triangle is
    enumerated once, each triangle credits its three edges via one
    explode-free union, every round freezes the shrinking
    edge set (the k-core/fixpoint discipline — lineage stays O(1),
    convergence is an O(1) driver count). The oracle is the same
    peel UNROLLED past measured convergence depth (3 rounds at both
    test scales; extra rounds idempotent), so the fixpoint itself is
    cross-checked. At 100 TB the triangle join is the arboricity-
    bounded oriented enumeration (degree-ordered orientation caps
    oriented out-degree at O(sqrt(m))); each peel round only shrinks
    it. Output: surviving edges with their in-truss support
    (support >= 2 everywhere, by construction)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .distinct()
        .transform(stage, "ktruss_edges")
    )

    def support(edges: DataFrame) -> DataFrame:
        e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
        tri = (
            e1.join(e2, F.col("e2.u") == F.col("e1.v"))
            .join(
                e3,
                (F.col("e3.u") == F.col("e1.u"))
                & (F.col("e3.v") == F.col("e2.v")),
            )
            .select(
                F.col("e1.u").alias("a"),
                F.col("e1.v").alias("b"),
                F.col("e2.v").alias("c"),
            )
        )
        roles = (
            tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionAll(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
            .unionAll(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
        )
        return roles.groupBy("u", "v").agg(
            F.count(F.lit(1)).cast("long").alias("support")
        )

    k = 4
    n = e.count()
    while True:
        kept = (
            e.join(
                support(e).filter(F.col("support") >= k - 2),
                ["u", "v"],
                "left_semi",
            )
            .transform(freeze, "bounded loop lineage")
        )
        m = kept.count()
        if m == n:
            break
        e, n = kept, m
    return (
        e.join(support(e), ["u", "v"])
        .select("u", "v", "support")
        .orderBy("u", "v")
    )
