package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Iterative graph analytics beyond connected components (SURVEY §2 M6's
  * sibling): PageRank and triangle counting, the two classic
  * one-join-per-step graph kernels, expressed as declarative DataFrame
  * plans so Catalyst owns the shuffles.
  *
  * Scale shapes:
  *   - [[pageRank]] is one join + one aggregate per iteration, both keyed
  *     by node id — the same shuffle key every round, so AQE reuses the
  *     layout; lineage is cut with `localCheckpoint` every few rounds
  *     (the [[graft.operators.ConnectedComponents]] discipline) or an
  *     iteration-deep plan would swamp the optimizer;
  *   - [[triangleCount]] orients each edge from the LOWER-degree endpoint
  *     to the higher (the "compact-forward" ordering): the wedge join's
  *     intermediate is then Σ out-deg² with out-degrees capped near
  *     sqrt(m), instead of the unbounded Σ deg² a naive id-ordering pays
  *     on skewed graphs — the difference between minutes and days on a
  *     power-law web graph.
  *
  * Both are exactly reproducible (fixed iteration count, pure float
  * arithmetic) and are oracled against DuckDB recursive CTEs / self-joins
  * on the same derived edge table.
  */
object Graph {

  /** Storage level for the lineage-cut checkpoints: SERIALIZED
    * memory+disk, not the default deserialized level — the checkpointed
    * edge/degree tables are the iteration's standing state and at large
    * |E| their deserialized row objects pin the unified pool hard enough
    * to starve the per-iteration hash aggregates of execution memory
    * (measured: DecadeProbe's 100x point, 3.3M distinct edges x 100
    * replicas, AGGREGATE_OUT_OF_MEMORY on an 8g driver). Serialized
    * blocks are compact and evict/spill per-block, trading a one-time
    * deserialization cost per iteration for bounded pressure.
    */
  private val CheckpointLevel =
    org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  /** PageRank with a fixed iteration count (deterministic, the form the
    * oracle can mirror). `edges` must be (src, dst) pairs; dangling nodes
    * (no out-edges) simply leak their rank — both engines apply the same
    * convention, matching the original formulation without the
    * redistribution term.
    */
  def pageRank(
      edges: DataFrame,
      iterations: Int,
      damping: Double = 0.85
  ): DataFrame = {
    // LAZY checkpoints throughout (eager = false): the logical plan is
    // cut at creation either way (the Dataset wraps a LogicalRDD
    // immediately, which is what keeps optimizer time bounded across
    // iterations); eager additionally pays a DEDICATED materialization
    // job per cut, whose work the next full-scan action would do anyway
    // while persisting the blocks. Dropping the eager pass removed one
    // job per checkpoint — a full extra pass over the standing state at
    // cluster scale, and the dominant fixed cost per iteration locally.
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(false, CheckpointLevel)
    // nodes PRE-PARTITIONED on the key every iteration joins/aggregates
    // by: localCheckpoint preserves the physical partitioning (LogicalRDD
    // carries it), so the per-iteration rank rebuild never re-shuffles
    // the node table; materialized by the count() below
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .repartition(col("node"))
      .localCheckpoint(false, CheckpointLevel)
    val n = nodes.count().toDouble
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // contribution edges with the sender's degree attached once, up
    // front, PRE-PARTITIONED on src: each iteration's contribution join
    // then shuffles only the (node-sized) rank table, not the edge table
    // — at 8 iterations that is 8 edge-table shuffles saved, the
    // dominant cost on a real graph where |edges| >> |nodes|
    val withDeg = e.join(outDeg, Seq("src"))
      .repartition(col("src"))
      .localCheckpoint(false, CheckpointLevel)
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (i <- 1 to iterations) {
      val contribs = withDeg
        .join(ranks, col("src") === col("node"))
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("inflow"))
      ranks = nodes
        .join(contribs, Seq("node"), "left_outer")
        .select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("inflow"), lit(0.0))).as("rank"))
      // cut lineage every 3 rounds: the plan would otherwise nest one
      // join+agg deeper per iteration and optimizer time blows up (lazy:
      // the Catalyst plan is cut NOW; the RDD chain computes — and each
      // cut persists — under the caller's one final action)
      if (i % 3 == 0 && i < iterations)
        ranks = ranks.localCheckpoint(false, CheckpointLevel)
    }
    ranks
  }

  /** Degree-oriented edge set of an undirected graph: canonicalized
    * (a < b, no self-loops, distinct), then each edge pointed from its
    * LOW-degree endpoint to its high-degree one (ties by id) — the
    * classic orientation that caps out-degrees near √m so the wedge
    * intermediate of [[triangleCount]] stays near-linear on skewed
    * graphs (measured wedges per edge against edge count: the round-9
    * triangle-count density table in BASELINE.md).
    */
  private def orientEdges(edges: DataFrame): DataFrame = {
    // canonical undirected edge set: a < b, no self-loops, distinct
    val und = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    // orient low-degree -> high-degree (ties by id): out-degrees are then
    // O(sqrt(m)) and the wedge intermediate stays near-linear
    und
      .join(deg.withColumnsRenamed(Map("v" -> "a", "deg" -> "da")), Seq("a"))
      .join(deg.withColumnsRenamed(Map("v" -> "b", "deg" -> "db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("lo"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("hi"))
      // pre-partition by lo before the checkpoint: the wedge self-join
      // keys on lo, so the checkpointed partitioning is exactly the
      // exchange the join needs (localCheckpoint preserves physical
      // partitioning — the pageRank discipline). Pinned to the available
      // cores, not to AQE's byte-based coalescing: the wedge kernel's
      // cost is Σ out-deg² COMPUTE over a byte-small edge list, and
      // without this the join inherited the (1-2 partition) upstream
      // layout and ran the whole O(m^1.5) intermediate on one core
      // (measured: q_triangle_count spent ~5 of its 6.2 s in one task).
      .repartition(edges.sparkSession.sparkContext.defaultParallelism, col("lo"))
      // lazy, like pageRank's cuts: the caller's first full action
      // (wedge probe or the count) materializes and persists it
      .localCheckpoint(false, CheckpointLevel)
  }

  /** The wedge intermediate over an [[orientEdges]] frame — the join
    * whose size IS the algorithm's cost at scale.
    */
  private def orientedWedges(oriented: DataFrame): DataFrame =
    oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.lo") === col("e2.lo") && col("e1.hi") < col("e2.hi"))
      .select(col("e1.hi").as("x"), col("e2.hi").as("y"))

  /** Exact triangle count per graph via degree-oriented wedge join.
    * `edges` are undirected pairs (any orientation, duplicates fine).
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val oriented = orientEdges(edges)
    // wedge (lo->x, lo->y) closed by oriented edge between x and y
    val closed = orientedWedges(oriented).join(
      oriented.select(
        least(col("lo"), col("hi")).as("ca"), greatest(col("lo"), col("hi")).as("cb")),
      (least(col("x"), col("y")) === col("ca")) &&
        (greatest(col("x"), col("y")) === col("cb")))
    closed.agg(count(lit(1)).as("triangles"))
  }

  // ---------- declared queries ----------

  type Q = (SparkSession, String) => DataFrame

  /** Deterministic derived graph: every lineitem contributes an edge
    * (orderkey-group -> partkey-group). `nodes` controls density: 2000
    * keeps the PR graph constant-size across SFs (rank mass just
    * redistributes); 20000 keeps the triangle graph SPARSE at sf0.1 so
    * the wedge intermediate stays near-linear.
    */
  private def derivedEdges(spark: SparkSession, sfDir: String, nodes: Int): DataFrame =
    Tables(spark, sfDir).lineitem.select(
      (col("l_orderkey") % nodes).as("src"),
      (col("l_partkey") % nodes).as("dst"))

  /** Top-25 PageRank nodes after 8 iterations, rank rounded to 8 —
    * accumulated float drift across 8 join/agg rounds stays < 1e-10, so
    * the rounded value is engine-stable while the ordering pins the
    * actual ranking.
    */
  def qPageRank(spark: SparkSession, sfDir: String): DataFrame =
    pageRank(derivedEdges(spark, sfDir, 2000), iterations = 8)
      .select(col("node"), round(col("rank") * 1000, 8).as("rank_x1000"))
      .orderBy(col("rank_x1000").desc, col("node").asc)
      .limit(25)

  def qTriangleCount(spark: SparkSession, sfDir: String): DataFrame =
    triangleCount(derivedEdges(spark, sfDir, 20000))

  /** Bounded-depth reachability via SQL `WITH RECURSIVE` (Spark 4's
    * recursive CTE support, exercised as a declared surface): min-hop
    * distances from node 0 out to 3 hops over the derived graph, the
    * identical statement DuckDB runs. Depth-bounded UNION ALL recursion
    * keeps both engines' semantics byte-identical (unbounded recursive
    * dedup differs subtly across engines); the frontier is deg^2-bounded.
    */
  def qReachability(spark: SparkSession, sfDir: String): DataFrame = {
    derivedEdges(spark, sfDir, 2000).distinct()
      .createOrReplaceTempView("graft_edges_rec")
    spark.sql(
      """WITH RECURSIVE reach(node, hops) AS (
        |  SELECT CAST(0 AS BIGINT) AS node, 0 AS hops
        |  UNION ALL
        |  SELECT e.dst, r.hops + 1
        |  FROM reach r JOIN graft_edges_rec e ON e.src = r.node
        |  WHERE r.hops < 2)
        |SELECT node, CAST(min(hops) AS BIGINT) AS hops
        |FROM reach GROUP BY node ORDER BY node""".stripMargin)
  }

  def queries: Map[String, Q] = Map(
    "q_pagerank" -> (qPageRank _),
    "q_triangle_count" -> (qTriangleCount _),
    "q_recursive_reach" -> (qReachability _))

  /** The oracle UNROLLS the 8 iterations as chained CTEs (a recursive CTE
    * cannot both aggregate over and re-join the working table in one
    * reference) — generated, not hand-written, so iteration count stays
    * in one place. Validated against an independent dense-matrix PR.
    */
  private def pageRankOracle(iterations: Int): String = {
    val pre =
      """WITH e AS (SELECT DISTINCT l_orderkey % 2000 AS src, l_partkey % 2000 AS dst FROM lineitem),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |n AS (SELECT count(*)::DOUBLE AS n FROM nodes),
        |outdeg AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY src),
        |pr0 AS (SELECT node, 1.0/(SELECT n FROM n) AS rank FROM nodes)""".stripMargin
    val steps = (1 to iterations).map { k =>
      s"""pr$k AS (
         |  SELECT nd.node, (SELECT (1-0.85)/n FROM n) + 0.85*coalesce(f.inflow,0) AS rank
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.rank/od.deg) AS inflow
         |    FROM pr${k - 1} p JOIN e ON p.node = e.src JOIN outdeg od ON od.src = e.src
         |    GROUP BY e.dst) f USING (node))""".stripMargin
    }.mkString(",\n")
    pre + ",\n" + steps +
      s"""
         |SELECT node, round(rank*1000, 8) AS rank_x1000 FROM pr$iterations
         |ORDER BY rank_x1000 DESC, node LIMIT 25""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_recursive_reach" ->
      """WITH RECURSIVE
        |e AS (SELECT DISTINCT l_orderkey % 2000 AS src, l_partkey % 2000 AS dst
        |      FROM lineitem),
        |reach(node, hops) AS (
        |  SELECT CAST(0 AS BIGINT), 0
        |  UNION ALL
        |  SELECT e.dst, r.hops + 1
        |  FROM reach r JOIN e ON e.src = r.node
        |  WHERE r.hops < 2)
        |SELECT node, CAST(min(hops) AS BIGINT) AS hops
        |FROM reach GROUP BY node ORDER BY node""".stripMargin,
    "q_pagerank" -> pageRankOracle(8),
    "q_triangle_count" ->
      """WITH e0 AS (SELECT DISTINCT l_orderkey % 20000 AS src, l_partkey % 20000 AS dst
        |            FROM lineitem),
        |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |        FROM e0 WHERE src != dst)
        |SELECT count(*) AS triangles
        |FROM und e1 JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
        |JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b""".stripMargin
  )
}
