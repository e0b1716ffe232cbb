package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** PageRank over the customer↔supplier trade graph — the
  * graph-centrality step a web-scale curation pipeline runs to rank
  * crawl domains by link authority (the CommonCrawl seed-ranking
  * recipe); here the same operator ranks trade-graph nodes by order
  * flow.
  *
  * Reference scope note: the reference engine
  * (`/root/reference/src/main/scala/com/pipeline/PipelineProcessor.scala:44-87`)
  * has no graph operators; this is driver-mandated extension surface.
  *
  * Exactness: the rank update is INTEGER arithmetic end to end —
  * ranks are scaled longs (SCALE = 10¹²), a node's per-edge share is
  * `(r·85) div (outdeg·100)` and the new rank is
  * `(SCALE·15) div 100 + Σ shares`. Long sums are order-independent, so
  * Spark and the DuckDB oracle agree bit-for-bit with NO float
  * tolerance — the oracle states the identical K unrolled iterations as
  * chained CTEs (generated by the same Scala loop, so the two
  * formulations cannot drift). The truncation each division drops is
  * ≤ outdeg ulps of 10⁻¹² rank mass per node per round — noise for a
  * ranking whose consumers threshold or sort, and a price both engines
  * pay identically. Overflow bound: |V|·SCALE·85 must stay < 2⁶³
  * (holds to ~10⁸ nodes at this SCALE; at larger |V| drop SCALE a
  * decade per 10× nodes).
  *
  * Scale shape (the 100 TB story): the edge relation — the big side —
  * is hash-partitioned by src ONCE and checkpointed; each of the K
  * iterations shuffles only the |V|-row rank relation to the edge
  * partitioning, then one groupBy(dst) of shares. Edges never
  * re-shuffle. Per-round cost is exactly the CC loop's
  * ([[Cluster.connectedComponents]]), and the same lazy
  * `localCheckpoint` discipline keeps the iterative lineage flat.
  * Celebrity in-degree skew lands in the groupBy(dst) partial
  * aggregation (map-side combine absorbs it) and AQE re-splits any
  * residual hot reducer. Fixed K (PageRank converges geometrically at
  * damping^k; k=5 with d=0.85 settles the head ordering) — no
  * convergence scan needed.
  */
object Graph {

  /** Rank scale: 1.0 of PageRank mass = 10¹² — six decimal digits of
    * headroom under the ~10⁶-node sf graphs' 2⁶³ overflow bound. */
  val Scale = 1000000000000L

  /** Unrolled iteration count (also the oracle's CTE chain length). */
  val Iters = 5

  /** Integer PageRank on directed `edges` (columns src, dst; duplicate
    * edges collapse). Nodes with no in-edges hold the damping base;
    * dangling-node mass (out-degree 0 — impossible for symmetric
    * graphs) is dropped, the standard "remove dangling" convention.
    * Returns (node, r) — r ≈ SCALE · pagerank · |V| (un-normalized). */
  def pageRank(edges: DataFrame, iters: Int = Iters, scale: Long = Scale): DataFrame = {
    val e = graft.Caches.track(edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).localCheckpoint(true))
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    // (src, dst, odeg) — the loop's constant big side, partitioned by src
    val ed = graft.Caches.track(
      e.join(outdeg, "src").repartition(col("src")).localCheckpoint(true))
    val nodes = graft.Caches.track(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint(true))
    val base = scale * 15 / 100
    var ranks = nodes.select(col("node"), lit(scale).as("r"))
    for (_ <- 1 to iters) {
      val contrib = ed.join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          expr("r * 85 DIV (odeg * 100)").as("share"))
        .groupBy(col("node")).agg(sum(col("share")).as("in_mass"))
      // lazy checkpoints in this chain all materialize at the caller's
      // action, so each iterate is tracked for the caller's releaseAll
      // rather than freed here (nothing has materialized yet)
      ranks = graft.Caches.track(nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("in_mass"), lit(0L))).as("r"))
        .localCheckpoint(false))
    }
    ranks
  }

  /** PageRank iterated to an L1 fixpoint instead of fixed K — the
    * production variant for graphs whose mixing time is unknown up
    * front. Each round runs the identical integer update as
    * [[pageRank]], plus ONE scalar aggregate: delta = Σ|r_new − r_old|
    * (an exact long sum — integer ranks make the convergence test
    * bit-deterministic too, no float epsilon ambiguity). Stops when
    * delta ≤ `epsMass` (in scaled rank units; |V| ≈ one 10⁻¹² ulp per
    * node) or at `maxRounds`. Returns (ranks, roundsRun).
    *
    * Scale shape: the delta test adds one |V|-row join + scalar agg per
    * round on top of the fixed-K loop — the same rank-relation shuffle
    * the update already pays, nothing edge-sized. The driver state is
    * one long per round. Because the update truncates (integer div),
    * iterates can in principle 2-cycle at the ulp floor instead of
    * landing exactly — `maxRounds` bounds that; GraphSpec asserts the
    * returned ranks ARE a fixpoint under the chosen eps and bit-equal
    * to [[pageRank]] run the same number of rounds. */
  def pageRankUntil(edges: DataFrame, epsMass: Long, maxRounds: Int = 50,
                    scale: Long = Scale): (DataFrame, Int) = {
    val e = graft.Caches.track(edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).localCheckpoint(true))
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    val ed = graft.Caches.track(
      e.join(outdeg, "src").repartition(col("src")).localCheckpoint(true))
    val nodes = graft.Caches.track(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint(true))
    val base = scale * 15 / 100
    var ranks = graft.Caches.track(nodes.select(col("node"), lit(scale).as("r"))
      .localCheckpoint(true))
    var rounds = 0
    var converged = false
    while (rounds < maxRounds && !converged) {
      val contrib = ed.join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          expr("r * 85 DIV (odeg * 100)").as("share"))
        .groupBy(col("node")).agg(sum(col("share")).as("in_mass"))
      val next = graft.Caches.track(nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("in_mass"), lit(0L))).as("r"))
        .localCheckpoint(false))
      val delta = next.withColumnRenamed("r", "rn")
        .join(ranks.withColumnRenamed("r", "ro"), "node")
        .agg(sum(abs(col("rn") - col("ro"))).as("d"))
        .head().getLong(0)
      converged = delta <= epsMass
      // the delta head() above materialized `next`'s checkpoint blocks,
      // so the superseded round's |V|-row copy is dead — free it now
      // instead of holding up to maxRounds copies in block storage for
      // the life of the job (same discipline as the Cluster.scala loop)
      graft.Caches.freeCheckpoint(ranks)
      ranks = next
      rounds += 1
    }
    (ranks, rounds)
  }

  /** Gated query: rank the symmetric customer↔supplier trade graph.
    * Node ids are namespaced (customer = key·2, supplier = key·2+1) so
    * the two key spaces cannot collide; every trade relation
    * (customer bought from supplier, via orders⋈lineitem) contributes
    * both directed edges, so the graph has no dangling nodes. */
  def graphPageRank(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
    val trade = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
    val edges = trade.select(col("c").as("src"), col("s").as("dst"))
      .union(trade.select(col("s").as("src"), col("c").as("dst")))
    pageRank(edges).orderBy(col("node"))
  }

  /** Per-node triangle counts on undirected `edges` (columns a, b;
    * callers pass a < b distinct) via degree-ordered orientation — the
    * standard wedge-check algorithm (Cohen's MapReduce formulation;
    * node-iterator++): orient every edge from its (degree, id)-smaller
    * endpoint to the larger, generate wedges only at each node's
    * oriented OUT-neighbors, and close them against the oriented edge
    * list. Every triangle is generated exactly once (at its
    * (degree, id)-minimal corner), so no /3 correction and no
    * double-count anywhere.
    *
    * Scale shape: orientation caps out-degree at O(√m) — a celebrity
    * hub of degree d contributes d² wedges UNORIENTED but only
    * out-deg² ≤ m oriented (its edges all point INTO it from
    * lower-degree nodes), which is the whole trick: wedge volume drops
    * from Σd² (quadratic in the hub) to α(G)·m (arboricity-bounded).
    * Three equi-join shuffles total (degree join, wedge self-join,
    * closing join) — no iteration, no driver state. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = graft.Caches.track(edges.select(col("a"), col("b")).distinct()
      .localCheckpoint(true))
    val deg = und.select(col("a").as("n")).union(und.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // orient by (degree, id): src = smaller endpoint under that order
    val oriented = graft.Caches.track(und
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("src"),
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("dst"))
      .localCheckpoint(true))
    val w1 = oriented.select(col("src"), col("dst").as("v"))
    val w2 = oriented.select(col("src"), col("dst").as("w"))
    // wedge (v, w) at apex src, deduped by v < w; closes iff the
    // oriented edge v→w or w→v exists — orientation guarantees the
    // closing edge goes between them in SOME direction, so check the
    // UNDIRECTED edge (a = min, b = max = the input relation itself)
    val tris = w1.join(w2, Seq("src"))
      .filter(col("v") < col("w"))
      .join(und, col("v") === col("a") && col("w") === col("b"), "left_semi")
      .select(col("src"), col("v"), col("w"))
    tris.select(col("src").as("node"))
      .union(tris.select(col("v").as("node")))
      .union(tris.select(col("w").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** Gate-graph density control: the supplier co-occurrence projection
    * SATURATES on the synthetic corpus (at sf0.1 nearly every supplier
    * pair shares some order → a near-complete graph, and wedge volume
    * on a complete graph is cubic no matter how it is oriented —
    * measured 38 s at sf0.1). The gated queries therefore hash-thin
    * the edge relation to ~1/[[EdgeThin]] deterministically, mirrored
    * bit-for-bit in the oracle. This is gate scaffolding, not operator
    * cost: production triangle/k-core runs take naturally sparse edges
    * (links, citations, verified near-dup pairs), and a pipeline whose
    * projection densifies like this one must threshold or sample it
    * UPSTREAM — no orientation trick repairs a complete graph. */
  val EdgeThin = 20L

  private[graft] def cooccurrenceEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
    li.as("x").join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_suppkey") < col("y.l_suppkey"))
      .select(col("x.l_suppkey").as("a"), col("y.l_suppkey").as("b"))
      .distinct()
      .filter(pmod(col("a") * 31 + col("b"), lit(EdgeThin)) === 0)
  }

  private val cooccurrenceEdgesSql: String = s"""
      SELECT a, b FROM (
        SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
        FROM lineitem x JOIN lineitem y
          ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey)
      WHERE (a * 31 + b) % $EdgeThin = 0"""

  /** Gated query: triangles of the (thinned) supplier co-occurrence
    * graph. Emits (node, degree, n_tri) for every node on at least one
    * triangle — degree alongside so consumers can form the local
    * clustering coefficient 2·n_tri/(d·(d-1)) without a second query. */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Caches.track(cooccurrenceEdges(spark, dir).localCheckpoint(true))
    val deg = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("degree"))
    triangleCounts(e)
      .join(deg.withColumnRenamed("n", "node"), "node")
      .select(col("node"), col("degree"), col("n_tri"))
      .orderBy(col("node"))
  }

  /** Oracle: triangles as the classic 3-way self-join over the a<b
    * edge relation (each triangle appears once as a<b<c), corners
    * unioned back out for per-node counts. Pure semantics — no
    * orientation mirroring — so the gate proves the wedge algorithm
    * against the definition, not against itself. */
  val graphTrianglesSql: String = s"""
    WITH e AS ($cooccurrenceEdgesSql),
    deg AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3
        ON e3.a = e1.a AND e3.b = e2.b),
    corners AS (
      SELECT x AS node FROM tri UNION ALL
      SELECT y FROM tri UNION ALL
      SELECT z FROM tri)
    SELECT c.node, d.degree, CAST(COUNT(*) AS BIGINT) AS n_tri
    FROM corners c JOIN deg d ON d.n = c.node
    GROUP BY c.node, d.degree
    ORDER BY c.node"""

  /** k-core threshold and fixed peel rounds for the gated query. Both
    * engines run EXACTLY [[CoreRounds]] peels (peeling is idempotent
    * once converged, so extra rounds are free of semantic risk);
    * GraphSpec asserts the fixpoint is actually reached, so the gate
    * output IS the k-core, not a truncated peel. */
  val CoreK = 3
  val CoreRounds = 8

  /** k-core via fixed-round peeling: drop every node with degree < k,
    * recompute degrees, repeat. Converges to the maximal subgraph of
    * min-degree ≥ k in at most |V| rounds; real graphs settle in a
    * handful (the spec pins convergence at the gate scales).
    *
    * Scale shape: each round is one degree aggregate + two semi-joins
    * over the EDGE relation — no n² anywhere, and the relation only
    * shrinks. Same flat-lineage `localCheckpoint` discipline as the
    * other iterative operators; rounds are fixed, so no convergence
    * scan on the driver. */
  def kcore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = graft.Caches.track(
      edges.select(col("a"), col("b")).distinct().localCheckpoint(true))
    for (_ <- 1 to rounds) {
      val keep = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select(col("n"))
      e = graft.Caches.track(
        e.join(keep.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("n", "b"), Seq("b"), "left_semi")
          .select(col("a"), col("b"))
          .localCheckpoint(false))
    }
    e.select(col("a").as("n")).union(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("core_degree"))
      .filter(col("core_degree") >= k)
  }

  /** Gated query: the 3-core of the (thinned) supplier co-occurrence
    * graph (nodes surviving with their in-core degree). */
  def graphKcore(spark: SparkSession, dir: String): DataFrame =
    kcore(cooccurrenceEdges(spark, dir), CoreK, CoreRounds).orderBy(col("n"))

  /** Oracle: the identical fixed-round peel unrolled as generated CTEs
    * — same constants, same idempotence argument. Every CTE is
    * MATERIALIZED: each round references its predecessor ~5 times, so
    * an inlining engine would otherwise expand e8 into 5⁸ copies of
    * the base scan (measured as a too-many-open-files blowup). */
  val graphKcoreSql: String = {
    val steps = (1 to CoreRounds).map { i =>
      val prev = s"e${i - 1}"
      s"""k$i AS MATERIALIZED (
      SELECT n FROM (
        SELECT n, COUNT(*) AS d
        FROM (SELECT a AS n FROM $prev UNION ALL SELECT b FROM $prev)
        GROUP BY n) WHERE d >= $CoreK),
    e$i AS MATERIALIZED (
      SELECT a, b FROM $prev
      WHERE a IN (SELECT n FROM k$i) AND b IN (SELECT n FROM k$i))"""
    }.mkString(",\n    ")
    s"""
    WITH e0 AS MATERIALIZED ($cooccurrenceEdgesSql),
    $steps
    SELECT n, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM (SELECT a AS n FROM e$CoreRounds UNION ALL SELECT b FROM e$CoreRounds)
    GROUP BY n HAVING COUNT(*) >= $CoreK
    ORDER BY n"""
  }

  /** Oracle: the identical integer update, K iterations unrolled as
    * chained CTEs by the same constants — generated, so the SQL cannot
    * drift from the Scala loop. */
  val graphPageRankSql: String = {
    val base = Scale * 15 / 100
    val steps = (1 to Iters).map { i =>
      val prev = s"r${i - 1}"
      s"""r$i AS (
      SELECT n.node, CAST($base + COALESCE(m.in_mass, 0) AS BIGINT) AS r
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM(p.r * 85 // (e.odeg * 100)) AS BIGINT) AS in_mass
        FROM ed e JOIN $prev p ON e.src = p.node
        GROUP BY e.dst) m ON n.node = m.node)"""
    }.mkString(",\n    ")
    s"""
    WITH trade AS (
      SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    edges AS (SELECT c AS src, s AS dst FROM trade UNION SELECT s, c FROM trade),
    outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS odeg FROM edges GROUP BY src),
    ed AS (SELECT e.src, e.dst, o.odeg FROM edges e JOIN outdeg o ON e.src = o.src),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    r0 AS (SELECT node, CAST($Scale AS BIGINT) AS r FROM nodes),
    $steps
    SELECT node, r FROM r$Iters ORDER BY node"""
  }
}
