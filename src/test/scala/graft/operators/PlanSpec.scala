package graft.operators

import graft.{Caches, SparkEntry, SparkSpec}

/** Suite-wide physical-plan audit — the 100 TB shape invariants, checked
  * over EVERY gated query so a regression in any operator's plan fails
  * CI, not the next scale test. */
class PlanSpec extends SparkSpec {

  /** The only sanctioned nested-loop joins: a tiny broadcast side with a
    * genuinely non-equi condition (the brute-force ANN query set, and
    * the 16-row IVF codebook) — both O(corpus · small-constant). */
  private val bnljAllowed = Set("sim_bruteforce_topk", "sim_prefix_topk",
    "sim_ivf_topk", "sim_ivf_trained", "sim_ivf_from_codebook",
    "sim_ivf_auto_from_codebook", "sim_ivf_pq_topk", "sim_mips_topk",
    "tx_hybrid_rrf", "sim_cluster_card",
    // embedding decontamination: the broadcast side is the EVAL SET
    // (fixed-size by nature), the join condition a cosine threshold —
    // O(corpus · |bench|) map-side kernels, the documented exact form
    "dd_embed_decontaminate",
    // the recall monitor's EXACT arm is simBruteForceTopK's sanctioned
    // broadcast-query non-equi join over a fixed query sample
    "sim_recall_report",
    // the banding tuner is CORPUS-INDEPENDENT: 5 literal configs
    // broadcast-crossed with a constant 1024-point grid — O(1) work
    // regardless of data scale, the one cross join that cannot grow
    "dd_lsh_tune")

  test("no gated query plans a CartesianProduct, and BNLJ only where sanctioned") {
    SparkEntry.queries.foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sf()).queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct"), s"$name plans a CartesianProduct")
        if (!bnljAllowed(name))
          assert(!plan.contains("BroadcastNestedLoopJoin"),
            s"$name plans a BroadcastNestedLoopJoin")
      } finally Caches.releaseAll()
    }
  }

  test("no Window runs with an empty partitionSpec (the 'No Partition Defined' warning)") {
    // an empty partitionSpec is exactly what triggers Spark's "No
    // Partition Defined for Window operation" warning AND a
    // single-partition global sort of the window input; every
    // deliberately-tiny window (rank tails, per-corpus stats frames)
    // must say so with partitionBy(lit(1)) — same execution, no
    // warning flood burying real signals in the bench tail, and this
    // static check pins the sweep so it cannot regress
    // AQE OFF for the walk: with it on, executedPlan is an unexpanded
    // AdaptiveSparkPlan leaf and collect() sees no Window at all (the
    // PlanGold lesson)
    import org.apache.spark.sql.execution.window.WindowExec
    SparkSpec.aqeOff(spark) {
      val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
        try {
          val bad = fn(spark, sf()).queryExecution.executedPlan.collect {
            case w: WindowExec if w.partitionSpec.isEmpty => w
          }
          if (bad.isEmpty) None else Some(s"$name (${bad.size})")
        } finally Caches.releaseAll()
      }
      assert(offenders.isEmpty,
        s"Windows with no partitionSpec in: ${offenders.mkString(", ")} — " +
          "partition by a constant NON-FOLDABLE key where a key is " +
          "semantically absent (lit(1) gets stripped by " +
          "EliminateWindowPartitions)")
    }
  }

  test("dimension joins broadcast; scans push filters; top-k never global-sorts") {
    val broadcastExpected = Seq("q2_customer_by_region", "q3_shipping_priority",
      "q15_top_supplier_revenue", "q16_nations_having")
    broadcastExpected.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$name should broadcast its dim side")
      Caches.releaseAll()
    }
    val s1 = SparkEntry.queries("s1_scan_prune_filter")(spark, sf())
      .queryExecution.executedPlan.toString
    assert(s1.contains("PushedFilters: [") && !s1.contains("PushedFilters: []"),
      "s1 filter must reach the parquet scan")
    val q9 = SparkEntry.queries("q9_top_orders")(spark, sf())
      .queryExecution.executedPlan.toString
    assert(q9.contains("TakeOrderedAndProject"), "q9 top-k must not global-sort")
  }

  test("catalog statistics drive the dim broadcast with no hint in the query") {
    // gated queries hand-hint broadcast(dim) because their inputs are
    // bare parquet paths read fresh per query — the right call for a
    // library function that cannot assume a catalog. In a deployed
    // warehouse the same decision comes from ANALYZE'd table statistics
    // with NO hint in the query; this pins that path.
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("graft_stats").toFile
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      graft.sources.Tables.nation(spark, sf())
        .write.option("path", s"${tmp.getAbsolutePath}/n").saveAsTable("stats_nation")
      graft.sources.Tables.customer(spark, sf())
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .write.option("path", s"${tmp.getAbsolutePath}/c").saveAsTable("stats_customer")
      spark.sql("ANALYZE TABLE stats_nation COMPUTE STATISTICS")
      spark.sql("ANALYZE TABLE stats_customer COMPUTE STATISTICS")
      // the ANALYZE'd stats are in the catalog and reach the optimizer
      val desc = spark.sql("DESC EXTENDED stats_nation").collect().map(_.mkString("|"))
      assert(desc.exists(r => r.contains("Statistics") && r.contains("rows")),
        s"ANALYZE must record size+rowcount stats:\n${desc.mkString("\n")}")
      val est = spark.table("stats_nation").queryExecution.optimizedPlan.stats.sizeInBytes
      assert(est > 0 && est < 10L * 1024 * 1024,
        s"dim size estimate $est should be tiny and finite")
      // un-hinted join: the planner picks broadcast from the estimate
      val joined = spark.table("stats_customer")
        .join(spark.table("stats_nation"), col("c_nationkey") === col("n_nationkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"stats-known tiny dim must broadcast with no hint:\n$plan")
      // negative control: threshold off -> the SAME un-hinted query
      // sort-merges, proving the size estimate (not a residual hint or
      // a default) drove the broadcast above
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val noBcast = spark.table("stats_customer")
        .join(spark.table("stats_nation"), col("c_nationkey") === col("n_nationkey"))
        .queryExecution.executedPlan.toString
      assert(noBcast.contains("SortMergeJoin") && !noBcast.contains("BroadcastHashJoin"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.sql("DROP TABLE IF EXISTS stats_nation")
      spark.sql("DROP TABLE IF EXISTS stats_customer")
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
  }

  test("co-bucketed lineitem-orders join plans with no Exchange on either side") {
    // the write-once/join-many co-partitioning SCALING.md relies on:
    // both facts bucketed on the order key with one bucket count must
    // sort-merge join straight off the bucketed scans
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucketed").toFile
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the join planner must consider distribution
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = graft.sources.Tables.lineitem(spark, sf())
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      val ord = graft.sources.Tables.orders(spark, sf())
        .select("o_orderkey", "o_orderdate", "o_totalprice")
      val (liB, ordB) = graft.sources.Bucketing.coBucket(spark,
        li, "li_bucketed", "l_orderkey",
        ord, "ord_bucketed", "o_orderkey",
        buckets = 8, basePath = tmp.getAbsolutePath)
      val joined = liB.join(ordB, liB("l_orderkey") === ordB("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle either side:\n$plan")
      // and the result is still correct
      assert(joined.count() === li.count())
      // contrast: the same join off the raw parquet scans DOES shuffle
      val unbucketed = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(unbucketed.contains("Exchange"),
        "sanity: the unbucketed join should plan an Exchange")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
  }
}
