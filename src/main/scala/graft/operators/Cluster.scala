package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over near-dup pair relations — the step a
  * production dedup pipeline runs AFTER pair generation: verified pairs
  * (a,b) are edges, a duplicate group is a connected component, and the
  * pipeline keeps one representative per component. Pairs alone
  * under-delete: with docs {a,b,c} where (a,b) and (b,c) are near-dups
  * but (a,c) is not, pair-wise "drop the larger id" keeps {a,c} or
  * worse depending on order — component-wise keeps exactly one.
  *
  * Reference scope note: the reference engine
  * (`/root/reference/src/main/scala/com/pipeline/PipelineProcessor.scala:44-87`)
  * has no dedup at all; this is part of the driver-mandated
  * training-data extension surface.
  *
  * Algorithm: iterative min-label propagation. Every vertex starts
  * labeled with its own id; each round every vertex takes the min of
  * its own label and its neighbors' labels; fixpoint = every vertex
  * labeled with the min id of its component. Each round is ONE shuffle
  * (edge⋈label + groupBy-min) and the number of rounds is the graph
  * diameter. Near-dup graphs are short and fat (copies of a common
  * ancestor — stars and small cliques), so the diameter is small; for
  * adversarial long-chain graphs at 100 TB the drop-in upgrade is
  * [[connectedComponentsAlternating]] (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14), which contracts
  * chains in O(log²) rounds with the same per-round shuffle shape
  * (ScaleProbe: a 10× longer chain costs ~1.4×, 11 → 15 rounds).
  * Convergence is detected by the label-sum invariant: propagation only
  * ever DECREASES labels, so the sum of labels strictly decreases until
  * fixpoint — one cheap aggregate per round, no extra join.
  *
  * Every round ends in an EAGER `localCheckpoint`: an iterative plan
  * that unions/joins the previous round's frame embeds that plan TWICE
  * per round, so lineage grows exponentially and analysis alone OOMs
  * the driver near diameter 12. Checkpointing materializes the round
  * and restarts lineage from a leaf, keeping every round's plan
  * constant-size. On a cluster with executor loss a reliable
  * `checkpoint()` (HDFS dir) is the drop-in durable variant; local
  * checkpoint is the right default for a deterministic batch job that
  * simply reruns on failure. */
object Cluster {

  /** Hard round cap — `require`-failed rather than silently returning
    * unconverged labels (fail-loudly convention). Sum-based convergence
    * needs diameter+1 observations (one extra round to SEE the fixed
    * sum), so 64 rounds covers chains up to diameter 63 — far beyond
    * any real near-dup graph. */
  val MaxRounds = 64

  /** (id, cluster_id) for every vertex of `edges` (columns src, dst);
    * cluster_id = min vertex id of the component. Both endpoints of
    * every edge appear; isolated docs (no pair) are not vertices.
    *
    * The convergence loop is a DRIVER loop over aggregate scalars (one
    * sum per round), never over rows — labels stay distributed
    * throughout. The label sum is computed in decimal(38,0): ids can be
    * 60-bit hashes, and a Long sum that wrapped could fake a fixpoint.
    * Checkpoint blocks from earlier rounds are reclaimed by Spark's
    * ContextCleaner once the round's frame goes out of scope; the
    * returned frame is already materialized, so callers need no extra
    * persist. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val sym = graft.Caches.track(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true))
    // Lazy checkpoints: labelSum is the action that materializes each
    // round's blocks, so a round costs ONE job (compute + cache + sum)
    // instead of an eager-checkpoint job plus the aggregate.
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .localCheckpoint(false)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("cluster_id").cast("decimal(38,0)")))
        .head().getDecimal(0)
    var prevSum = labelSum(labels)
    // empty edge set (a clean corpus is legal input): sum over zero rows
    // is null — return the empty label frame instead of NPE-ing below
    if (prevSum == null) return labels
    var rounds = 0
    var converged = false
    while (!converged) {
      require(rounds < MaxRounds,
        s"connectedComponents did not converge in $MaxRounds rounds")
      val prop = sym.join(labels, sym("src") === labels("id"))
        .select(col("dst").as("id"), col("cluster_id"))
      val next = labels.select(col("id"), col("cluster_id")).union(prop)
        .groupBy(col("id")).agg(min(col("cluster_id")).as("cluster_id"))
        .localCheckpoint(false)
      val nextSum = labelSum(next)
      // labelSum materialized `next`, so the superseded round's label
      // copy is dead — RDD-level free (Dataset.unpersist is a no-op on
      // checkpoints; see Caches.freeCheckpoint)
      graft.Caches.freeCheckpoint(labels)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      rounds += 1
    }
    graft.Caches.track(labels)
  }

  /** Large-star/small-star alternating contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * adversarial-graph upgrade [[connectedComponents]]'s scaladoc
    * documents: min-label propagation needs DIAMETER rounds, so a long
    * chain (pathological for near-dup graphs, possible in arbitrary
    * edge inputs) needs thousands; star contraction halves chain
    * lengths every alternation and converges in O(log²) rounds with the
    * same one-shuffle-per-op shape.
    *
    *   - large-star(u): connect every neighbor LARGER than u to
    *     m = min(Γ(u) ∪ {u});
    *   - small-star(u): connect every neighbor smaller than u, and u
    *     itself, to the min of those.
    *
    * The fixpoint of the alternation is the canonical star forest —
    * every vertex directly linked to its component's minimum id — from
    * which labels read off without further iteration. Convergence test:
    * (count, Σ xxhash64(src,dst)) checksum equality as the cheap
    * per-round signal, CONFIRMED by an exact `exceptAll` emptiness
    * check before declaring fixpoint (a hash collision can fake the
    * checksum; it cannot fake set equality — the expensive check runs
    * only on checksum hits). Same output contract as
    * [[connectedComponents]]: (id, cluster_id) for every endpoint,
    * cluster_id = component min. Choose by graph shape: near-dup
    * graphs (stars/cliques, small diameter) → propagation (fewer
    * shuffles/round); unknown or chain-prone graphs → this. */
  def connectedComponentsAlternating(edges: DataFrame): DataFrame =
    alternatingWithRounds(edges)._1

  /** (labels, rounds) — rounds exposed for the convergence-bound tests
    * and the ScaleProbe chain benchmark. */
  private[graft] def alternatingWithRounds(edges: DataFrame): (DataFrame, Int) = {
    // vertex set from the RAW input (self-loop-only vertices must still
    // be labeled, matching connectedComponents' vertex contract)
    val vertices = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    val canon = edges.select(
        least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    var e = canon.localCheckpoint(false)
    def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    var prev = checksum(e)
    var rounds = 0
    if (prev._1 > 0) {
      var converged = false
      while (!converged) {
        require(rounds < MaxRounds,
          s"alternating star contraction did not converge in $MaxRounds rounds")
        val next = smallStar(largeStar(e)).localCheckpoint(false)
        val cur = checksum(next)
        // counts equal + hashes equal -> exact confirm (one-direction
        // exceptAll suffices when row counts match and rows are distinct)
        if (cur == prev) converged = next.exceptAll(e).isEmpty
        // the superseded round's checkpoint blocks are dead once `next`
        // is materialized (checksum above forced it) AND the confirm
        // compare ran — without the unpersist, MaxRounds edge-set copies
        // pin executor storage until the nondeterministic ContextCleaner.
        // RDD-level free: Dataset.unpersist is a silent no-op on
        // localCheckpoints (it only consults the CacheManager)
        graft.Caches.freeCheckpoint(e)
        prev = cur
        e = next
        rounds += 1
      }
    }
    // the surviving star forest feeds the caller's lazy labels plan, so
    // its blocks are released by the consumer's releaseAll, not here
    graft.Caches.track(e)
    // star forest, canonical (src < dst): src is the root. Members read
    // their root; roots (never a dst) label themselves.
    val labels = vertices
      .join(e.select(col("dst").as("id"), col("src").as("__root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__root"), col("id")).as("cluster_id"))
    (labels, rounds)
  }

  /** Emit (v, m(u)) for every neighbor v > u, m(u) = min(Γ(u) ∪ {u}).
    * One groupBy + one join, both keyed on u. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy(col("src")).agg(min(col("dst")).as("__mn"))
      .select(col("src"), least(col("src"), col("__mn")).as("__m"))
    sym.join(mins, "src")
      .filter(col("dst") > col("src"))
      .select(least(col("dst"), col("__m")).as("src"),
        greatest(col("dst"), col("__m")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Orient every edge large→small; emit (v, m(u)) for the smaller
    * neighbors v ≠ m(u) plus (u, m(u)), m(u) = min of the smaller
    * neighborhood. */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val mins = dir.groupBy(col("src")).agg(min(col("dst")).as("__m"))
    val j = dir.join(mins, "src")
    val moved = j.filter(col("dst") =!= col("__m"))
      .select(col("__m").as("src"), col("dst"))
    val self = j.select(col("__m").as("src"), col("src").as("dst"))
    moved.union(self).distinct()
  }
}
