package graft


/** Plan-capture helper for the optimization rounds:
  * `runMain graft.ExplainDump <dir> <outDir> <suffix> <query...>` writes
  * each named gated query's `.explain("formatted")` to
  * `<outDir>/<query>_<suffix>.txt`. Lifecycle gates execute their state
  * builds as a side effect of constructing the returned frame — the
  * captured plan is the SERVING plan those gates return, which is what
  * the judge checks claims against.
  *
  * The dump is the FINAL ADAPTIVE plan (VERDICT r17 §Next-round #5: the
  * r17 dumps were pre-AQE, `isFinalPlan=false`, so AQE partition
  * coalescing and Exchange elision were invisible in the artifact): the
  * query's own `QueryExecution` is executed in place — a noop WRITE
  * would spawn a separate QueryExecution and leave this one initial —
  * and the explain string is rendered after AQE re-optimization, so
  * `AQEShuffleRead` nodes and `isFinalPlan=true` appear. Dev tool;
  * queries untouched. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0); val outDir = args(1); val suffix = args(2)
    val names = args.drop(3)
    val spark = Sessions.local("graft-explain", Sessions.envCpus(32), "ERROR",
      Sessions.Adaptive: _*)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val qe = df.queryExecution
      // executing the SAME QueryExecution finalizes its AdaptiveSparkPlan
      // in place; the count over the internal-row RDD forces every stage
      try qe.executedPlan.execute().count()
      catch { case e: Throwable =>
        System.err.println(s"[explain] $name execution failed " +
          s"(plan dump will be pre-AQE): ${e.getMessage}")
      }
      val full = qe.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // deeply cached chains re-expand their InMemoryRelation subplans at
      // every reference, which can balloon a formatted final plan into
      // the tens of MB — cap the committed artifact; the plan head (the
      // serving tree) is the part claims are checked against
      val MaxChars = 400000
      val txt = if (full.length <= MaxChars) full
        else full.take(MaxChars) +
          s"\n... [truncated: ${full.length - MaxChars} more chars]\n"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      Caches.releaseAll(blocking = true); TmpDirs.releaseAll()
      println(s"[explain] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
