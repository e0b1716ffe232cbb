package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Caches, SparkEntry, TmpDirs}
import graft.sources.Tables

/** Curate probe of every traced run: passes over a fixed list of
  * `SparkEntry.queries`, each forced through `noop` with the inter-query
  * hygiene of `graft.Bench`. A digest of every result (row count, hash
  * sum, hash xor) is observed on the forcing write itself, so checking
  * it adds no job. The cold pass writes each result for the DuckDB
  * comparison made by run.py; the traced warm pass times each query and
  * must reproduce every cold digest. */
final class CurateProbe(ctx: Ctx) {
  private val r = ctx.report
  private val t = ctx.tracer
  private val dir = ctx.cfg.str("corpus")
  private val queries = ctx.cfg.strs("queries")
  private val coldDigest = mutable.Map.empty[String, String]

  private def spark = SparkSession.active

  /** Build, force and digest one query; hygiene after it is untimed. */
  private def query(q: String, parquetOut: Option[String]): String = {
    val obs = Observation(s"digest_$q")
    t.span(s"operators.$q") {
      val df = SparkEntry.queries(q)(spark, dir)
      val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
      val o = df.observe(obs, count(lit(1)), sum(pmod(h, lit(1000000007L))), bit_xor(h))
      parquetOut match {
        case None => o.write.mode("overwrite").format("noop").save()
        case Some(p) => o.coalesce(1).write.mode("overwrite").parquet(p)
      }
    }
    val digest = obs.get.values.map(String.valueOf).mkString("/")
    Caches.releaseAll(blocking = true)
    TmpDirs.releaseAll()
    spark.catalog.clearCache()
    System.gc()
    digest
  }

  def run(): Unit = {
    Tables.documents(spark, dir).createOrReplaceTempView("documents")
    Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings")
    queries.foreach(q => r.op(q) { coldDigest(q) = query(q, Some(s"${ctx.dir}/results/$q")); None })
    queries.foreach { q =>
      r.op(q) {
        val d = query(q, None)
        r.metrics(s"operators.${q}_s") = Stats.secs(t.byName(s"operators.$q").last.dur)
        if (coldDigest.get(q).contains(d)) None else Some(s"digest $d differs from cold pass ${coldDigest.get(q)}")
      }
    }
    r.details("oracle_sql") = queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
  }
}

/** Kernel probes for every traced run: each `graft.functions` kernel in a
  * `noop` select over the curate corpus, replicated so per-row work
  * outweighs per-job cost. Cost is executor CPU from the listener, minus
  * that of the same select without the kernel, per row. */
final class Probes(ctx: Ctx) {
  def run(): Unit = {
    val spark = SparkSession.active
    val dir = ctx.cfg.str("corpus")
    val rng = new scala.util.Random(7)
    val p = graft.functions.Portable.P
    val a = Seq.fill(64)(1L + rng.nextLong(p - 1))
    val b = Seq.fill(64)(rng.nextLong(p))
    val m = 8; val sub = 8; val k = 16; val nq = 64
    val cb = Array.fill(m, k, sub)(rng.nextGaussian() * 0.1)
    val tabs = Array.fill(nq, m, k)(rng.nextDouble())
    def replicated(df: org.apache.spark.sql.DataFrame, n: Int) =
      Caches.persist(df.crossJoin(spark.range(n).toDF("rep")))
    val docs = replicated(Tables.documents(spark, dir).select("doc_id", "text"),
      ctx.cfg.int("kernel_doc_replicas"))
    val vecs = replicated(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"),
      graft.functions.PqKernels.encode(col("embedding"), m, sub, k, cb).as("codes")),
      ctx.cfg.int("kernel_vec_replicas"))
    val nDocs = docs.count().toDouble
    val nVecs = vecs.count().toDouble
    val reps = 3
    def cpuNs(name: String)(df: => org.apache.spark.sql.DataFrame): Double = {
      ctx.tracer.span(s"functions.$name")(ctx.noopSecs(reps)(df))
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      ctx.jobs.snapshot().get(s"functions.$name").fold(0L)(_("cpu_ns")).toDouble / reps
    }
    val textBase = cpuNs("base_text")(docs.select(length(col("text"))))
    val vecBase = cpuNs("base_vec")(vecs.select(size(col("embedding")), size(col("codes"))))
    def kernel(name: String, rows: Double, base: Double)(df: => org.apache.spark.sql.DataFrame): Unit =
      ctx.report.metrics(s"functions.${name}_ns_per_row") = (cpuNs(name)(df) - base) / rows
    kernel("minhashSig", nDocs, textBase)(docs.select(
      graft.functions.MinHashSig.minhashSig(col("text"), graft.functions.Portable.ShingleN, a, b, p)))
    kernel("shingleHashes", nDocs, textBase)(docs.select(
      graft.functions.NgramHash60s.shingleHashes(col("text"), graft.functions.Portable.ShingleN)))
    kernel("simhash60", nDocs, textBase)(docs.select(graft.functions.SimHash60.simhash60(col("text"))))
    kernel("cosineSim", nVecs, vecBase)(vecs.select(
      graft.functions.CosineSimilarity.cosineSim(col("embedding"), reverse(col("embedding")))))
    kernel("pqAdc", nVecs, vecBase)(vecs.select(graft.functions.PqKernels.adc(col("codes"), nq, m, k, tabs)))
    ctx.moduleMetrics(3)(g => Some(g.takeWhile(_ != '.')).filter(_ == "functions"))
    Caches.releaseAll(blocking = true)
  }
}
