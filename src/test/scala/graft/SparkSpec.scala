package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.local("graft-test", 4, "WARN")

  /** Run `f` with AQE off, so `executedPlan` shows every exchange
    * statically instead of one unexpanded adaptive leaf. */
  def aqeOff[A](spark: SparkSession)(f: => A): A =
    withConf(spark, "spark.sql.adaptive.enabled" -> "false")(f)

  /** Run `f` with one SQL conf key set on `spark`, then restore it. */
  def withConf[A](spark: SparkSession, kv: (String, String))(f: => A): A = {
    val prev = spark.conf.get(kv._1)
    spark.conf.set(kv._1, kv._2)
    try f finally spark.conf.set(kv._1, prev)
  }
}
