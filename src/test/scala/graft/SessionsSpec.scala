package graft

import java.util.concurrent.{CyclicBarrier, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col

class SessionsSpec extends SparkSpec {

  private def shuffleCounts(df: DataFrame): Seq[Int] = df.queryExecution.executedPlan
    .collect { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }

  test("concurrent sized regions plan at their own counts and leave the session's") {
    val cached = spark.range(1000).toDF("id").persist()
    try SparkSpec.aqeOff(spark) {
      cached.count()
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      // both regions are entered before either plans, so a count written
      // to shared conf by one would be the count the other plans at
      val barrier = new CyclicBarrier(2)
      def region(n: Int): DataFrame = Sessions.sized(spark, n) { s =>
        barrier.await(60, TimeUnit.SECONDS)
        // a bound outside frame plans at n and still reads the caller's cache
        val df = Sessions.bind(s, cached).groupBy((col("id") % 7).as("k")).count()
        assert(shuffleCounts(df) == Seq(n), s"region at $n")
        assert(df.queryExecution.executedPlan
          .collect { case m: InMemoryTableScanExec => m }.nonEmpty)
        assert(df.collect().map(_.getLong(1)).sum == 1000L)
        df
      }
      var two, three: DataFrame = null
      Par.all(Seq(() => two = region(2), () => three = region(3)))
      assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
      // a returned frame plans at the caller's count, as one built outside
      assert(Seq(two, three).map(shuffleCounts) == Seq.fill(2)(Seq(before.toInt)))
    } finally cached.unpersist(true)
  }

  test("slotListed caps the clone's listing parallelism at the slots and never writes the caller's") {
    val key = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
    val slots = spark.sparkContext.defaultParallelism
    val before = spark.conf.get(key)
    assert(before.toInt > slots, "the default must exceed the slots for the cap to show")
    val df = Sessions.slotListed(spark) { s =>
      assert(s ne spark)
      assert(s.conf.get(key) == slots.toString)
      assert(spark.conf.get(key) == before)
      s.range(3).toDF("id")
    }
    assert(spark.conf.get(key) == before)
    // the returned frame is the caller's
    assert(df.sparkSession eq spark)
    // a lower value the caller set is kept
    SparkSpec.withConf(spark, key -> "2") {
      Sessions.slotListed(spark)(s => assert(s.conf.get(key) == "2"))
      assert(spark.conf.get(key) == "2")
    }
  }
}
