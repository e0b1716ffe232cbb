package graft.sinks

import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, TimeUnit}

import org.apache.spark.sql.functions.{col, udf}
import graft.SparkSpec
import graft.config.SinkConf

object SinksSpec {
  // awaited from Spark's task threads, which share the JVM in local mode
  @volatile var barrier: CyclicBarrier = _
}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("persist submits its independent writes at once") {
    SinksSpec.barrier = new CyclicBarrier(3)
    // each write's one task waits for the other two writes' tasks, so
    // writes run one after another time out instead of meeting
    val meet = udf { (id: Long) =>
      SinksSpec.barrier.await(30, TimeUnit.SECONDS)
      id
    }.asNondeterministic()
    val df = spark.range(0, 1, 1, 1).select(meet(col("id")).as("id"))
    val out = Files.createTempDirectory("graft_sinks_par_").toString
    Sinks.persist(Seq(
        SinkConf("ok_with_date", "ok", Seq(s"$out/a", s"$out/b"), "parquet", "overwrite"),
        SinkConf("validation_ko", "ko", Seq(s"$out/c"), "json", "overwrite")),
      Map("ok_with_date" -> df, "validation_ko" -> df), kafkaServer = None)
    assert(Seq("a/ok", "b/ok").map(t => spark.read.parquet(s"$out/$t").count()) == Seq(1L, 1L))
    assert(spark.read.json(s"$out/c/ko").count() == 1L)
  }

  test("writes into one target run in declaration order: two APPEND sinks both land") {
    val out = Files.createTempDirectory("graft_sinks_same_").toString
    Sinks.persist(Seq(
        SinkConf("ok_with_date", "same", Seq(out), "parquet", "append"),
        SinkConf("validation_ko", "same", Seq(out), "parquet", "append")),
      Map("ok_with_date" -> Seq(1, 2).toDF("x"), "validation_ko" -> Seq(3, 4, 5).toDF("x")),
      kafkaServer = None)
    assert(spark.read.parquet(s"$out/same").as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4, 5))
  }
}
