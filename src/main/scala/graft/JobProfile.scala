package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job wall-clock profiler for one gated query:
  * `runMain graft.JobProfile <dir> <query> [runs]` runs the query
  * (default twice — first run warms JIT/codegen, LAST run is reported)
  * under a [[SparkListener]] that records every Spark job's submission
  * → completion wall time, its first stage's name (the call site), and
  * the summed task time / shuffle bytes of its stages. Output: one line
  * per job in submission order plus a gap column (driver-side time
  * since the previous job's completion — catalog work, parquet
  * footer reads, plan analysis, lease/file IO all show up there), so
  * "where does this gate's wall time actually go" is answerable per
  * guide §1 without the UI (headless container). Dev tool only — the
  * bench contract and the gated queries are untouched. */
object JobProfile {

  private final case class JobRec(id: Int, desc: String,
      submitted: Long, var completed: Long = 0L,
      var taskTimeMs: Long = 0L, var shuffleRead: Long = 0L,
      var shuffleWrite: Long = 0L, var site: String = "",
      var cpuMs: Long = 0L, var gcMs: Long = 0L, var deserMs: Long = 0L,
      var tasks: Int = 0)

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val name = args(1)
    val runs = if (args.length > 2) args(2).toInt else 2
    // Bench's session conf, so a profile measures what the bench does
    val spark = Sessions.local("graft-jobprofile", Sessions.envCpus(32), "ERROR",
      Sessions.Adaptive: _*)

    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val byId = mutable.Map.empty[Int, JobRec]
    val stageToJob = mutable.Map.empty[Int, JobRec]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val rec = JobRec(e.jobId,
          Option(e.properties).map(_.getProperty("spark.job.description"))
            .filter(_ != null).getOrElse(""), e.time)
        rec.site = e.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n')).getOrElse("")
        jobs += rec; byId(e.jobId) = rec
        e.stageIds.foreach(stageToJob(_) = rec)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        byId.get(e.jobId).foreach(_.completed = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        stageToJob.get(e.stageInfo.stageId).foreach { r =>
          r.taskTimeMs += e.stageInfo.taskMetrics.executorRunTime
          r.shuffleRead += e.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
          r.cpuMs += e.stageInfo.taskMetrics.executorCpuTime / 1000000L
          r.gcMs += e.stageInfo.taskMetrics.jvmGCTime
          r.deserMs += e.stageInfo.taskMetrics.executorDeserializeTime
          r.tasks += e.stageInfo.numTasks
        }
      }
    }

    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    val fn = SparkEntry.queries(name)
    (1 until runs).foreach { _ =>
      force(fn(spark, dir))
      Caches.releaseAll(blocking = true); spark.catalog.clearCache()
      org.apache.spark.sql.graft.Bridge.resetStreamingStateMaintenance()
      TmpDirs.releaseAll(); System.gc()
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    force(fn(spark, dir))
    val elapsed = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let the async listener bus drain the last events
    Caches.releaseAll(blocking = true); TmpDirs.releaseAll()

    println(f"[profile] $name total=$elapsed%.3f s jobs=${jobs.size}")
    var prevEnd = 0L
    var sumWall = 0L; var sumGap = 0L
    jobs.sortBy(_.submitted).foreach { j =>
      val wall = math.max(0L, j.completed - j.submitted)
      val gap = if (prevEnd == 0) 0L else math.max(0L, j.submitted - prevEnd)
      prevEnd = math.max(prevEnd, j.completed)
      sumWall += wall; sumGap += gap
      val label = if (j.desc.nonEmpty) j.desc else j.site
      println(f"[job] id=${j.id}%4d wall=${wall}%6d ms gap=${gap}%6d ms " +
        f"task=${j.taskTimeMs}%7d ms cpu=${j.cpuMs}%7d ms gc=${j.gcMs}%5d ms " +
        f"deser=${j.deserMs}%6d ms nt=${j.tasks}%4d " +
        f"shr=${j.shuffleRead}%9d shw=${j.shuffleWrite}%9d  $label")
    }
    println(f"[profile] sum_job_wall=${sumWall / 1000.0}%.3f s " +
      f"sum_gaps=${sumGap / 1000.0}%.3f s (driver-side/non-job)")
    spark.stop()
  }
}
