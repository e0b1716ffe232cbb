package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.graft.Bridge

/** The one place `spark.sql.shuffle.partitions` and the file-listing
  * parallelism are decided.
  *
  * [[local]] builds the local-mode session of every dev/bench main and of
  * the test suite, at one shuffle partition per core. [[sized]] runs a
  * region of code at another count, and [[slotListed]] one whose
  * distributed file listings run at most one task per slot, without
  * writing the caller's conf, so concurrent regions on one session
  * cannot leak their settings into each other or into the session. */
object Sessions {

  private val ShufflePartitions = "spark.sql.shuffle.partitions"
  private val ListingParallelism = "spark.sql.sources.parallelPartitionDiscovery.parallelism"

  /** The AQE keys of Bench's session; the tools that must plan exactly
    * like the bench (JobProfile, ExplainDump) pass the same ones. */
  val Adaptive: Seq[(String, String)] = Seq("spark.sql.adaptive.enabled" -> "true")

  /** The core count a tool runs at: `SPARK_GRAFT_CPUS`, else `default`. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC session
    * time, no UI, and `confs` on top. */
  def local(app: String, cpus: Int, logLevel: String,
      confs: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config(ShufflePartitions, cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    // the WARN logged per unpersisted local checkpoint ("lineage has been
    // truncated") carries nothing here: Caches.freeCheckpoint only frees
    // provably dead iterates, and a line per freed round buries real
    // warnings. Scoped to the one emitting logger.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)
    s
  }

  /** Run `f` on a clone of `spark` whose shuffle partition count is `n`.
    *
    * The clone starts from the caller's CURRENT conf (an AQE-off plan
    * check still reaches the region) and shares its CacheManager, so
    * persisted inputs still hit. Only frames of the clone plan at `n`:
    * a frame built outside that roots a plan inside must be rebound
    * with [[bind]]; one that only joins in need not be, since the
    * executing frame's session plans the whole tree. A Dataset `f`
    * returns is rebound to `spark`, so whatever it runs after the
    * region plans at the caller's count, as a frame built outside would.
    * A body that calls session-taking helpers names the clone `spark`,
    * shadowing the caller's, so no call in it reaches the caller's conf.
    *
    * Stateful streaming fixes its partition count in the checkpoint at
    * the query's first `start()`, so a stream gate starts its queries
    * inside the region. */
  def sized[A](spark: SparkSession, n: Int)(f: SparkSession => A): A =
    onClone(spark, ShufflePartitions -> n.toString)(f)

  /** Run `f` on a clone of `spark` whose distributed file listings run
    * at most one task per task slot: the listing parallelism is the
    * lower of the caller's current value and
    * `sparkContext.defaultParallelism`. Otherwise as [[sized]]: the
    * caller's conf is never written and a Dataset `f` returns is rebound
    * to `spark`.
    *
    * Spark lists the paths of a relation in a distributed job once they
    * exceed `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (32), with one task per path up to the parallelism (10,000). Each
    * task lists a path in milliseconds but first deserializes the
    * session's Hadoop conf, so tasks beyond the slot count only queue
    * for a slot and pay that cost again. The listing stays distributed,
    * as an object store needs; the threshold is left alone, since
    * raising it would list every path serially on the driver. */
  def slotListed[A](spark: SparkSession)(f: SparkSession => A): A = {
    val slots = spark.sparkContext.defaultParallelism
    val cap = math.min(spark.conf.get(ListingParallelism).toInt, slots)
    onClone(spark, ListingParallelism -> cap.toString)(f)
  }

  /** `f` on a clone of `spark` with `kv` set; a Dataset it returns is
    * rebound to `spark`. */
  private def onClone[A](spark: SparkSession, kv: (String, String))(f: SparkSession => A): A = {
    val region = Bridge.cloneSession(spark)
    region.conf.set(kv._1, kv._2)
    f(region) match {
      case ds: Dataset[_] => Bridge.ofSession(spark, ds).asInstanceOf[A]
      case a => a
    }
  }

  /** `ds` as a Dataset of `session`: same plan, planned under its conf. */
  def bind[T](session: SparkSession, ds: Dataset[T]): Dataset[T] =
    Bridge.ofSession(session, ds)
}
