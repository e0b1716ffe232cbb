package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — the driver always passes two;
    // extra names are a dev-only filter for fast single-operator gating
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val spark = Sessions.local("graft-verify", Sessions.envCpus(4), "WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a STALE result from a previous run in the same outDir would
        // make the driver's compare validate outdated output and mask
        // this failure as a PASS — remove it so the gate records a
        // missing result instead
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"$outDir/$name"))
      }
      finally {
        Caches.releaseAll(); TmpDirs.releaseAll()
        // stderr-only timing (the stdout/output contract is untouched):
        // Verify shares the driver's oracle time budget, so its own
        // per-query wall must be attributable without a separate run
        System.err.println(f"[verify-sec] $name ${(System.nanoTime() - t0) / 1e9}%.2f")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
