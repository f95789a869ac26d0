package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A seat that
  * throws writes no parquet dir; it is listed in failed.json (seat →
  * error class and message) so the compare counts it as failed instead
  * of silently dropping it. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Spark's stock adaptive settings by default = the driver's gate
    // config; SPARK_GRAFT_AQE=1 runs the dump under the SAME adaptive
    // config the bench times, so the timed configuration is
    // differentially validated against the DuckDB oracle too
    val spark = Driver.session(aqeByDefault = false)
    new java.io.File(outDir).mkdirs()
    // local-iteration filter, same contract as Bench's: comma-separated
    // name prefixes; unset = everything (the driver always runs unset)
    val selected = sys.env.get("SPARK_GRAFT_VERIFY_FILTER") match {
      case Some(p) =>
        val prefixes = p.split(",").map(_.trim).filter(_.nonEmpty)
        SparkEntry.queries.filter { case (n, _) => prefixes.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e)
      }
    }
    def q(s: String): String = Driver.jsonString(s)
    val failedJson = failed.map { case (name, e) =>
      s"${q(name)}: {${q("error")}: ${q(Driver.errorClass(e))}, " +
        s"${q("message")}: ${q(String.valueOf(e.getMessage))}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed.json"), failedJson)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // release the board-run memos before teardown — nothing may outlive
    // the run
    SessionMemo.clearAll()
    spark.stop()
  }
}
