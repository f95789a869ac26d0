package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    TmpDirs.install()
    // see Bench.main: load-order-independent ImageIO cache opt-out
    javax.imageio.ImageIO.setUseCache(false)
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // fork-free local checkpoint renames (see TmpDirs.localFsFastConfs)
    if (sys.env.getOrElse("SPARK_GRAFT_LOCALFS_FAST", "1") == "1")
      TmpDirs.localFsFastConfs.foreach { case (k, v) => builder.config(k, v) }
    // SPARK_GRAFT_AQE=1: run the correctness dump under the SAME adaptive
    // config the bench times (Bench.scala runs AQE on by default), so the
    // timed configuration is differentially validated against the DuckDB
    // oracle — not just the static-plan one. Default off = the driver's
    // gate config, unchanged.
    if (sys.env.getOrElse("SPARK_GRAFT_AQE", "0") == "1") {
      builder.config("spark.sql.adaptive.enabled", "true")
      builder.config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // coalesce tiny shuffles to the TARGET SIZE (often 1 partition)
      // instead of the core count — interleaved A/B (AqeAb mode pfirst):
      // 57.3 -> 55.4 s over 243 batch seats, worst seat +0.004 s
      builder.config(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      builder.config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // r17: the NativeVectorMathRule fusion must be installed in
    // EVERY driving session (it was previously spec-only - the graded
    // similarity paths ran interpreted HOF dot products)
    graft.functions.GraftExtensions.installOptimizations(spark)
    new java.io.File(outDir).mkdirs()
    // local-iteration filter, same contract as Bench's: comma-separated
    // name prefixes; unset = everything (the driver always runs unset)
    val selected = sys.env.get("SPARK_GRAFT_VERIFY_FILTER") match {
      case Some(p) =>
        val prefixes = p.split(",").map(_.trim).filter(_.nonEmpty)
        SparkEntry.queries.filter { case (n, _) => prefixes.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
    // release the board-run memos before teardown — nothing may outlive
    // the run
    SessionMemo.clearAll()
    spark.stop()
  }
}
