package graft

import org.apache.spark.sql.SparkSession

/** The one bootstrap every driving main (Bench, Verify, tools.Probe,
  * tools.ScaleUp) starts from, so the session that is timed, graded and
  * probed is the same session: scratch and ImageIO set-up first, then
  * [[TmpDirs.timedSessionBuilder]] at `SPARK_GRAFT_CPUS` cores, then the
  * optimizer rules. Hand-built copies of this sequence had drifted (time
  * zone, AQE advisory, a missing vector-math rule, three different core
  * defaults).
  */
object Driver {
  /** Local cores and shuffle width of every driver session. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `aqeByDefault`: what an unset `SPARK_GRAFT_AQE` means — true for the
    * timed board (Bench, Probe), false for the graded dump (Verify). */
  def session(aqeByDefault: Boolean): SparkSession = {
    TmpDirs.install()
    // Explicit here, not only in the codec objects' static init: the
    // flag must hold for EVERY ImageIO user in this run (incl. Spark's
    // `image` datasource) regardless of which class loads first.
    javax.imageio.ImageIO.setUseCache(false)
    val spark = TmpDirs.timedSessionBuilder(cpus, aqeByDefault).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the NativeVectorMathRule fusion must be installed in EVERY driving
    // session (it was once spec-only - the graded similarity paths ran
    // interpreted HOF dot products)
    graft.functions.GraftExtensions.installOptimizations(spark)
    spark
  }

  /** A failure's short class name, the form drivers report it in. */
  def errorClass(e: Throwable): String = e.getClass.getName.split('.').last

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in builder-authored SQL or an error message
    * would otherwise make a reader's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
