package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: every driver session in `src/main` comes from the one
  * bootstrap ([[Driver.session]] over [[TmpDirs.timedSessionBuilder]]),
  * and the only mains are the two driver-contract mains and the two
  * tools. A second builder or a second `SPARK_GRAFT_CPUS` read brings
  * back the drift one bootstrap removed (time zone, AQE advisory,
  * optimizer rules, core defaults differing per main). */
class DriverGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Map[Path, String] = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p) -> Files.readString(p)).toMap
    finally walk.close()
  }

  private def hits(pattern: String): Map[String, Int] =
    sources.map { case (p, src) => p.toString -> pattern.r.findAllIn(src).size }
      .filter(_._2 > 0)

  test("the scan sees the main sources") {
    assert(sources.keys.exists(_.endsWith("TmpDirs.scala")))
  }

  test("one SparkSession builder, in TmpDirs.timedSessionBuilder") {
    assert(hits("""SparkSession\s*\.\s*builder\b|new\s+SparkSession\s*\.\s*Builder""") ==
      Map("graft/TmpDirs.scala" -> 1))
    val src = sources(Paths.get("graft/TmpDirs.scala"))
    val body = src.substring(src.indexOf("def timedSessionBuilder"))
    assert(body.indexOf("SparkSession.builder()") < body.indexOf("\n  }"),
      "the builder call is outside timedSessionBuilder")
  }

  test("four mains: Bench, Verify, tools.Probe, tools.ScaleUp") {
    assert(hits("""def main\s*\(""") == Map(
      "graft/Bench.scala" -> 1, "graft/Verify.scala" -> 1,
      "graft/tools/Probe.scala" -> 1, "graft/tools/ScaleUp.scala" -> 1))
    assert(hits("""extends\s+App\b""").isEmpty)
  }

  test("SPARK_GRAFT_CPUS is read only by Driver") {
    assert(hits("""(sys\.env|getenv)[^\n]*"SPARK_GRAFT_CPUS"""").keySet ==
      Set("graft/Driver.scala"))
  }
}
