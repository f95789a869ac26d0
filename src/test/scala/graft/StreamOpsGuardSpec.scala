package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: every streaming harness under `streaming/` and
  * `pipeline/` runs its query through the one lifecycle
  * (`StreamOps.drain` over `StreamOps.startQuery`) and stages its
  * arrivals through the memoized stagers. A hand-written
  * start → drain → stop, a per-seat stage builder or another copy of the
  * staged events schema brings back the copies one harness removed. */
class StreamOpsGuardSpec extends AnyFunSuite {

  private val roots = Seq("streaming", "pipeline")
    .map(d => Paths.get(s"src/main/scala/graft/$d"))

  private lazy val sources: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    roots.flatMap { root =>
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map((p: Path) => p.getFileName.toString -> Files.readString(p)).toList
      finally walk.close()
    }.toMap
  }

  /** Source with comments blanked out, so a scaladoc that names a call
    * is not counted as one. */
  private def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  private def offsets(text: String, literal: String): Seq[Int] =
    Iterator.iterate(text.indexOf(literal))(i => text.indexOf(literal, i + 1))
      .takeWhile(_ >= 0).toSeq

  /** (file, innermost enclosing `def`) of every occurrence of `literal`
    * in code. */
  private def sites(literal: String): Set[(String, String)] =
    sources.toSeq.flatMap { case (file, src) =>
      val c = code(src)
      val defs = """\bdef\s+(\w+)""".r.findAllMatchIn(c)
        .map(m => m.start -> m.group(1)).toSeq
      offsets(c, literal).map(i =>
        file -> defs.takeWhile(_._1 < i).lastOption.fold("<top>")(_._2))
    }.toSet

  test("the scan sees the streaming and pipeline sources") {
    assert(Set("StreamOps.scala", "Wire.scala", "VotePipeline.scala")
      .subsetOf(sources.keySet))
  }

  test("memory sinks and writers are built only in StreamOps.startQuery " +
       "(and Wire's sink seam)") {
    assert(sites("format(\"memory\")") ==
      Set("StreamOps.scala" -> "startQuery", "Wire.scala" -> "write"))
    assert(sites(".writeStream") ==
      Set("StreamOps.scala" -> "startQuery", "Wire.scala" -> "write"))
  }

  test("processAllAvailable only in StreamOps.drain and the two " +
       "concurrent-query harnesses (t46, t48)") {
    assert(sites("processAllAvailable") == Set(
      "StreamOps.scala" -> "drain",
      "StreamOps.scala" -> "concurrentSharedSession",
      "StreamOps.scala" -> "twoHopRun"))
  }

  test("no per-seat stage builder: stageTopicFile and the " +
       "StreamOps.t…Stage memos are gone") {
    sources.foreach { case (file, src) =>
      assert(!src.contains("stageTopicFile"), file)
      assert("\"StreamOps\\.t\\w*Stage\"".r.findFirstIn(src).isEmpty, file)
    }
  }

  test("the staged five-column events schema is written once") {
    val ddl = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE\""
    assert(sources.values.map(offsets(_, ddl).size).sum == 1)
  }
}
