package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Source scan: every session-scoped cache in `src/main` goes through
  * [[SessionMemo]]. A hand-rolled memo map, a per-module clear hook or a
  * session identity-hash key brings back the drift one mechanism removed
  * (teardown lists that miss a module, keys that collide across
  * sessions, builds run under a map lock). */
class SessionMemoGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** The two concurrent maps that are not memos: a test failpoint
    * registry and a lock table. */
  private val allowedMaps = Seq(
    "val hooks =\n    new java.util.concurrent.ConcurrentHashMap",
    "val cboDdlLocks =\n    new java.util.concurrent.ConcurrentHashMap")

  private lazy val sources: Map[Path, String] = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith("SessionMemo.scala"))
      .map(p => p -> Files.readString(p)).toMap
    finally walk.close()
  }

  private def offenders(pattern: String): Seq[Path] =
    sources.collect { case (p, src) if pattern.r.findFirstIn(src).isDefined => p }
      .toSeq.sortBy(_.toString)

  test("the scan sees the main sources") {
    assert(sources.keys.exists(_.endsWith("StreamOps.scala")))
  }

  test("no ConcurrentHashMap outside SessionMemo but the allow-listed two") {
    val hits = sources.toSeq.flatMap { case (p, src) =>
      val rest = allowedMaps.foldLeft(src)(_.replace(_, ""))
      if (rest.contains("ConcurrentHashMap")) Some(p) else None
    }
    assert(hits.isEmpty, s"hand-rolled concurrent maps in: ${hits.mkString(", ")}")
    allowedMaps.foreach { m =>
      assert(sources.values.exists(_.contains(m)), s"allow-list entry gone: $m")
    }
  }

  test("no per-module clearCaches hook or sweep helper") {
    assert(offenders("""def clearCaches\b""").isEmpty)
    assert(offenders("""def sweep\b""").isEmpty)
  }

  test("no System.identityHashCode key") {
    assert(offenders("""System\.identityHashCode""").isEmpty)
  }
}
