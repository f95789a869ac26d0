package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** The session-memo rules every cached build in graft relies on. */
class SessionMemoSpec extends SparkSpec {

  private def counted(builds: AtomicInteger, v: Int): Int = {
    builds.incrementAndGet(); v
  }

  test("a second identical call is a hit") {
    val builds = new AtomicInteger()
    val a = SessionMemo(spark, "spec.hit", ("k", 1))(counted(builds, 7))
    val b = SessionMemo(spark, "spec.hit", ("k", 1))(counted(builds, 8))
    assert((a, b) === ((7, 7)))
    assert(builds.get === 1)
    // plan-keyed: two reads of the same table are one plan identity
    val dir1 = graft.ops.Storage.codecRoundTrip(Tables.region(spark, sfDir), "zstd")
    val dir2 = graft.ops.Storage.codecRoundTrip(
      spark.read.parquet(s"$sfDir/region.parquet"), "zstd")
    assert(dir1 === dir2)
  }

  test("two sessions never share an entry") {
    val other = spark.newSession()
    val a = SessionMemo(spark, "spec.sessions", 1)(1)
    val b = SessionMemo(other, "spec.sessions", 1)(2)
    assert((a, b) === ((1, 2)))
    assert(SessionMemo.values(other, "spec.sessions") === Seq(2))
  }

  test("a nested build (memo A's build calls memo B) completes") {
    val v = SessionMemo(spark, "spec.outer", 1) {
      SessionMemo(spark, "spec.inner", 1)(20) + 1
    }
    assert(v === 21)
    assert(SessionMemo.values(spark, "spec.inner") === Seq(20))
  }

  test("a deleted staged directory is staged again") {
    val builds = new AtomicInteger()
    def stage(): String = SessionMemo.stagedDir(spark, "spec.staged", 1) {
      builds.incrementAndGet()
      TmpDirs.create("graft_memo_spec_").toString
    }
    val first = stage()
    assert(stage() === first)
    assert(builds.get === 1)
    new java.io.File(first).delete()
    val second = stage()
    assert(second != first)
    assert(builds.get === 2)
    assert(new java.io.File(second).exists())
  }

  test("clearing releases a persisted corpus index") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val idx = graft.ext.DedupOps.corpusIndex(docs, 3)
    assert(idx.digests.storageLevel !== StorageLevel.NONE)
    SessionMemo.clearAll()
    assert(idx.digests.storageLevel === StorageLevel.NONE)
    assert(idx.sh.storageLevel === StorageLevel.NONE)
    assert(idx.sz.storageLevel === StorageLevel.NONE)
  }

  test("a stopped session's entries are swept") {
    // stopping a session stops its SparkContext, which this JVM's shared
    // spec session cannot afford: run the check in a child JVM
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    import scala.jdk.CollectionConverters._
    val jvmArgs = rt.getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++
      jvmArgs ++ Seq("-cp", System.getProperty("java.class.path"),
        SessionMemoSweepCheck.getClass.getName.stripSuffix("$"))
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'),
        l => out.append(l).append('\n')))
    assert(code === 0, out.toString)
    assert(out.toString.contains("swept"), out.toString)
  }
}

/** Child-JVM half of the sweep spec: memoize under a session, stop it,
  * then touch the memo from a new session. */
object SessionMemoSweepCheck {
  private def session(): SparkSession = {
    val s = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val first = session()
    SessionMemo(first, "spec.sweep", 1)("kept while live")
    require(SessionMemo.values(first, "spec.sweep").nonEmpty)
    first.stop()
    val second = session()
    try {
      SessionMemo(second, "spec.sweep", 1)("built anew")
      require(SessionMemo.values(first, "spec.sweep").isEmpty,
        "a stopped session's entry survived the next access")
      println("swept")
    } finally second.stop()
  }
}
