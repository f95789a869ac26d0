package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one session-scoped memo behind every cached build in graft: staged
  * topic files and layout directories, checkpointed build sides, trained
  * models, shared streaming runs. One map keyed by (session, memo name,
  * key), so one teardown ([[clearAll]]) releases everything and one set of
  * rules holds for every memo:
  *
  *  - The build runs OUTSIDE any map lock (get, build, putIfAbsent).
  *    Builds nest (a staged split reads a media payload that reads a
  *    table), and a nested `computeIfAbsent` on one map throws
  *    "Recursive update"; a lock held across a Spark job would also
  *    serialize unrelated callers. A rare duplicate build loses the race
  *    benignly: the winner's value is served, the loser's is released.
  *  - Keys hold the session OBJECT, never a hash of it, so two sessions
  *    never share an entry, and plan-derived key parts use [[planOf]]
  *    (structural equality, never a 32-bit hash).
  *  - A stopped session's entries are swept on every access, and one
  *    bound caps runaway callers (a full 309-seat Verify keeps 69
  *    entries; dropping everything costs recompute, never correctness).
  *  - A value that holds cache blocks implements [[Releasable]] and is
  *    released whenever its entry leaves the map. */
object SessionMemo {

  /** A memoized value that must free resources (persisted frames) when it
    * is evicted or cleared. */
  trait Releasable { def release(): Unit }

  private final case class Key(spark: SparkSession, name: String, key: Any)
  private val entries = new java.util.concurrent.ConcurrentHashMap[Key, Any]()
  private val MaxEntries = 1024

  /** The plan identity used in memo keys: the canonicalized analyzed plan
    * OBJECT. Its equality is structural, so it includes a LocalRelation's
    * data, which both `semanticHash()` and the plan string can miss. */
  def planOf(df: DataFrame): LogicalPlan = df.queryExecution.analyzed.canonicalized

  /** The value memoized under (spark, name, key), built on first use. */
  def apply[V](spark: SparkSession, name: String, key: Any)(build: => V): V =
    validated(spark, name, key, (_: V) => true)(build)

  /** A memoized staged directory: a hit only while it still exists on disk
    * (a cleaned scratch dir is staged again). */
  def stagedDir(spark: SparkSession, name: String, key: Any)(build: => String): String =
    validated(spark, name, key, (d: String) => new java.io.File(d).exists())(build)

  /** As [[apply]], but a stored value that fails `valid` is rebuilt. */
  def validated[V](spark: SparkSession, name: String, key: Any,
                   valid: V => Boolean)(build: => V): V = {
    sweep()
    val k = Key(spark, name, key)
    val hit = entries.get(k)
    if (hit != null && valid(hit.asInstanceOf[V])) hit.asInstanceOf[V]
    else {
      val built = build
      val won =
        if (hit == null) entries.putIfAbsent(k, built) == null
        else entries.replace(k, hit, built)
      if (won) {
        if (hit != null) release(hit)
        built
      } else {
        release(built)
        validated(spark, name, key, valid)(build)
      }
    }
  }

  /** Every value currently memoized under `name` for `spark`. */
  private[graft] def values(spark: SparkSession, name: String): Seq[Any] = {
    import scala.jdk.CollectionConverters._
    entries.asScala.collect {
      case (Key(s, n, _), v) if (s eq spark) && n == name => v
    }.toSeq
  }

  /** Drop (and release) every entry of every session: the one teardown
    * for Verify, Bench and the tools' cold repetitions. */
  def clearAll(): Unit = removeWhere(_ => true)

  private def sweep(): Unit = {
    removeWhere(_.spark.sparkContext.isStopped)
    if (entries.size > MaxEntries) clearAll()
  }

  private def removeWhere(p: Key => Boolean): Unit = {
    val it = entries.entrySet.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (p(e.getKey) && entries.remove(e.getKey, e.getValue)) release(e.getValue)
    }
  }

  private def release(v: Any): Unit = v match {
    case r: Releasable => try r.release() catch { case _: Throwable => () }
    case _ => ()
  }
}
