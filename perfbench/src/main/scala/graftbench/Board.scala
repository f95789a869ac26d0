package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The board workload: graft's `SparkEntry.queries` seats, each fully
  * materialized through an order-independent digest of every output
  * column, so no column can be pruned away from the timed work. */
object Board {

  /** One seat's outcome: `digest` is `rows:hashsum`, or `None` if it threw. */
  final case class SeatRun(name: String, seconds: Double,
                           digest: Option[String], error: Option[String])

  /** Doubles are rounded to 6 decimals and -0.0 folded into 0.0, maps
    * become key-sorted entry arrays: the digest then ignores summation
    * order and map iteration order, which a correct seat may vary. */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) if needsCanon(et) => transform(c, x => canon(x, et))
    case st: StructType if st.fields.exists(f => needsCanon(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(
        struct(st.fields.toIndexedSeq.map(f =>
          canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c),
        e => struct(canon(e.getField("key"), kt).as("k"),
          canon(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  private def needsCanon(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsCanon(et)
    case st: StructType => st.fields.exists(f => needsCanon(f.dataType))
    case _ => false
  }

  /** Row count plus the wrapping-free sum of a 64-bit hash over every
    * column of every row: equal for any row order. */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.toIndexedSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)).as("n"), coalesce(sum("h"), lit(BigDecimal(0))).as("s"))
      .collect()(0)
    s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}"
  }

  /** Build and materialize one seat; the time covers both. */
  def runSeat(spark: SparkSession, name: String,
              fn: (SparkSession, String) => DataFrame, dir: String): SeatRun = {
    val t0 = System.nanoTime()
    try {
      val d = digest(fn(spark, dir))
      SeatRun(name, (System.nanoTime() - t0) / 1e9, Some(d), None)
    } catch {
      case e: Throwable =>
        SeatRun(name, (System.nanoTime() - t0) / 1e9, None,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"))
    }
  }

  /** Seats in the order a seed gives: the same seed, the same order. */
  def shuffled(names: Seq[String], seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(names.sorted)
}
