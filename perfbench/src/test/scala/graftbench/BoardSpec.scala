package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BoardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "3").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def frame = spark.range(0, 500).select(
    col("id"), (col("id") / 7.0).as("ratio"), concat(lit("s"), col("id")).as("name"),
    array(col("id").cast("double") * 0.5, lit(-0.0)).as("vec"),
    map(lit("k"), col("id")).as("props"),
    struct(col("id").as("a"), (col("id") * 1.5).as("b")).as("pair"))

  test("a digest ignores row order and partitioning") {
    val a = Board.digest(frame)
    assert(Board.digest(frame.orderBy(col("id").desc)) == a)
    assert(Board.digest(frame.repartition(7)) == a)
    assert(a.startsWith("500:"))
  }

  test("a digest is stable under summation-order noise and signed zero") {
    val noisy = frame.withColumn("ratio", col("ratio") + lit(1e-12))
      .withColumn("vec", transform(col("vec"), x => x + lit(0.0)))
    assert(Board.digest(noisy) == Board.digest(frame))
  }

  test("a digest sees a changed value, a lost row and a duplicated row") {
    val a = Board.digest(frame)
    assert(Board.digest(frame.withColumn("name",
      when(col("id") === 42, lit("x")).otherwise(col("name")))) != a)
    assert(Board.digest(frame.where(col("id") =!= 42)) != a)
    assert(Board.digest(frame.union(frame.where(col("id") === 42))) != a)
  }

  test("the seed fixes the seat order") {
    val names = Seats.Sample
    assert(Board.shuffled(names, 3) == Board.shuffled(names.reverse, 3))
    assert(Board.shuffled(names, 3) != Board.shuffled(names, 4))
    assert(Board.shuffled(names, 3).sorted == names.sorted)
  }

  test("seats map to the graft module they mostly exercise") {
    assert(Seats.module("t9_stream_sessions") == "streaming")
    assert(Seats.module("s10_wire_emit_exactly_once") == "streaming")
    assert(Seats.module("vote_e2e_reemit") == "pipeline")
    assert(Seats.module("s5_jdbc_roundtrip") == "sources")
    assert(Seats.module("ann_cosine_topk_native") == "functions")
    assert(Seats.module("f4_time_format") == "functions")
    assert(Seats.module("dedup_substring_spans") == "ext")
    assert(Seats.module("q21_waiting_supplier") == "ops")
  }

  test("the sample holds a seat from every module") {
    Seats.Modules.foreach(m => assert(Seats.Sample.exists(Seats.module(_) == m), m))
  }
}
