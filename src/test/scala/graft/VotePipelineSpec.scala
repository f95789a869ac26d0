package graft

import org.apache.spark.sql.functions._

import graft.pipeline.VotePipeline

/** Engine-side invariants for the reference's end-to-end vote pipeline
  * (the vote_e2e_* family is ALSO graded by the full-recipe DuckDB
  * oracle; these are the cheap structural checks that localize a break
  * to a pipeline stage instead of a hash mismatch). */
class VotePipelineSpec extends SparkSpec {
  import spark.implicits._

  private val n = 64L

  test("wire → decode round trip is lossless: every vote survives, none null") {
    val decoded = VotePipeline.decoded(spark, n).cache()
    try {
      assert(decoded.count() === n, "every generated vote must decode")
      // P7 seam: a malformed frame would decode to an all-null struct
      assert(decoded.filter(col("voter_id").isNull).count() === 0)
      // the nested address survives flattening as a struct
      assert(decoded.filter(col("address.state").isNull).count() === 0)
    } finally { decoded.unpersist(); () }
  }

  test("party tally and state turnout both conserve the vote count") {
    val partyTotal = VotePipeline.partyTally(spark, n)
      .agg(sum("total_votes")).as[Long].head()
    assert(partyTotal === n)
    val turnoutTotal = VotePipeline.turnoutByState(spark, n)
      .agg(sum("turnout")).as[Long].head()
    assert(turnoutTotal === n)
  }

  test("streaming party tally equals the batch tally row for row") {
    val batch = VotePipeline.partyTally(spark, n)
      .as[(String, Long)].collect().toMap
    val stream = VotePipeline.streamingPartyTally(spark, n)
      .select("party_affiliation", "total_votes")
      .as[(String, Long)].collect().toMap
    assert(stream === batch,
      "micro-batched state must converge to the batch aggregate")
  }

  test("two concurrent streaming party tallies both run and agree") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val batch = VotePipeline.partyTally(spark, n)
      .as[(String, Long)].collect().toMap
    val go = new java.util.concurrent.CountDownLatch(1)
    val runs = (1 to 2).map { _ =>
      Future {
        go.await()
        VotePipeline.streamingPartyTally(spark, n)
          .select("party_affiliation", "total_votes")
          .as[(String, Long)].collect().toMap
      }
    }
    go.countDown()
    runs.foreach(r => assert(Await.result(r, 5.minutes) === batch))
  }
}
