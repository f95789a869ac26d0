package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.ops.Decode

/** The decode ladder: the vote pipeline's batch prefixes over a staged
  * topic, each fully materialized through the `noop` sink. A rung's self
  * time is its time minus the rung below it. */
object Ladder {

  val Names: Seq[String] = Seq("decode.scan_us_per_vote", "decode.cast_us_per_vote",
    "decode.from_json_us_per_vote", "decode.flatten_us_per_vote", "aggregate.us_per_vote")

  private def materialize(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def run(spark: SparkSession, topic: Path, votes: Long): Seq[(String, Double)] = {
    val scan = spark.read.parquet(topic.toString)
    val cast = Decode.castValueToString(scan)
    val decoded = Decode.jsonDecode(cast, Schemas.VoteSchema)
    val flat = Decode.flatten(decoded)
    val agg = flat.groupBy("candidate_id").agg(sum("vote").as("total_votes"))
    val rungs = Seq(scan, cast, decoded, flat, agg)
    rungs.foreach(materialize)
    // best of two: the ladder subtracts rungs, so it wants the quiet reading
    val times = rungs.map(df => math.min(materialize(df), materialize(df)))
    val self = times.head +: times.zip(times.tail).map { case (a, b) => b - a }
    Names.zip(self).map { case (n, s) => n -> s * 1e6 / votes }
  }
}
