package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.gen.Generator
import graft.model.Schemas
import graft.ops.Decode
import graft.pipeline.VotePipeline

/** The paper's vote pipeline, end to end: wire votes → file topic →
  * cast → from_json(VoteSchema) → flatten → per-candidate complete-mode
  * sum → foreachBatch board re-emit → downstream consumer. */
object VoteLoad {

  /** `VotePipeline.wire` renders ids over `spark.range`, whose slices are
    * equal. Files hold exactly `perFile` votes when the id range and its
    * start are whole multiples of `Slices * perFile`. */
  val Slices = 4

  /** First voter id for a seed: the seed moves the id range, and the
    * expected tally moves with it. */
  def idOffset(seed: Long, perFile: Int): Long =
    Slices.toLong * perFile * java.lang.Math.floorMod(seed, 5L)

  /** Votes for candidate `c<k>` among voter ids `[from, until)`. A voter
    * votes for `pmod(id * 31 + 7, 3)`; 31 ≡ 1 (mod 3), so that is the
    * count of ids ≡ k - 1 (mod 3). */
  def expectedTally(from: Long, until: Long): Map[String, Long] =
    (0 until 3).map { k =>
      val r = java.lang.Math.floorMod(k - 1, 3).toLong
      def upTo(x: Long) = java.lang.Math.floorDiv(x - 1 - r, 3L) // ids < x, ≡ r
      s"c$k" -> (upTo(until) - upTo(from))
    }.toMap

  /** Render votes `[from, from + n)` as wire records into `dir`, `perFile`
    * votes to a parquet file. Returns the files in voter-id order. */
  def render(spark: SparkSession, dir: Path, from: Long, n: Long, perFile: Int): Seq[Path] = {
    val step = Slices.toLong * perFile
    require(from % step == 0 && n % step == 0,
      s"id range [$from, ${from + n}) must align to $step-vote slices")
    require(spark.sparkContext.defaultParallelism == Slices,
      s"rendering assumes $Slices generator slices")
    VotePipeline.wire(spark, from + n)
      .where(expr("CAST(substring(key, 2) AS BIGINT)") >= from)
      .write.option("maxRecordsPerFile", perFile.toLong)
      .mode("overwrite").parquet(dir.toString)
    // part-<slice>-<uuid>-c<nnn>: slices and their files both run in id
    // order. Spark writes one empty file for slice 0 even when the id range
    // starts past it; drop that one.
    val slice = (from + n) / Slices
    def expected(i: Int) = math.max(0L, (i + 1) * slice - math.max(from, i * slice)) / perFile
    val files = Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toSeq
      .sortBy(_.getFileName.toString)
      .groupBy(_.getFileName.toString.substring(5, 10).toInt).toSeq.sortBy(_._1)
      .flatMap { case (i, fs) =>
        if (expected(i) == 0) { fs.foreach(Files.delete); Nil } else fs }
    require(files.size.toLong * perFile == n,
      s"rendered ${files.size} files for $n votes at $perFile per file")
    files
  }

  val BoardSchema: StructType =
    StructType.fromDDL("candidate_id STRING, total_votes BIGINT")

  /** Start the pipeline over `topic`, one file per trigger, re-emitting
    * the complete standings to `board` after every trigger and adding how
    * long each board write took, in ms, to `writeMs`. */
  def start(spark: SparkSession, topic: Path, checkpoint: Path, board: Path,
            writeMs: ConcurrentLinkedQueue[Double]): StreamingQuery = {
    val reader = spark.readStream.schema("key STRING, value BINARY")
      .option("maxFilesPerTrigger", 1L)
    Decode.flatten(Decode.jsonDecode(
        Decode.castValueToString(reader.parquet(topic.toString)), Schemas.VoteSchema))
      .groupBy("candidate_id")
      .agg(sum("vote").as("total_votes"))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", checkpoint.toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.collect()
        val w0 = System.nanoTime()
        spark.createDataFrame(rows.toSeq.asJava, BoardSchema).coalesce(1)
          .select(col("candidate_id").as("key"),
            to_json(struct(col("candidate_id"), col("total_votes")))
              .cast("binary").as("value"))
          .write.mode("overwrite").parquet(board.toString)
        writeMs.add((System.nanoTime() - w0) / 1e6)
        ()
      }
      .start()
  }

  /** The downstream consumer: decode the board topic and enrich it with
    * the candidate dim, as a live board reads it. */
  def consume(spark: SparkSession, board: Path): Map[String, Long] = {
    val dim = Generator.candidatesFull(spark)
      .select(concat(lit("c"), col("candidate_id")).as("candidate_id"),
        col("candidate_name"), col("party_affiliation"))
    Decode.flatten(Decode.jsonDecodeDdl(
        Decode.castValueToString(spark.read.parquet(board.toString)),
        "candidate_id STRING, total_votes BIGINT"))
      .join(broadcast(dim), "candidate_id")
      .select("candidate_id", "total_votes")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Votes the board lacks and votes it holds beyond those sent. */
  def shortfall(expected: Map[String, Long], got: Map[String, Long]): (Long, Long) = {
    val keys = expected.keySet ++ got.keySet
    val d = keys.toSeq.map(k => got.getOrElse(k, 0L) - expected.getOrElse(k, 0L))
    (d.filter(_ < 0).map(-_).sum, d.filter(_ > 0).sum)
  }
}
