package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Which seats the board runs, which graft module each mostly exercises,
  * and the digests recorded from the seed tree. */
object Seats {

  /** A fixed sample of the 309 seats: every 25th by name from the 6th,
    * plus what that stride misses: the JDBC round trip, the vote re-emit
    * loop and two `functions` seats (a native expression and the native
    * vector-math rule). 17 seats, at least one from each module: small
    * overhead-bound seats and heavy shuffle or streaming seats alike.
    * Frozen here so the set stays the same as seats come and go. */
  val Sample: Seq[String] = Seq(
    "a2_turnout_by_location", "ann_pq_adc_topk", "dedup_substring_spans",
    "j4_asof_attribution", "p1p3_decode_flatten", "q21_waiting_supplier",
    "s6_sql_over_view", "sessionize_users_bigkey", "t11_stream_funnel",
    "t32_stream_tws_map_state", "t54_stream_audio_gate", "text_tokenize_ids",
    "w9_topk_per_group", "s5_jdbc_roundtrip", "vote_e2e_reemit",
    "f4_time_format", "ann_cosine_topk_native")

  val Modules: Seq[String] = Seq("ops", "ext", "streaming", "sources", "functions", "pipeline")

  private val rules: Seq[(String, String)] = Seq(
    "^(vote_e2e_|gen_votes|s7_generator)" -> "pipeline",
    "^(t\\d+b?_|s7e_|s8_|s9_|s10_)" -> "streaming",
    "^(s4_|s5|s7b_|s7c_|s7d_)" -> "sources",
    "^(f\\d+b?_|j8b_|j8c_|s6e_|s6f_|s7f_)|_native$" -> "functions",
    "^(dedup_|graph_|ann_|vec_|text_|quality_|web_|pack_|sample_|split_|mix_|token_|pii_|corpus_|mm_)" -> "ext")

  /** The graft module a seat mostly exercises, by its name's family
    * prefix; everything else is `ops`. */
  def module(seat: String): String =
    rules.collectFirst { case (re, m) if re.r.findFirstIn(seat).isDefined => m }.getOrElse("ops")

  def readDigests(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.contains('\t')).map { l =>
      val Array(n, d) = l.split('\t'); n -> d
    }.toMap

  def writeDigests(p: Path, runs: Seq[Board.SeatRun]): Unit =
    Files.write(p, runs.sortBy(_.name)
      .map(r => s"${r.name}\t${r.digest.getOrElse("FAILED")}").asJava)
}
