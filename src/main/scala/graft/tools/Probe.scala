package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Driver, SessionMemo, SparkEntry, Tables}
import graft.streaming.StreamOps

/** The one local probe main (not part of the driver contract): timing,
  * interleaved A/B, physical plans and measured scaling of SparkEntry
  * seats, in the driver's session ([[graft.Driver.session]], the bench's
  * timed posture). Every mode takes the session, so specs call the modes
  * directly; `main` only builds and stops the session.
  *
  * `seatPrefixes` is a comma-separated list of seat-name prefixes; an
  * empty string selects every seat (`scale`: the default scale set).
  * Every timed reading materializes the seat's output through the `noop`
  * sink (the graded expression runs; `.count()` would let Catalyst prune
  * it) and includes the seat's construction — streaming seats run their
  * query there. A seat that throws is reported as `failed <ErrorClass>`,
  * never as a time.
  *
  * {{{
  * runMain graft.tools.Probe time <sf> <reps> <seatPrefixes>
  * runMain graft.tools.Probe ab <sf> <reps> <seatPrefixes> <conf> <a> <b>
  * runMain graft.tools.Probe plans <sf> <seatPrefixes> [outDir] [--summary|--aqe-skew]
  * runMain graft.tools.Probe scale <base> <scaled> <factor> <reps> <seatPrefixes> <out.json>
  * }}}
  */
object Probe {
  type Seat = (SparkSession, String) => DataFrame
  /** Seconds, or the short class name of the failure. */
  type Reading = Either[String, Double]

  /** Seats that execute a full job (a streaming query, an iterative
    * loop, a sink write) on CONSTRUCTION: their returned frame is a
    * post-run result, so they have no static plan worth auditing and no
    * conf a batch A/B can move. Excluded from `plans --summary` and from
    * `ab` (their semantics are graded by the oracle + streaming specs). */
  val nonStatic: Set[String] = Set(
    "t1_stream_recover", "t2_stream_hourly_window", "t3_stream_cumulative",
    "t4_stream_late_drop",
    "t3b_wire_tally", "t5_stream_dedup_users",
    "t5b_stream_dedup_watermarked", "t8_stream_asof", "t9_stream_sessions",
    "t10_stream_stream_join", "t11_stream_funnel", "t12_stream_quality_gate",
    "t13_stream_scd2", "t14_stream_decontaminate",
    "t15_stream_timeout_sessions", "t16_stream_sliding_window",
    "t17_stream_dead_letter", "t17b_dead_letter_skew_triage",
    "t18_stream_sketch_maintain",
    "t19_stream_ohlc_maintain",
    "t20_stream_left_outer_join", "t21_stream_leaderboard",
    "t22_stream_merge_delete", "t23_stream_drift_psi",
    "t24_stream_nfc_dedup", "t25_stream_rocksdb_dedup",
    "t26_stream_transform_with_state", "t27_state_source_read",
    "t28_stream_state_upgrade", "t29_stream_ivf_ingest",
    "t29b_stream_ivf_batch_serve", "t30_stream_tws_timer_sessions",
    "t31_stream_available_now", "t32_stream_tws_map_state",
    "t33_stream_tws_list_state", "t34_stream_tws_ttl",
    "t35_stream_changelog_recover", "t36_stream_full_outer_join",
    "t37_stream_tws_initial_state", "t38_stream_semi_join",
    "t39_tws_state_source_read", "t40_stream_right_outer_join",
    "t41_state_time_travel", "t42_stream_chained_agg",
    "t43_stream_observe", "t44_stream_dynamic_sessions",
    "t45_stream_canonical_dedup", "t46_stream_concurrent_queries",
    "t47_stream_corpus_recover", "t48_stream_two_hop",
    "t49_stream_dedup_evicted", "t50_stream_mm_gate",
    "t51_stream_schema_drift", "t52_stream_two_hop_lineage",
    "t53_stream_incremental_dedup", "t54_stream_audio_gate",
    "t55_stream_video_gate",
    "s8_write_then_emit", "s9_file_sink_exactly_once",
    "s10_wire_emit_exactly_once",
    "s5c_jdbc_upsert_replay", "s5d_jdbc_txnlog_replay", "s4_avro_source",
    "vote_e2e_stream_tally", "vote_e2e_live_results", "vote_e2e_reemit",
    // composite: probes the finished CMS on the driver (k-bounded)
    "sketch_cms_heavy",
    // composite: runs the checkpointed propagation loop on construction —
    // the final frame is a sort over the last checkpoint, not the loop
    "graph_pagerank_neardup",
    // composite: runs the 8-round merge loop on construction — the final
    // frame is the collected merge table, not the loop (the encode and
    // roundtrip seats carry the family's static plans; both train
    // through the same memo on construction)
    "text_bpe_merges",
    // composite: runs the GD iterations on construction — the returned
    // frame is the collected weight table (quality_lr_score carries the
    // family's static serving plan: one shuffle-free scan)
    "quality_lr_train",
    // composite: runs the level-synchronous frontier loop on construction
    "graph_hops_to_canonical",
    // composite: builds the truth-memo edge view on construction
    "s6b_recursive_cte",
    // composite: a SQL script EXECUTES eagerly (statement by statement)
    // on construction; the returned frame is the final SELECT's result
    "s6d_sql_scripting",
    // composite: materialized INSIDE their conf scope (optimizer confs are
    // read at action time), so the returned frame is a scratch-parquet
    // scan; the interesting plans are pinned by BloomFilterJoinSpec/CboSpec
    "j9_bloom_join", "storage_cbo_stats",
    // composite: runs the sink write on construction; the returned frame
    // is the CSV readback
    "s7d_sink_commit",
    // streaming: drives the connector's MicroBatchStream on construction
    "s7e_stream_source")

  /** The default `scale` set: the top-cost batch seats of the r13 board
    * plus the scale-signature families (pair-pass dedup, ANN serving,
    * corpus pipeline, fuzzy blocking, heavy TPC-H). */
  val scaleSeats: Seq[String] = Seq(
    "j8_fuzzy_match", "q21_waiting_supplier", "q2_min_cost_supplier",
    "q1_pricing_summary", "q9_profit_shape",
    "dedup_ngram_jaccard", "dedup_containment", "dedup_clusters",
    "dedup_minhash_recall", "dedup_embedding_cosine",
    "dedup_semantic_verified", "dedup_incremental_bloom",
    "corpus_prepare_full", "text_bm25_topk", "text_boilerplate",
    // the eval-overlap join: the expensive family member whose small
    // side's shape differs from the jaccard/containment siblings
    "text_source_overlap",
    "ann_ivf_batch_topk", "ann_pq_adc_topk", "sketch_quantile_rollup",
    "sessionize_users", "j9_bloom_join",
    // classifier SERVING at scale; memos are cleared per rep, so each
    // reading retrains and the exponent upper-bounds the serve-only cost
    "quality_lr_score")

  /** `scale`-only entries beside the seats: the engine's two escape
    * hatches for the BOILERPLATE regime (per-shingle df ∝ corpus size,
    * `bench_scaling_r14_templated_probes.json`) — the `maxDf` cap on the
    * inverted-index pair pass (df > 50 shingles dropped from candidate
    * generation) and the 8×2 MinHash/LSH banding's candidate pass. */
  val scaleProbes: Map[String, Seat] = Map(
    "dfcap50_top20" -> ((s, d) => graft.ext.DedupOps.ngramJaccardTopPairs(
      Tables.documents(s, d), 3, 20, maxDf = 50)),
    "lsh_candidates" -> ((s, d) => graft.ext.DedupOps.minHashCandidates(
      Tables.documents(s, d), 3, bands = 8, rows = 2)))

  /** The seats of `from` whose name starts with one of the
    * comma-separated `prefixes` (empty = all), in name order. */
  def select(prefixes: String,
             from: Map[String, Seat] = SparkEntry.queries): Seq[(String, Seat)] = {
    val ps = prefixes.split(',').map(_.trim).filter(_.nonEmpty)
    from.toSeq.filter { case (n, _) => ps.isEmpty || ps.exists(n.startsWith) }
      .sortBy(_._1)
  }

  /** The one timed reading: build the seat and materialize every output
    * column through the `noop` sink. */
  def run(spark: SparkSession, seat: Seat, sf: String): Reading = {
    val t0 = System.nanoTime()
    try {
      seat(spark, sf).write.format("noop").mode("overwrite").save()
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => Left(Driver.errorClass(e)) }
  }

  /** The readings, or the first failure among them. */
  private def all(rs: Seq[Reading]): Either[String, Seq[Double]] =
    rs.collectFirst { case Left(c) => Left(c) }.getOrElse(Right(rs.collect { case Right(t) => t }))

  private def show(r: Either[String, Any]): String = r.fold(c => s"failed $c", _.toString)
  private def secs(t: Double): String = f"$t%.3f"

  /** `reps` readings per seat, all printed (the first is the cold one);
    * one failed repetition fails the seat. */
  def time(spark: SparkSession, sf: String, reps: Int,
           seats: Seq[(String, Seat)]): Seq[(String, Either[String, Seq[Double]])] =
    seats.map { case (name, seat) =>
      val r = all((1 to reps).map(_ => run(spark, seat, sf)))
      println(f"[probe] $name%-34s ${show(r.map(_.map(secs).mkString(" ")))}")
      name -> r
    }

  /** Interleaved in-JVM A/B of one session conf: per seat and repetition,
    * arm `a` then arm `b` back to back, so host drift cancels per seat;
    * min of reps per arm, after one untimed warm run per arm.
    * [[nonStatic]] seats are skipped. */
  def ab(spark: SparkSession, sf: String, reps: Int, seats: Seq[(String, Seat)],
         conf: String, a: String, b: String): Seq[(String, Either[String, (Double, Double)])] = {
    def arm(v: String, seat: Seat): Reading =
      StreamOps.withConf(spark, Map(conf -> v))(run(spark, seat, sf))
    val rows = seats.filterNot { case (n, _) => nonStatic(n) }.map { case (name, seat) =>
      val pairs = (0 to reps).map(_ => (arm(a, seat), arm(b, seat))).drop(1)
      val r = for (ta <- all(pairs.map(_._1)); tb <- all(pairs.map(_._2))) yield (ta.min, tb.min)
      println(f"[probe] ab $name%-34s " + show(r.map { case (ta, tb) =>
        s"$a=${secs(ta)} $b=${secs(tb)} delta=${f"${tb - ta}%+.3f"}" }))
      name -> r
    }
    val ok = rows.collect { case (_, Right(t)) => t }
    println(f"[probe] ab TOTAL $conf $a=${ok.map(_._1).sum}%.2f $b=${ok.map(_._2).sum}%.2f " +
      s"(${ok.size} seats, ${rows.size - ok.size} failed)")
    rows
  }

  /** Formatted physical plan per seat under static planning (AQE off):
    * printed, or written to `<outDir>/<seat>.txt`. */
  def plans(spark: SparkSession, sf: String, seats: Seq[(String, Seat)],
            outDir: Option[String]): Seq[(String, Either[String, String])] =
    seats.map { case (name, seat) =>
      val r = staticPlan(spark, sf, seat)
      outDir match {
        case Some(d) =>
          Files.createDirectories(Paths.get(d))
          Files.writeString(Paths.get(d, s"$name.txt"), show(r))
          println(s"[probe] plan $name -> $d/$name.txt ${r.fold(c => s"(failed $c)", _ => "")}")
        case None =>
          println(s"\n========== $name ==========\n${show(r)}")
      }
      name -> r
    }

  /** `plans --summary`: one markdown row of static physical-plan features
    * per seat ([[nonStatic]] excluded) — shuffle count, join strategies,
    * parquet pushdown, codegen spans. The PLANS.md table. */
  def summary(spark: SparkSession, sf: String, seats: Seq[(String, Seat)]): Seq[String] = {
    val head = Seq(
      "| query | exchanges | broadcast joins | sort-merge joins | pushed filters | codegen spans |",
      "|---|---|---|---|---|---|")
    head.foreach(println)
    head ++ seats.filterNot { case (n, _) => nonStatic(n) }
      .map { case (name, seat) =>
        val row = staticPlan(spark, sf, seat) match {
          case Right(p) =>
            def n(rx: String) = rx.r.findAllIn(p).size
            val codegen = "codegen id : (\\d+)".r.findAllMatchIn(p)
              .map(_.group(1).toInt).toSet.size
            s"| $name | ${n("\\(\\d+\\) Exchange")} | ${n("\\(\\d+\\) BroadcastHashJoin")} | " +
              s"${n("\\(\\d+\\) SortMergeJoin")} | ${n("PushedFilters: \\[[^\\]]")} | $codegen |"
          case Left(c) => s"| $name | failed $c |||||"
        }
        println(row)
        row
      }
  }

  private def staticPlan(spark: SparkSession, sf: String, seat: Seat): Either[String, String] =
    // plan stability mode (the reference disables AQE too): final plans,
    // codegen spans visible; confs are read at planning time, so
    // construction AND explain run inside the scope
    StreamOps.withConf(spark, Map("spark.sql.adaptive.enabled" -> "false")) {
      try Right(seat(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => Left(Driver.errorClass(e)) }
    }

  /** `plans --aqe-skew`: the runtime half of the skew story. Executes the
    * graded `j7c_aqe_skew_join` frame with AQE on and the skew thresholds
    * scaled to the fixture's shuffle sizes (production keeps the 256 MB
    * default), then reports whether OptimizeSkewedJoin split the hot
    * partition — the delta vs the static summary, where the same join is
    * one unsplit SMJ. Returns the number of skew markers in the final
    * adaptive plan. */
  def aqeSkew(spark: SparkSession, sf: String): Int = {
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8192",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4096",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    StreamOps.withConf(spark, confs) {
      import org.apache.spark.sql.functions._
      // AQE splits a skewed reduce partition into MAPPER ranges, so a
      // probe side scanned as one local file (one mapper) is
      // unsplittable no matter the thresholds; the repartition stands in
      // for the thousands of scan mappers a 100 TB probe side has
      val ev = graft.ops.Joins.injectSkewKey(Tables.events(spark, sf))
        .repartition(8, col("event_id"))
      val cust = Tables.customer(spark, sf).select("c_custkey", "c_mktsegment")
      val joined = graft.ops.Joins.skewJoinAqe(ev, cust, "skew_key", "c_custkey")
      // collect() drives joined's OWN QueryExecution (count() would plan
      // a separate clone), so the adaptive plan read below is the final,
      // post-reoptimization one; the fixture join output is bounded
      val rows = joined.collect().length
      val plan = joined.queryExecution.executedPlan.toString
      val marks = "skew=\\[?true".r.findAllIn(plan.toLowerCase).size
      println(s"\n## AQE skew-join audit (j7c_aqe_skew_join at $sf)")
      println(s"- joined rows: $rows")
      println(s"- skew markers in final adaptive plan: $marks " +
        (if (marks > 0) "(hot partition SPLIT at runtime)"
         else "(NO split — check thresholds vs fixture shuffle size)"))
      plan.linesIterator.filter(_.toLowerCase.contains("skew"))
        .take(4).foreach(l => println(s"    ${l.trim.take(160)}"))
      marks
    }
  }

  /** Measured scaling: min-of-`reps` readings at `base` and at the
    * `factor`× fixture [[ScaleUp]] writes, and per-seat exponents
    * `log(t_scaled / t_base) / log(factor)` — ~1.0 is linear-in-rows, the
    * shape every plan here claims. Session memos are cleared before every
    * timed repetition, so each reading is the seat's full standalone cost
    * (truth-memo builds, layout stages and all), after one untimed warm
    * run at `base` so compilation never lands in a reading. Writes the
    * JSON to `outPath` and returns it. */
  def scale(spark: SparkSession, base: String, scaled: String, factor: Double,
            reps: Int, seats: Seq[(String, Seat)], outPath: String): String = {
    def timed(seat: Seat, dir: String): Reading =
      all((1 to reps).map { _ => SessionMemo.clearAll(); run(spark, seat, dir) }).map(_.min)
    val body = seats.map { case (name, seat) =>
      run(spark, seat, base)
      val entry = (for (t1 <- timed(seat, base); t2 <- timed(seat, scaled)) yield (t1, t2)) match {
        case Right((t1, t2)) =>
          val e = math.log(t2 / t1) / math.log(factor)
          println(f"[probe] scale $name%-28s base $t1%7.2f s  scaled $t2%7.2f s  exp $e%5.2f")
          val es = if (e.isNaN || e.isInfinite) "null" else f"$e%.3f"
          f"""{"base_s": $t1%.3f, "scaled_s": $t2%.3f, "exponent": $es}"""
        case Left(c) =>
          println(f"[probe] scale $name%-28s failed $c")
          s"""{"failed": ${Driver.jsonString(c)}}"""
      }
      s"    ${Driver.jsonString(name)}: $entry"
    }.mkString(",\n")
    val json =
      s"""{
         |  "factor": $factor,
         |  "base": ${Driver.jsonString(base)},
         |  "scaled": ${Driver.jsonString(scaled)},
         |  "reps": $reps,
         |  "cpus": ${spark.sparkContext.defaultParallelism},
         |  "seats": {
         |$body
         |  }
         |}
         |""".stripMargin
    Files.writeString(Paths.get(outPath), json)
    json
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe time <sf> <reps> <seatPrefixes> | " +
      "ab <sf> <reps> <seatPrefixes> <conf> <a> <b> | " +
      "plans <sf> <seatPrefixes> [outDir] [--summary|--aqe-skew] | " +
      "scale <base> <scaled> <factor> <reps> <seatPrefixes> <out.json>"
    require(args.nonEmpty, usage)
    val spark = Driver.session(aqeByDefault = true)
    try args.toSeq match {
      case Seq("time", sf, reps, prefixes) =>
        time(spark, sf, reps.toInt, select(prefixes))
      case Seq("ab", sf, reps, prefixes, conf, a, b) =>
        ab(spark, sf, reps.toInt, select(prefixes), conf, a, b)
      case Seq("plans", rest @ _*) if rest.size >= 2 =>
        val flags = rest.filter(_.startsWith("--"))
        rest.filterNot(_.startsWith("--")) match {
          case Seq(sf, prefixes, outDir @ _*) if outDir.size <= 1 =>
            if (flags.contains("--aqe-skew")) aqeSkew(spark, sf)
            else if (flags.contains("--summary")) summary(spark, sf, select(prefixes))
            else plans(spark, sf, select(prefixes), outDir.headOption)
          case _ => throw new IllegalArgumentException(usage)
        }
      case Seq("scale", base, scaled, factor, reps, prefixes, out) =>
        val pool = SparkEntry.queries ++ scaleProbes
        val seats =
          if (prefixes.trim.isEmpty) scaleSeats.map(n => n -> pool(n))
          else select(prefixes, pool)
        println(scale(spark, base, scaled, factor.toDouble, reps.toInt, seats, out))
      case _ => throw new IllegalArgumentException(usage)
    } finally {
      SessionMemo.clearAll()
      spark.stop()
    }
  }
}
