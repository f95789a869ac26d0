package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One run = one workload, printed as one result line.
  *
  * {{{
  * graftbench.Main --workload vote_bulk|board --seed N --seconds S
  *                 --trace 0|1 --work DIR --fixture DIR --digests FILE
  *                 [--seats sample|all] [--record-digests FILE]
  * }}}
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, fixture: Path, digests: Path,
                        seats: String, recordDigests: Option[Path])

  /** End-to-end metrics, printed by every untraced run. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "throughput_per_s" -> "1/s",
    "p50_ms" -> "ms", "tail_ms" -> "ms")

  /** Per-layer metrics, printed by every traced run; a workload with no
    * reading for one prints 0: the decode ladder and the one-core baseline
    * run on `vote_bulk` only, seat modules on `board` only. */
  val PerLayer: Seq[(String, String)] = Seq(
    "setup.session_s" -> "s", "setup.stage_s" -> "s", "setup.warm_s" -> "s",
    "pipeline.wire_render_s" -> "s",
    "exec.task_s" -> "s", "exec.cpu_s" -> "s", "exec.busy_cores" -> "cores",
    "exec.tasks" -> "count", "exec.peak_tasks" -> "count", "exec.gc_s" -> "s",
    "exec.single_task_stage_s" -> "s", "exec.votes_per_s_1core" -> "1/s",
    "shuffle.write_mb" -> "MB", "shuffle.write_s" -> "s", "shuffle.read_mb" -> "MB",
    "shuffle.fetch_wait_s" -> "s", "spill.mb" -> "MB",
    "driver.analysis_s" -> "s", "driver.optimization_s" -> "s",
    "driver.planning_s" -> "s", "driver.queries" -> "count",
    "microbatch.trigger_ms" -> "ms", "microbatch.add_batch_ms" -> "ms",
    "microbatch.query_planning_ms" -> "ms", "microbatch.wal_commit_ms" -> "ms",
    "microbatch.commit_offsets_ms" -> "ms", "microbatch.triggers" -> "count",
    "microbatch.empty_triggers" -> "count",
    "source.latest_offset_ms" -> "ms", "source.get_batch_ms" -> "ms",
    "source.files_per_trigger" -> "count",
    "state.commit_ms" -> "ms", "state.update_ms" -> "ms", "state.rows_total" -> "count",
    "state.memory_bytes" -> "bytes", "state.instances" -> "count",
    "reemit.board_write_ms" -> "ms", "reemit.consumer_s" -> "s") ++
    Ladder.Names.map(_ -> "us") ++
    Seats.Modules.map(m => s"module.${m}_s" -> "s") ++
    EndToEnd.drop(2).map { case (n, u) => s"overhead.$n" -> u }

  /** A workload's outcome. `info` carries what the result line has no
    * room for: missing votes, failed seats, sample counts. */
  final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                           e2e: Map[String, Double], layers: Map[String, Double],
                           info: Seq[(String, Any)])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("fixture")).toAbsolutePath,
      Paths.get(need("digests")).toAbsolutePath, m.getOrElse("seats", "sample"),
      m.get("record-digests").map(Paths.get(_).toAbsolutePath))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val scratch = Scratch.acquire(a.work)
    var ctx: Ctx = null
    try {
      Scratch.confineGraft(scratch.dir("graft"))
      ctx = Ctx(a, scratch, session(scratch, Cores),
        // process start (JVM launch) to a ready session
        (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
      val o = a.workload match {
        case "vote_bulk" => voteBulk(ctx)
        case "board" => board(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      println("INFO " + Json.write(Json.obj(o.info)))
      val (spec, values) = if (a.trace) (PerLayer, o.layers) else (EndToEnd, o.e2e)
      val metrics = spec.map { case (n, u) =>
        n -> Json.obj(Seq("value" -> values.getOrElse(n, 0.0), "unit" -> u))
      }
      println("RESULT " + Json.write(Json.obj(Seq(
        "correct" -> o.correct, "attempted" -> o.attempted, "failed" -> o.failed,
        "metrics" -> Json.obj(metrics)))))
    } finally {
      try if (ctx != null) ctx.spark.stop() finally scratch.close()
    }
  }

  val Cores = 4

  /** Per-run state; `spark` is replaced once, by the one-core baseline. */
  final case class Ctx(args: Args, scratch: Scratch, var spark: SparkSession, sessionS: Double)

  def session(scratch: Scratch, cores: Int): SparkSession = {
    val spark = graft.TmpDirs.timedSessionBuilder(cores.toString)
      .config("spark.sql.warehouse.dir", scratch.dir("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftExtensions.installOptimizations(spark)
    spark
  }

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The end-to-end metrics from a workload's three figures. */
  private def e2e(setupS: Double, throughput: Double, samples: Seq[Double]) =
    Map("setup_s" -> setupS, "peak_rss_mb" -> Trace.peakRssMb(),
      "throughput_per_s" -> throughput,
      "p50_ms" -> (if (samples.isEmpty) 0.0 else Stats.median(samples)),
      "tail_ms" -> (if (samples.isEmpty) 0.0 else Stats.tail(samples, 0.9)))

  /** Traced minus the mean of the untraced measurements taken just before
    * and just after it, for each end-to-end metric a run measures more than
    * once (set-up and memory are measured once). Bracketing the traced
    * measurement keeps the JIT's warming between them out of the figure. */
  private def overhead(traced: Map[String, Double], before: Map[String, Double],
                       after: Map[String, Double]) =
    EndToEnd.drop(2).map { case (n, _) =>
      s"overhead.$n" -> (traced(n) - (before(n) + after(n)) / 2)
    }

  // ---------------------------------------------------------------- votes

  val BulkPerFile = 10000
  /** Files of the bulk topic per second of `--seconds`, sized so the drain
    * takes about that long on 4 cores. */
  val BulkFilesPerSecond = 2.5
  /** Timed drains of the bulk topic per run: the host's noise comes in
    * spells of seconds, so two drains of half the size steady the median. */
  val DrainReps = 2
  val SetupReps = 3

  /** `n` a whole number of slices, about `perSecond * seconds`. */
  private def sized(ctx: Ctx, perSecond: Double): Int =
    VoteLoad.Slices * math.max(1,
      math.round(ctx.args.seconds * perSecond / VoteLoad.Slices).toInt)

  /** Rendered topics (one per set-up repetition) and what set-up cost:
    * the session's start-up, the median render of the topic, and the warm
    * drain. Every render writes the same votes; the drains read the last. */
  final case class Staged(from: Long, files: Seq[Seq[Path]], renderS: Seq[Double],
                          warmS: Double) {
    def setupS(sessionS: Double): Double = sessionS + Stats.median(renderS) + warmS
    def layers(sessionS: Double): Map[String, Double] = Map(
      "setup.session_s" -> sessionS, "setup.stage_s" -> Stats.median(renderS),
      "setup.warm_s" -> warmS, "pipeline.wire_render_s" -> Stats.median(renderS))
  }

  /** Drain a small topic through the pipeline so code generation and JIT
    * are paid before the timed region. */
  private def warmPipeline(ctx: Ctx, warmTopic: Path, tag: String): Unit = {
    val q = VoteLoad.start(ctx.spark, warmTopic, ctx.scratch.dir(s"warm_ckpt_$tag"),
      ctx.scratch.dir(s"warm_board_$tag"), new ConcurrentLinkedQueue())
    try q.processAllAvailable() finally q.stop()
    VoteLoad.consume(ctx.spark, ctx.scratch.dir(s"warm_board_$tag"))
  }

  /** Render the topic `SetupReps` times (the median is the set-up cost),
    * then warm the pipeline on `warmFiles` more files. */
  private def stageVotes(ctx: Ctx, perFile: Int, files: Int, warmFiles: Int): Staged = {
    val from = VoteLoad.idOffset(ctx.args.seed, perFile)
    val n = files.toLong * perFile
    val renders = (0 until SetupReps).map { i =>
      seconds(VoteLoad.render(ctx.spark, ctx.scratch.dir(s"staged$i"), from, n, perFile))
    }
    val (_, warmS) = seconds {
      val warmTopic = ctx.scratch.dir("warm_topic")
      VoteLoad.render(ctx.spark, warmTopic, 0, warmFiles.toLong * perFile, perFile)
      warmPipeline(ctx, warmTopic, "main")
    }
    Staged(from, renders.map(_._1), renders.map(_._2), warmS)
  }

  /** The board as the downstream consumer reads it, against the
    * closed-form tally of votes `[from, from + n)`. */
  final case class Check(missing: Long, extra: Long, consumerS: Double) {
    def ok: Boolean = missing == 0 && extra == 0
  }
  private def check(ctx: Ctx, board: Path, from: Long, n: Long): Check = {
    val (got, consumerS) = seconds(VoteLoad.consume(ctx.spark, board))
    val (missing, extra) = VoteLoad.shortfall(VoteLoad.expectedTally(from, from + n), got)
    Check(missing, extra, consumerS)
  }

  final case class Drain(votesPerS: Double, wallS: Double, triggersMs: Seq[Double],
                         checks: Seq[Check], writeMs: Seq[Double]) {
    def missing: Long = checks.map(_.missing).sum
    def extra: Long = checks.map(_.extra).sum
    def ok: Boolean = checks.forall(_.ok)
  }

  /** Closed loop: drain the whole topic `DrainReps` times, one file per
    * trigger, each time from a fresh checkpoint. Triggers pool across the
    * drains; throughput is all votes over all drain time. */
  private def drain(ctx: Ctx, topic: Path, from: Long, n: Long, tag: String): Drain = {
    val runs = (0 until DrainReps).map { i =>
      val writes = new ConcurrentLinkedQueue[Double]()
      val board = ctx.scratch.dir(s"board_${tag}_$i")
      val (q, wallS) = seconds {
        val q = VoteLoad.start(ctx.spark, topic, ctx.scratch.dir(s"ckpt_${tag}_$i"), board,
          writes)
        try q.processAllAvailable() finally q.stop()
        q
      }
      val triggers = q.recentProgress.filter(_.numInputRows > 0)
        .map(_.durationMs.get("triggerExecution").doubleValue).toSeq
      (wallS, triggers, check(ctx, board, from, n), writes.asScala.toSeq)
    }
    val wallS = runs.map(_._1).sum
    Drain(DrainReps * n / wallS, wallS, runs.flatMap(_._2), runs.map(_._3), runs.flatMap(_._4))
  }

  def voteBulk(ctx: Ctx): Outcome = {
    val files = sized(ctx, BulkFilesPerSecond / DrainReps)
    val n = files.toLong * BulkPerFile
    val st = stageVotes(ctx, BulkPerFile, files, warmFiles = 2 * VoteLoad.Slices)
    val setupS = st.setupS(ctx.sessionS)
    val topic = st.files.last.head.getParent
    val d = drain(ctx, topic, st.from, n, "untraced")
    val untraced = e2e(setupS, d.votesPerS, d.triggersMs)
    val info = mutable.ArrayBuffer[(String, Any)](
      "workload" -> "vote_bulk", "votes" -> n * DrainReps, "files" -> files,
      "drains" -> DrainReps, "votes_missing" -> d.missing, "votes_extra" -> d.extra,
      "triggers" -> d.triggersMs.size, "drain_s" -> d.wallS,
      "tail_quantile" -> Stats.reportableQuantile(0.9, d.triggersMs.size))
    var layers = Map.empty[String, Double]
    var ok = d.ok
    if (ctx.args.trace) {
      val tr = new Trace(ctx.spark)
      val td = drain(ctx, topic, st.from, n, "traced")
      tr.close()
      val after = drain(ctx, topic, st.from, n, "untraced_after")
      val ladder = Ladder.run(ctx.spark, topic, n)
      // single-threaded baseline: the same drain on a one-core session
      ctx.spark.stop()
      ctx.spark = session(ctx.scratch, 1)
      warmPipeline(ctx, ctx.scratch.dir("warm_topic"), "one_core")
      val one = drain(ctx, topic, st.from, n, "one_core")
      ok &&= td.ok && after.ok && one.ok
      layers = st.layers(ctx.sessionS) ++ tr.metrics(td.wallS) ++ ladder ++ Map(
        "exec.votes_per_s_1core" -> one.votesPerS,
        "source.files_per_trigger" -> 1.0,
        "reemit.board_write_ms" -> Stats.median(td.writeMs),
        "reemit.consumer_s" -> Stats.median(td.checks.map(_.consumerS))) ++
        overhead(e2e(setupS, td.votesPerS, td.triggersMs), untraced,
          e2e(setupS, after.votesPerS, after.triggersMs))
      info += ("traced_votes_missing" -> td.missing)
      info += ("one_core_votes_missing" -> one.missing)
    }
    Outcome(ok, n * DrainReps, d.missing + d.extra, untraced, layers, info.toSeq)
  }

  // ---------------------------------------------------------------- board

  /** About how long one timed pass over the sample takes on 4 cores. */
  val BoardPassSeconds = 4.0

  def board(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val all = graft.SparkEntry.queries
    val recorded = Seats.readDigests(ctx.args.digests)
    val names = if (ctx.args.seats == "all") all.keys.toSeq.sorted else Seats.Sample
    val order = Board.shuffled(names, ctx.args.seed)
    val passes = math.max(1, math.round(ctx.args.seconds / BoardPassSeconds).toInt)
    val dir = ctx.args.fixture.resolve("sf0.01").toString
    def run(n: String) = all.get(n) match {
      case Some(fn) => Board.runSeat(spark, n, fn, dir)
      case None => Board.SeatRun(n, 0.0, None, Some("seat not in SparkEntry.queries"))
    }
    // warm pass over the same seats and fixture: code generation, JIT and
    // every session memo a seat builds (staged topics, layouts, models) are
    // paid here, so no seat's time depends on which seat ran first
    val (_, warmS) = seconds(order.foreach(run))
    System.gc()
    val setupS = ctx.sessionS + warmS
    /** Run every seat `passes` times over; each seat's runs, with why the
      * seat failed, if it did: a run threw, or its digest differed from the
      * one recorded on the seed tree. */
    def pass(): (Seq[(String, Seq[Board.SeatRun], Option[String])], Double) = {
      val (reps, wallS) = seconds((1 to passes).map(_ => order.map(run)))
      (reps.transpose.map { rs =>
        val why = rs.collectFirst { case r if r.error.isDefined => r.error.get }.orElse(
          rs.collectFirst { case r if r.digest != recorded.get(r.name) =>
            s"digest ${r.digest.getOrElse("-")} != recorded ${recorded.getOrElse(r.name, "none")}" })
        (rs.head.name, rs, why)
      }, wallS)
    }
    /** Every run of every good seat is a sample: pooling the passes gives
      * the tail enough samples to sit above the median. */
    def measured(runs: Seq[(String, Seq[Board.SeatRun], Option[String])]) = {
      val good = runs.collect { case (_, rs, None) => rs.map(_.seconds * 1000.0) }.flatten
      e2e(setupS, if (good.isEmpty) 0.0 else good.size / (good.sum / 1000.0), good)
    }
    val (runs, _) = pass()
    ctx.args.recordDigests.foreach(p => Seats.writeDigests(p, runs.map(_._2.head)))
    val failed = runs.collect { case (n, _, Some(why)) => n -> why }
    val untraced = measured(runs)
    def seatS(rs: Seq[Board.SeatRun]) = Stats.median(rs.map(_.seconds))
    val info = mutable.ArrayBuffer[(String, Any)](
      "workload" -> "board", "seats" -> names.size, "passes" -> passes,
      "seats_failed" -> failed.size,
      "board_s" -> runs.collect { case (_, rs, None) => seatS(rs) }.sum,
      "failures" -> Json.obj(failed),
      "seat_s" -> Json.obj(runs.map { case (n, rs, _) => n -> seatS(rs) }),
      "tail_quantile" -> Stats.reportableQuantile(0.9, (names.size - failed.size) * passes))
    val (layers, tracedOk) = if (!ctx.args.trace) (Map.empty[String, Double], true) else {
      val tr = new Trace(spark)
      val (truns, twall) = pass()
      tr.close()
      val (after, _) = pass()
      val tfailed = (truns ++ after).count(_._3.isDefined)
      info += ("traced_seats_failed" -> tfailed)
      val byModule = truns.groupBy(t => Seats.module(t._1))
        .map { case (m, rs) => s"module.${m}_s" -> rs.map(r => seatS(r._2)).sum }
      (Map("setup.session_s" -> ctx.sessionS, "setup.warm_s" -> warmS) ++
        tr.metrics(twall) ++ byModule ++ overhead(measured(truns), untraced, measured(after)),
        tfailed == 0)
    }
    Outcome(failed.isEmpty && tracedOk, names.size, failed.size, untraced, layers, info.toSeq)
  }
}
