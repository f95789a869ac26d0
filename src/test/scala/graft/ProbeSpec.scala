package graft

import graft.tools.Probe

/** The Probe modes on the shared test session (never `Probe.main`, which
  * would stop it), over one batch seat, one seat that runs a streaming
  * query on construction, and two seats that throw — one while building
  * its frame, one while materializing it. Plus the one driver session
  * config, read as data so no second session starts. */
class ProbeSpec extends SparkSpec {

  private val batch = "q6_filtered_agg"
  private val streaming = "t3_stream_cumulative"
  private val failsBuild = "zz_fails_build"
  private val failsRun = "zz_fails_run"

  private lazy val seats: Seq[(String, Probe.Seat)] =
    Probe.select(s"$batch,$streaming") ++ Seq(
      failsBuild -> ((_, _) => throw new IllegalStateException("no frame")),
      failsRun -> ((s, _) => s.range(0, 1, 1, 1).selectExpr("raise_error('no rows')")))

  test("select: prefixes pick seats in name order; empty picks all") {
    assert(seats.take(2).map(_._1) === Seq(batch, streaming))
    assert(Probe.select("").size === SparkEntry.queries.size)
    assert(Probe.nonStatic(streaming) && !Probe.nonStatic(batch))
    assert(Probe.nonStatic.forall(SparkEntry.queries.contains))
    assert(Probe.scaleSeats.forall(SparkEntry.queries.contains))
  }

  test("time: every rep of a working seat, failed <ErrorClass> for a throwing one") {
    val r = Probe.time(spark, sfDir, 2, seats).toMap
    for (n <- Seq(batch, streaming)) {
      val ts = r(n).toOption.get
      assert(ts.size === 2 && ts.forall(_ > 0), n)
    }
    assert(r(failsBuild) === Left("IllegalStateException"))
    assert(r(failsRun).isLeft && r(failsRun).swap.toOption.get.nonEmpty)
  }

  test("ab: both arms per batch seat, streaming seats skipped, conf restored") {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.getOption(key)
    val r = Probe.ab(spark, sfDir, 1, seats, key, "false", "true").toMap
    assert(spark.conf.getOption(key) === before)
    assert(!r.contains(streaming))
    val (a, b) = r(batch).toOption.get
    assert(a > 0 && b > 0)
    assert(r(failsBuild) === Left("IllegalStateException"))
    assert(r(failsRun).isLeft)
  }

  test("plans: static formatted plans to files; --summary rows for static seats") {
    val out = TmpDirs.create("probe_plans_").toString
    val r = Probe.plans(spark, sfDir, seats, Some(out)).toMap
    val plan = r(batch).toOption.get
    assert(plan.contains("Physical Plan") && !plan.contains("AdaptiveSparkPlan"))
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(out, s"$batch.txt")) === plan)
    assert(r(failsBuild) === Left("IllegalStateException"))

    val rows = Probe.summary(spark, sfDir, seats)
    assert(rows.head.startsWith("| query | exchanges |"))
    assert(rows.exists(_.matches(s"""\\| $batch( \\| \\d+){5} \\|""")), rows)
    assert(!rows.exists(_.startsWith(s"| $streaming ")))
    assert(rows.contains(s"| $failsBuild | failed IllegalStateException |||||"))
  }

  test("scale: parseable JSON with readings, exponents and failures") {
    val out = TmpDirs.create("probe_scale_").resolve("scale.json").toString
    Probe.scale(spark, sfDir, sfDir, 10.0, 1,
      seats ++ Probe.select("lsh", Probe.scaleProbes), out)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(out))
    assert(json.get("reps").asInt === 1 && json.get("factor").asDouble === 10.0)
    val s = json.get("seats")
    for (n <- Seq(batch, streaming, "lsh_candidates")) {
      assert(s.get(n).get("base_s").asDouble > 0, n)
      assert(s.get(n).get("scaled_s").asDouble > 0, n)
      assert(s.get(n).has("exponent"), n)
    }
    assert(s.get(failsBuild).get("failed").asText === "IllegalStateException")
    assert(s.get(failsRun).has("failed") && !s.get(failsRun).has("base_s"))
  }

  test("one driver config: UTC, shuffle width = cpus, AQE posture on for Bench, off for Verify") {
    val bench = TmpDirs.timedConfs(Driver.cpus, aqeByDefault = true, env = Map.empty)
    val verify = TmpDirs.timedConfs(Driver.cpus, aqeByDefault = false, env = Map.empty)
    for (c <- Seq(bench, verify)) {
      assert(c("spark.sql.session.timeZone") === "UTC")
      assert(c("spark.sql.shuffle.partitions") === Driver.cpus)
      assert(c("spark.ui.enabled") === "false")
      assert(TmpDirs.localFsFastConfs.toSet.subsetOf(c.toSet))
    }
    assert(bench("spark.sql.adaptive.enabled") === "true")
    assert(bench("spark.sql.adaptive.advisoryPartitionSizeInBytes") === "8m")
    // Verify sets no adaptive key: Spark's stock adaptive settings stand
    assert(!verify.keys.exists(_.startsWith("spark.sql.adaptive.")))
    // the env overrides apply to both drivers alike
    val verifyAqe = TmpDirs.timedConfs(Driver.cpus, aqeByDefault = false,
      env = Map("SPARK_GRAFT_AQE" -> "1", "SPARK_GRAFT_AQE_ADVISORY" -> "16m"))
    assert(verifyAqe === TmpDirs.timedConfs(Driver.cpus, aqeByDefault = true,
      env = Map("SPARK_GRAFT_AQE_ADVISORY" -> "16m")))
    assert(verifyAqe("spark.sql.adaptive.advisoryPartitionSizeInBytes") === "16m")
    assert(!TmpDirs.timedConfs("4", aqeByDefault = true, env = Map("SPARK_GRAFT_AQE" -> "0"))
      .contains("spark.sql.adaptive.enabled"))
  }
}
