package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf0.1 → sf1 deterministic scale-up: ten key-disjoint replicas of the
  * driver's sf0.1 fixture, written as the same table layout, so the
  * board's seats run unmodified at 10× rows — the measurement fixture
  * behind `bench_scaling_r14.json` (the VERDICT round-13 directive:
  * convert the 100 TB design claims from plan-audited to measured).
  *
  * Replication is NOT naive row copy where that would distort the cost
  * model being measured:
  *
  *  - **Keys** shift by `replica * 10^7` (every sf0.1 key < 10^6), so
  *    join integrity holds within a replica and replicas never collide —
  *    a 10× corpus with the reference's own join fan-outs.
  *  - **documents.text**: verbatim copies would give every doc ten exact
  *    clones — shingle df ×10, Σ df² ×100 — and the dedup family's
  *    measured exponent would reflect an adversarial 100 %-duplicated
  *    corpus, not data growth. Instead every third word (offset by
  *    replica) gets a replica-tagged suffix (`w` → `wx<r>`), so every
  *    3-shingle window crosses a tagged position and replica shingle
  *    spaces are DISJOINT — per-shingle df stays at its base-corpus
  *    level and Σ df² scales ~10× (the Heaps-law shape of organic
  *    corpus growth: new data brings new vocabulary). An earlier
  *    variant substituted same-doc words instead; on this
  *    template-generated fixture (only ~29 k distinct shingle classes)
  *    that recreated existing shingles, df grew ∝ N and Σ df² measured
  *    92× at 10× rows — the boilerplate regime, preserved as the
  *    documented adversarial probe in BASELINE.md, not the growth
  *    model. Stopwords ('the'/'a' — the fixture's language-ID set) are
  *    exempt from tagging so the stop-ratio gate passes at the base
  *    rate; the ~8 % of windows whose tagged position was a stopword
  *    stay shared across replicas (measured Σ df² 21.1 M vs base
  *    2.79 M — 7.6× at 10× rows, the Heaps-consistent shape).
  *    Within-replica near-dup structure is isomorphic to the base
  *    corpus (same positions tagged in near-identical docs).
  *  - **part.p_name** gets a replica suffix: the fuzzy-join clean side
  *    is DISTINCT entities, and a 10× parts table has 10× more distinct
  *    names, not ten copies of each.
  *  - **embeddings** get a deterministic per-coordinate jitter (±0.009),
  *    so ANN replicas are near but not identical neighbors; `label` is
  *    kept — cells grow 10× in population, the IVF scan shape at scale.
  *  - **nation / region** stay fixed (dimensions don't scale in TPC-H).
  *
  * Usage: `sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1
  * /root/repo/scaledata/sf1 10"` (the output dir is gitignored).
  */
object ScaleUp {
  private val Stride = 10000000L

  /** `base` exploded into `n` replicas with a `_r` column for the
    * per-replica transforms; `_r` must be dropped before write. */
  private def replicate(base: DataFrame, n: Int): DataFrame =
    base.withColumn("_r", explode(lit((0 until n).toArray)))

  private def shifted(c: String): org.apache.spark.sql.Column =
    col(c) + col("_r") * Stride

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, nStr) = args
    val n = nStr.toInt
    val spark = graft.Driver.session(aqeByDefault = true)

    def in(t: String): DataFrame = spark.read.parquet(s"$inDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      // ~32 output files per table: the multi-executor layout the
      // scaling runs should read, without a small-file explosion
      df.drop("_r").repartition(32).write.mode("overwrite")
        .parquet(s"$outDir/$t.parquet")
      println(s"[scaleup] $t -> $outDir/$t.parquet")
    }

    // dimensions: fixed
    in("region").write.mode("overwrite").parquet(s"$outDir/region.parquet")
    in("nation").write.mode("overwrite").parquet(s"$outDir/nation.parquet")

    write(replicate(in("customer"), n)
      .withColumn("c_custkey", shifted("c_custkey")), "customer")
    write(replicate(in("supplier"), n)
      .withColumn("s_suppkey", shifted("s_suppkey")), "supplier")
    write(replicate(in("orders"), n)
      .withColumn("o_orderkey", shifted("o_orderkey"))
      .withColumn("o_custkey", shifted("o_custkey")), "orders")
    write(replicate(in("lineitem"), n)
      .withColumn("l_orderkey", shifted("l_orderkey"))
      .withColumn("l_partkey", shifted("l_partkey"))
      .withColumn("l_suppkey", shifted("l_suppkey")), "lineitem")
    write(replicate(in("part"), n)
      .withColumn("p_partkey", shifted("p_partkey"))
      .withColumn("p_name",
        when(col("_r") === 0, col("p_name"))
          .otherwise(concat(col("p_name"), lit(" v"), col("_r")))), "part")
    // events feed the file-STREAM seats too: write the 32 part files
    // TIME-BANDED (range-partitioned on ts), so the scaled topic's
    // per-file arrival order is the tailing-topic shape a real stream
    // has — the watermark advances gradually across micro-batches. A
    // hash-shuffled layout makes batch 0 jump the watermark to max(ts)
    // and late-drops everything after it (measured: it also masked a
    // real timer-vs-watermark crash in t15)
    locally {
      val ev = replicate(in("events"), n)
        .withColumn("event_id", shifted("event_id"))
        .withColumn("user_id", shifted("user_id"))
        .drop("_r")
        .repartitionByRange(32, col("ts"), col("event_id"))
      ev.write.mode("overwrite").parquet(s"$outDir/events.parquet")
      // STAGGER the part-file mtimes in name (= ts-band) order: the
      // file-stream source consumes files in MODIFICATION-TIME order,
      // and parallel write tasks finish out of band order — without
      // this, a late band can arrive first, jump the watermark, and
      // late-drop the earlier bands (the exact failure the banding
      // exists to prevent). 10 s spacing dominates any fs timestamp
      // granularity; the base time is the write's own completion.
      val parts = Option(new java.io.File(s"$outDir/events.parquet")
        .listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      val t0 = System.currentTimeMillis() - parts.length * 10000L
      parts.zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.setLastModifiedTime(p.toPath,
          java.nio.file.attribute.FileTime.fromMillis(t0 + i * 10000L))
      }
      println(s"[scaleup] events -> $outDir/events.parquet " +
        s"(ts-banded, ${parts.length} parts, mtimes staggered)")
    }

    // documents: replica-tagged word suffix at every third position
    // (see scaladoc) — replica 0 stays verbatim
    write(replicate(in("documents"), n)
      .withColumn("text",
        when(col("_r") === 0, col("text")).otherwise(expr(
          """array_join(
               transform(split(text, ' '), (w, i) ->
                 CASE WHEN (i + _r) % 3 = 0 AND w NOT IN ('the', 'a')
                   THEN concat(w, 'x', _r)
                   ELSE w END),
               ' ')""")))
      .withColumn("doc_id", shifted("doc_id"))
      .withColumn("n_chars", length(col("text"))), "documents")

    write(replicate(in("embeddings"), n)
      .withColumn("embedding",
        when(col("_r") === 0, col("embedding")).otherwise(expr(
          """transform(embedding, (x, j) ->
               cast(x + (pmod(xxhash64(vec_id * 64 + j, _r), 19) - 9)
                        / 1000.0 as float))""")))
      .withColumn("vec_id", shifted("vec_id")), "embeddings")

    spark.stop()
  }
}
