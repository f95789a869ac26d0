package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SessionMemo

/** Storage-layout operators — the part of a 100 TB pipeline that lives
  * between queries: bucketing for co-located joins, and size-targeted
  * writes against the small-files problem.
  */
object Storage {

  /** Drop a managed table AND its warehouse location — a dropped catalog
    * entry (fresh metastore per JVM) can leave a stale directory behind,
    * which `saveAsTable` then refuses as LOCATION_ALREADY_EXISTS. */
  private def dropTable(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val dir = new java.io.File(wh, name.toLowerCase)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    if (dir.exists()) rm(dir)
  }

  /** Write both sides of a recurring join bucketed by the join key with the
    * same bucket count. Subsequent joins between the tables are co-located:
    * Spark plans a SortMergeJoin with ZERO shuffle exchanges — each task
    * reads matching buckets from both sides. This is the amortize-the-
    * shuffle-once pattern for fact tables joined repeatedly on the same
    * key (the reference's voter⋈candidate join key, scaled up). */
  def writeBucketedPair(spark: SparkSession,
                        left: DataFrame, leftTable: String, leftKey: String,
                        right: DataFrame, rightTable: String, rightKey: String,
                        buckets: Int): Unit = {
    dropTable(spark, leftTable)
    dropTable(spark, rightTable)
    left.write.bucketBy(buckets, leftKey).sortBy(leftKey)
      .mode("overwrite").saveAsTable(leftTable)
    right.write.bucketBy(buckets, rightKey).sortBy(rightKey)
      .mode("overwrite").saveAsTable(rightTable)
  }

  /** Join two co-bucketed tables on their bucket keys. */
  def bucketedJoin(spark: SparkSession, leftTable: String, leftKey: String,
                   rightTable: String, rightKey: String): DataFrame =
    spark.table(leftTable)
      .join(spark.table(rightTable),
            col(leftKey) === col(rightKey), "inner")

  /** Dynamic partition OVERWRITE — the lakehouse daily-restate pattern:
    * `INSERT OVERWRITE` in dynamic mode replaces ONLY the partitions the
    * incoming batch touches; every other partition survives untouched.
    * (Static mode — the default — would truncate the whole table first:
    * the restatement footgun this seat exists to demonstrate.) At 100 TB
    * the write cost is sized by the restated partitions, not the table.
    * Memoized per (session, plans, column) like its siblings. */
  def dynamicOverwriteRoundTrip(base: DataFrame, restated: DataFrame,
                                partCol: String): String =
    SessionMemo.stagedDir(base.sparkSession, "Storage.dynamicOverwrite",
        (SessionMemo.planOf(base), SessionMemo.planOf(restated), partCol)) {
      val dir = graft.TmpDirs.create("graft_dynover_").toString
      base.write.partitionBy(partCol).mode("overwrite").parquet(dir)
      restated.write.partitionBy(partCol).mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(dir)
      dir
    }

  /** Globally-sorted table export: `repartitionByRange` + per-partition
    * sort gives a layout whose files hold NON-OVERLAPPING key ranges in
    * file order — the shape range scans and merge readers want — without
    * a single-partition global sort: the range exchange samples
    * boundaries and every partition sorts independently (exactly how
    * `orderBy.write` plans, made explicit and file-count-controlled).
    * Values are untouched; only layout changes — which the differential
    * grade proves. */
  def sortedExportRoundTrip(df: DataFrame, sortCol: String,
                            nFiles: Int): String =
    // nFiles is part of the key: a second call with a different file
    // count must not be served the first call's layout.
    SessionMemo.stagedDir(df.sparkSession, "Storage.sortedExport",
        (SessionMemo.planOf(df), sortCol, nFiles)) {
      val dir = graft.TmpDirs.create("graft_sorted_").toString
      df.repartitionByRange(nFiles, col(sortCol))
        .sortWithinPartitions(sortCol)
        .write.mode("overwrite").parquet(dir)
      dir
    }

  /** Compression-codec round trip: the same table written under a chosen
    * parquet codec (zstd here — the modern scan-speed/size tradeoff;
    * snappy is Spark's default, gzip the legacy archive pick). Codec
    * choice is a pure storage knob — results must be bit-identical —
    * which is exactly what the differential grade proves. */
  def codecRoundTrip(df: DataFrame, codec: String): String =
    SessionMemo.stagedDir(df.sparkSession, "Storage.codec",
        (SessionMemo.planOf(df), codec)) {
      val dir = graft.TmpDirs.create("graft_codec_").toString
      df.write.mode("overwrite").option("compression", codec).parquet(dir)
      dir
    }

  /** Hive-style partitioned layout: write `df` partitioned by `partCol`
    * (one directory per value), then a filtered read back. The filter on
    * the partition column is resolved against the DIRECTORY LISTING, not
    * the data — `PartitionFilters` in the scan node, zero bytes read from
    * pruned partitions. At 100 TB this is the difference between scanning
    * one event type and scanning the firehose; the date/type/tenant
    * column every big fact table partitions by. The pruning is asserted
    * by a plan spec; the query result is oracle-graded.
    * One layout per (session, dataset, column): repeated bench/verify
    * executions reuse the written copy instead of leaking a fresh one
    * per run. */
  def partitionedRoundTrip(df: DataFrame, partCol: String): String =
    SessionMemo.stagedDir(df.sparkSession, "Storage.partitioned",
        (SessionMemo.planOf(df), partCol)) {
      val dir = graft.TmpDirs.create("graft_part_").toString
      // overwrite: createTempDirectory already created the (empty)
      // target, which a default-mode write refuses
      df.write.partitionBy(partCol).mode("overwrite").parquet(dir)
      dir
    }

  /** Scan one partition of a partitioned layout: the `partCol = value`
    * predicate prunes at the directory level. */
  def prunedScan(spark: SparkSession, dir: String,
                 partCol: String, value: String): DataFrame =
    spark.read.parquet(dir).filter(col(partCol) === value)

  /** Write two producer generations into one table directory — batch 2
    * carries columns batch 1 lacks (the long-lived-table reality
    * [[evolvingRead]] exists for). Memoized per (session, both batches'
    * plan identity), same discipline as [[partitionedRoundTrip]]. */
  def evolvingRoundTrip(batch1: DataFrame, batch2: DataFrame): String =
    SessionMemo.stagedDir(batch1.sparkSession, "Storage.evolving",
        (SessionMemo.planOf(batch1), SessionMemo.planOf(batch2))) {
      val dir = graft.TmpDirs.create("graft_evolve_").toString
      batch1.write.mode("overwrite").parquet(dir)
      batch2.write.mode("append").parquet(dir)
      dir
    }

  /** Schema-evolving read: union the schemas of every parquet batch in
    * `dir` (columns added over a table's life appear as nulls in old
    * batches) — the ingest reality of a long-lived 100 TB table whose
    * producers gain fields. `mergeSchema` costs a footer read per FILE at
    * planning time, which is why it's opt-in per read here rather than
    * session-global (`spark.sql.parquet.mergeSchema` stays false): at
    * millions of files you pin the merged schema in a catalog/metastore
    * once and serve reads from that instead. */
  def evolvingRead(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir)

  /** The graded [[compact]] round-trip: stage `df` as a deliberately
    * fragmented `smallFiles`-file layout (the writer-per-task reality),
    * compact it to `targetRowsPerFile`, and return (compacted dir,
    * file count). Memoized per (session, plan identity, params) like the
    * other layout caches. */
  def compactRoundTrip(df: DataFrame, smallFiles: Int,
                       targetRowsPerFile: Long): (String, Long) =
    SessionMemo.validated(df.sparkSession, "Storage.compact",
        (SessionMemo.planOf(df), smallFiles, targetRowsPerFile),
        (c: (String, Long)) => new java.io.File(c._1).exists()) {
      val inDir = graft.TmpDirs.create("graft_small_").toString
      val outDir = graft.TmpDirs.create("graft_compacted_").toString
      df.repartition(smallFiles).write.mode("overwrite").parquet(inDir)
      (outDir, compact(df.sparkSession, inDir, outDir, targetRowsPerFile))
    }

  /** Compact a directory of (potentially many small) parquet files to
    * ~`targetRowsPerFile` rows per output file. At scale, writers that
    * emit one file per task per partition produce millions of KB-sized
    * files that destroy scan throughput; periodic compaction with an
    * explicit size target is the standard fix. */
  def compact(spark: SparkSession, inDir: String, outDir: String,
              targetRowsPerFile: Long): Long = {
    val df = spark.read.parquet(inDir)
    val rows = df.count()
    val nFiles = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile)
    df.repartition(nFiles.toInt)
      .write.mode("overwrite").parquet(outDir)
    nFiles
  }

  /** Morton (Z-order) value over the low 16 bits of two non-negative
    * integer columns: bit-interleaved so that rows close in BOTH
    * dimensions land close in the one-dimensional sort order. Pure
    * shift/mask arithmetic — codegen'd, no UDF. */
  private def spread16(x: Column): Column = {
    val a = x.bitwiseAND(lit(0xFFFFL))
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(0x00FF00FFL))
    val c = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val d = c.bitwiseOR(shiftleft(c, 2)).bitwiseAND(lit(0x33333333L))
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
  }
  def zValue(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Z-order clustering: range-partition + sort the data by the Morton
    * value of two filter columns, so each output file covers a small
    * RECTANGLE of the (a, b) key space and its parquet min/max footer
    * stats become tight on BOTH columns. A two-dimensional box predicate
    * then prunes most files/row-groups at scan time — the data-skipping
    * layout for the second-most-selective filter column, where
    * directory partitioning ([[partitionedRoundTrip]]) is already spent
    * on the first. A linear sort by (a, b) would leave b's per-file
    * ranges as wide as the table; interleaving bounds both. Memoized per
    * (session, plan identity, params) like the other layout caches. */
  def zorderRoundTrip(df: DataFrame, colA: String, colB: String,
                      nFiles: Int): String =
    SessionMemo.stagedDir(df.sparkSession, "Storage.zorder",
        (SessionMemo.planOf(df), colA, colB, nFiles)) {
      val dir = graft.TmpDirs.create("graft_zorder_").toString
      df.withColumn("__z", zValue(col(colA), col(colB)))
        .repartitionByRange(nFiles, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite").parquet(dir)
      dir
    }

  /** Confs under which [[cboStarJoin]] plans: cost-based optimization +
    * its join-reorder pass. Both default OFF in Spark; a 100 TB
    * deployment turns them on over ANALYZEd tables so multi-join order
    * follows cardinalities, not FROM-clause order. */
  private[graft] val cboConfs = Map(
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.cbo.joinReorder.enabled" -> "true")

  /** One JVM-global lock PER DERIVED TABLE NAME: two sessions sharing a
    * warehouse derive the same catalog name, so serializing on the
    * session object (per-session) would let their DROP/CREATE/ANALYZE
    * interleave. computeIfAbsent gives every name exactly one monitor;
    * distinct names (different sfDir or stats columns) stay concurrent. */
  private val cboDdlLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Register each named table of the sf directory as an EXTERNAL
    * parquet catalog table (zero copy — the table points at the source
    * file) and `ANALYZE ... COMPUTE STATISTICS FOR COLUMNS` the given
    * columns, memoized PER TABLE per (session, sfDir, column list).
    * Catalog-level row counts + per-column NDV/min/max are what the CBO
    * estimates filter selectivity and join cardinality from; without
    * them every reorder decision falls back to raw file sizes. The
    * catalog name carries the sfDir hash AND a column-list hash, so two
    * scale factors — or two registrations of the same table with
    * different stats columns — are distinct tables that can never
    * clobber each other's DDL or serve stats computed for a different
    * request. DDL+ANALYZE run outside the memo (the [[SessionMemo]]
    * discipline); a lost race re-runs idempotent DDL on the same name,
    * harmlessly. Returns the qualified name per requested table. */
  private[graft] def cboTables(spark: SparkSession, sfDir: String,
      tables: Map[String, Seq[String]]): Map[String, String] = {
    val sfx = java.lang.Integer.toHexString(sfDir.hashCode & 0x7fffffff)
    tables.map { case (t, statsCols) =>
      val cols = statsCols.mkString(",")
      val name = s"g_cbo_${t}_${sfx}_" +
        java.lang.Integer.toHexString(cols.hashCode & 0x7fffffff)
      t -> SessionMemo(spark, "Storage.cboTable", (sfDir, t, cols)) {
        cboDdlLocks.computeIfAbsent(name, _ => new Object).synchronized {
          spark.sql(s"DROP TABLE IF EXISTS $name")
          spark.sql(s"CREATE TABLE $name USING parquet " +
            s"OPTIONS (path '$sfDir/$t.parquet')")
          spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS " +
            s"FOR COLUMNS ${statsCols.mkString(", ")}")
        }
        name
      }
    }
  }

  /** Materialize `plan` to a fresh scratch dir WITH `confs` applied,
    * returning a batch read of the result — the shared seat harness for
    * optimizer-conf-scoped graded queries ([[cboStarJoin]],
    * [[graft.ops.Joins.bloomPrunedJoin]]): optimizer rules read session
    * confs at ACTION time, so returning the lazy frame would silently
    * grade the default plan. Outputs are KB-scale aggregates; dirs are
    * temp-rooted and reaped with the container. */
  private[graft] def materializeUnderConf(spark: SparkSession,
      confs: Map[String, String])(plan: => DataFrame): DataFrame =
    graft.streaming.StreamOps.withConf(spark, confs) {
      val out = graft.TmpDirs.create("graft_seat_").toString
      plan.write.mode("overwrite").parquet(out)
      spark.read.parquet(out)
    }

  /** The star join [[cboStarJoin]] materializes, written in the WORST
    * syntactic order — fact ⋈ fact first, the selective dim last. */
  private[graft] def cboStarJoinPlan(spark: SparkSession,
                                     sfDir: String): DataFrame = {
    val t = cboTables(spark, sfDir, Map(
      "lineitem" -> Seq("l_orderkey"),
      "orders"   -> Seq("o_orderkey", "o_custkey"),
      "customer" -> Seq("c_custkey", "c_mktsegment")))
    spark.sql(
      s"""SELECT c_mktsegment, count(*) AS n_items,
         |       round(sum(l_extendedprice), 2) AS revenue
         |FROM ${t("lineitem")}
         |JOIN ${t("orders")}   ON l_orderkey = o_orderkey
         |JOIN ${t("customer")} ON o_custkey = c_custkey
         |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin)
  }

  /** Cost-based-optimizer seat: a three-table star join written in the
    * worst syntactic order (lineitem ⋈ orders first, the mktsegment-
    * filtered customer last). With catalog statistics ([[cboTables]])
    * and `cboConfs` on, Catalyst's `CostBasedJoinReorder` re-plans the
    * order from estimated cardinalities — the filtered customer set
    * joins orders BEFORE the fact table, so the fact meets an
    * already-reduced build side. FROM-clause order is exactly what a
    * 100 TB engine cannot trust users to get right; stats-driven
    * reorder is the guardrail (reorder asserted by `CboSpec`; values
    * are plan-transparent and oracled). Materialized inside the conf
    * scope — the optimizer reads session confs at action time. */
  def cboStarJoin(spark: SparkSession, sfDir: String): DataFrame =
    materializeUnderConf(spark, cboConfs)(cboStarJoinPlan(spark, sfDir))
}
