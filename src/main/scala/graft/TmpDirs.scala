package graft

import java.nio.file.{Files, Path, Paths}

/** Central factory for graft scratch directories — stream topic dirs,
  * streaming checkpoints, staged storage layouts, embedded-DB homes.
  *
  * Prefers RAM-backed `/dev/shm` when writable: streaming micro-batch
  * latency on a local runner is dominated by checkpoint/offset-log
  * fsyncs and small staged files, which on an ext4 `/tmp` pay real disk
  * latency ~25 streaming queries × many micro-batches per bench run.
  * Everything created here is small (KB–MB scratch, never table-scale
  * data). Falls back to `java.io.tmpdir` when `/dev/shm` is absent. On
  * a real cluster the equivalent knobs are `spark.local.dir` and a
  * fast-storage `checkpointLocation` — this helper is the local-mode
  * stand-in, not a semantics change.
  */
object TmpDirs {
  private lazy val root: Path = {
    val shm = Paths.get("/dev/shm")
    // Guard against environments that mount a token-sized /dev/shm
    // (Docker defaults to 64 MB): a checkpoint ENOSPC mid-stream is far
    // worse than ext4 latency, so require real headroom before opting in.
    val shmUsable =
      Files.isDirectory(shm) && Files.isWritable(shm) &&
        (try shm.toFile.getUsableSpace >= 4L * 1024 * 1024 * 1024
         catch { case _: Throwable => false })
    val base =
      if (shmUsable) shm
      else Paths.get(System.getProperty("java.io.tmpdir"))
    Files.createDirectories(base.resolve("graft_scratch"))
  }

  def create(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** The on-disk tmpdir as it was at class-load, BEFORE install()
    * repoints `java.io.tmpdir` — shuffle spill must stay here. If the
    * JVM was LAUNCHED with tmpdir already in tmpfs (a common tuning),
    * fall back to /tmp: pinning spark.local.dir into /dev/shm would be
    * exactly the shuffle-spill-in-RAM hazard install() exists to
    * prevent. */
  private val diskTmp: String = {
    val t = System.getProperty("java.io.tmpdir", "/tmp")
    if (t.startsWith("/dev/shm")) "/tmp" else t
  }

  /** Point the JVM's scratch (`java.io.tmpdir`) at the RAM-backed root
    * for graft's own KB–MB temp files, while PINNING `spark.local.dir`
    * to the original on-disk tmp: Spark's local dirs hold shuffle spill
    * and block-manager files — table-scale data that must not compete
    * with executor memory in tmpfs or hit a /dev/shm ENOSPC mid-query.
    * (SparkConf loads `spark.*` system properties, so setting the
    * property before SparkSession creation pins every session in this
    * JVM.) Call FIRST in a forked main, before any Spark or NIO temp
    * usage; a no-op when `/dev/shm` is unavailable. */
  def install(): Unit =
    if (root.startsWith("/dev/shm")) {
      System.setProperty("java.io.tmpdir", root.toString)
      if (System.getProperty("spark.local.dir") == null)
        System.setProperty("spark.local.dir", diskTmp)
    }

  /** Local-filesystem checkpoint fast path, the companion tuning to the
    * RAM-backed scratch above. The default FileContext-based checkpoint
    * manager routes every offset-log / commit-log / state-delta RENAME
    * through Hadoop's ChecksumFs → `FileSystem.rename(3-arg)` →
    * `FileUtil.readLink`, which **forks a shell process per rename**
    * (jstack-verified on this tree) — with ~4 renames per micro-batch
    * per stateful partition across ~54 streaming seats, that is the
    * dominant and LOAD-SENSITIVE share of the board's fixed streaming
    * cost (fork latency degrades with host load — the `calib_stream`
    * ambient mode). The FileSystem-based manager renames via
    * `java.io.File` directly, and `RawLocalFileSystem` additionally
    * skips the `.crc` shadow file each checkpoint write otherwise
    * creates (2× the small-file count). Semantics are unchanged for
    * this harness: the FileContext manager's advantage — rename
    * atomicity against a concurrent ZOMBIE writer on the same
    * checkpoint — needs two simultaneous drivers, which a single-JVM
    * sequential run never has. On a real cluster checkpoints live on
    * HDFS/object storage and this key is simply not set.
    *
    * Deliberately NOT set: `fs.file.impl=RawLocalFileSystem` (to skip
    * `.crc` shadow files) — measured to break RocksDB state-store
    * commits (CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT on the provider's
    * first checkpoint); the fork elimination above is the win that
    * matters and stands alone. */
  val localFsFastConfs: Map[String, String] = Map(
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")

  /** The one driver session configuration (r18 for Bench, now every
    * driver via [[graft.Driver.session]]): `local[cpus]`, shuffle width
    * = cpus, session time zone UTC, UI off, the fast local checkpoint
    * managers ([[localFsFastConfs]], `SPARK_GRAFT_LOCALFS_FAST=0`
    * restores stock), and the adaptive-execution posture the driver
    * times (AQE + post-shuffle coalescing to the 8 MB advisory target,
    * `SPARK_GRAFT_AQE_ADVISORY` overrides the target). `aqeByDefault`
    * picks what an unset `SPARK_GRAFT_AQE` means: Bench times the
    * adaptive posture (`=0` restores Spark's stock adaptive settings),
    * Verify grades without it (`=1` validates the timed posture). Every
    * driver and the benchmark build from here — profiled readings must
    * match the graded config exactly, and hand-maintained copies of this
    * block had drifted (time zone, advisory). Rationale for each value:
    * see the comments in [[graft.Bench]]'s history. */
  def timedSessionBuilder(cpus: String,
                          aqeByDefault: Boolean = true): org.apache.spark.sql.SparkSession.Builder = {
    val builder = org.apache.spark.sql.SparkSession.builder().master(s"local[$cpus]")
    timedConfs(cpus, aqeByDefault).foreach { case (k, v) => builder.config(k, v) }
    builder
  }

  /** The confs [[timedSessionBuilder]] sets, as data: `env` stands in
    * for the process environment so the posture can be checked without
    * starting a session. */
  private[graft] def timedConfs(cpus: String, aqeByDefault: Boolean,
                                env: Map[String, String] = sys.env): Map[String, String] = {
    val base = Map(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    val localFs =
      if (env.getOrElse("SPARK_GRAFT_LOCALFS_FAST", "1") == "1") localFsFastConfs
      else Map.empty[String, String]
    val aqe =
      if (env.getOrElse("SPARK_GRAFT_AQE", if (aqeByDefault) "1" else "0") == "1")
        Map(
          "spark.sql.adaptive.enabled" -> "true",
          "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
          // coalesce tiny shuffles to the TARGET SIZE (often 1 partition)
          // instead of the core count — interleaved A/B: 57.3 -> 55.4 s
          // over 243 batch seats, worst seat +0.004 s
          "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
            env.getOrElse("SPARK_GRAFT_AQE_ADVISORY", "8m"))
      else Map.empty[String, String]
    base ++ localFs ++ aqe
  }
}
