package graftbench

import java.io.File
import java.nio.channels.{FileChannel, FileLock}
import java.nio.file.{Files, Path, StandardOpenOption}

/** The run's scratch root: every topic, checkpoint, board and graft
  * staging directory of a run lives under it, one run holds it at a time,
  * and it is removed when the run ends. */
final class Scratch private (val root: Path, lock: FileLock, channel: FileChannel) {

  def dir(name: String): Path = Files.createDirectories(root.resolve(name))

  def close(): Unit = {
    Scratch.rmTree(root.toFile)
    try lock.release() finally channel.close()
  }
}

object Scratch {

  /** Take the exclusive lock on `base` and create `base/run`. Fails loudly
    * if another run holds it: two JVMs sharing staged topics corrupt each
    * other's runs without an error. */
  def acquire(base: Path): Scratch = {
    Files.createDirectories(base)
    val ch = FileChannel.open(base.resolve(".lock"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    val lock = try ch.tryLock() catch {
      case _: java.nio.channels.OverlappingFileLockException => null
    }
    if (lock == null) {
      ch.close()
      throw new IllegalStateException(
        s"scratch root $base is locked by another benchmark run; refusing to share it")
    }
    val run = base.resolve("run")
    rmTree(run.toFile)
    Files.createDirectories(run)
    new Scratch(run, lock, ch)
  }

  /** Point graft's scratch factory (`graft.TmpDirs`) at `dir`, so graft's
    * own staging stays inside the run's root, which the lock guards,
    * instead of the shared `/dev/shm/graft_scratch`. The benchmark may
    * write only inside its checkout, so graft's scratch is then on the
    * checkout's disk rather than in RAM, and `TmpDirs.install()` (which
    * acts only on a `/dev/shm` root) is not called. `TmpDirs` exposes no
    * setter; its root is a lazy field, set here before graft first reads
    * it. Throws if the field layout has changed, rather than run unconfined. */
  def confineGraft(dir: Path): Unit =
    try {
      val cls = Class.forName("graft.TmpDirs$")
      val root = cls.getDeclaredField("root")
      val init = cls.getDeclaredField("bitmap$0")
      root.setAccessible(true); init.setAccessible(true)
      cls.synchronized {
        root.set(null, Files.createDirectories(dir))
        init.setBoolean(null, true)
      }
    } catch {
      case e @ (_: ReflectiveOperationException | _: RuntimeException) =>
        throw new IllegalStateException(
          s"cannot point graft.TmpDirs at $dir; refusing to run on graft's shared scratch", e)
    }

  def rmTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }
}
