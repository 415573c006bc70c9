package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.EnumSet
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import java.util.concurrent.locks.ReentrantLock

import org.apache.hadoop.fs.{ChecksumFs, CreateFlag, FileContext, Options, Path}
import org.apache.spark.sql.SparkSession

/** The one commit path for graft's small durable metadata files: the
  * [[SnapshotStore]] `_MANIFEST`, the [[ParquetSink]] version manifests
  * and refs ledgers, the `Queries` fingerprint stamps, and the lock files
  * that serialize their read-modify-commit sections.
  *
  * All IO goes through FileContext, whose rename supports the atomic
  * OVERWRITE swap plain FileSystem.rename refuses. A checksummed
  * filesystem (the local one) is unwrapped to its raw form: its .crc
  * sidecar is a second file whose rename follows the data's, so a crash
  * between the two would leave a manifest that fails its checksum.
  */
private[graft] object MetaFiles {

  private def fc(spark: SparkSession, p: Path): FileContext = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ctx = FileContext.getFileContext(p.toUri, conf)
    ctx.getDefaultFileSystem match {
      case checksummed: ChecksumFs => FileContext.getFileContext(checksummed.getRawFs, conf)
      case _ => ctx
    }
  }

  /** The whole file as UTF-8, or None when it does not exist. */
  def read(spark: SparkSession, p: Path): Option[String] =
    try {
      val in = fc(spark, p).open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Replaces `p`'s content atomically: the text goes to `<name>.__tmp`,
    * then one rename-with-OVERWRITE swaps it in. A reader sees the old
    * content or the new, never a torn or missing file; a crash before
    * the rename leaves only the temp file, which the next replace
    * overwrites. Concurrent replacers of one path must hold its lock.
    */
  def replace(spark: SparkSession, p: Path, text: String): Unit = {
    val ctx = fc(spark, p)
    val tmp = tmpPath(p)
    val out = ctx.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(text.getBytes(UTF_8)) finally out.close()
    ctx.rename(tmp, p, Options.Rename.OVERWRITE)
  }

  /** The temp file [[replace]] stages `p`'s next content in. */
  def tmpPath(p: Path): Path = new Path(p.getParent, p.getName + ".__tmp")

  private val guards = new ConcurrentHashMap[String, ReentrantLock]()

  /** Runs `body` holding the lock file `lock`, waiting at most `waitMs`
    * (0 = refuse at once) and otherwise throwing an IllegalStateException
    * with `busy(cause)` as its message.
    *
    * Two layers: a per-path in-JVM guard — EXACT for the common
    * deployment where every committer runs in one driver JVM — plus an
    * exclusive-create lock file as the cross-process advisory
    * (create-if-absent is atomic on HDFS-compatible stores; the local
    * filesystem's create is check-then-create, which is why the in-JVM
    * guard is the first layer). The file holds an informational
    * `pid=… ts=…` payload and is deleted when `body` returns or throws;
    * a crashed holder leaves it behind, and its path is in the message.
    */
  def withLock[T](spark: SparkSession, lock: Path, waitMs: Long,
                  busy: Throwable => String)(body: => T): T = {
    val ctx = fc(spark, lock)
    val deadline = System.nanoTime() + waitMs * 1000000L
    val guard = guards.computeIfAbsent(ctx.makeQualified(lock).toString,
      _ => new ReentrantLock())
    if (!guard.tryLock(waitMs, TimeUnit.MILLISECONDS))
      throw new IllegalStateException(busy(new IllegalStateException(
        s"$lock is held by another thread of this JVM")))
    try {
      var acquired = false
      while (!acquired) {
        try {
          val out = ctx.create(lock, EnumSet.of(CreateFlag.CREATE),
            Options.CreateOpts.createParent())
          try out.write((s"pid=${ProcessHandle.current().pid()} " +
            s"ts=${System.currentTimeMillis()}").getBytes(UTF_8))
          finally out.close()
          acquired = true
        } catch {
          case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                    _: java.nio.file.FileAlreadyExistsException) =>
            if (System.nanoTime() >= deadline)
              throw new IllegalStateException(busy(e))
            Thread.sleep(50)
        }
      }
      try body finally ctx.delete(lock, false)
    } finally guard.unlock()
  }
}
