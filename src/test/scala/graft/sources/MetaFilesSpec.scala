package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** The one commit path for durable metadata: atomic whole-file replace
  * and the two-layer lock every manifest, ledger and stamp writer uses.
  */
class MetaFilesSpec extends SparkSpec {

  private def freshDir =
    new Path(Files.createTempDirectory("graft-metafiles").toUri)

  private def exists(p: Path): Boolean =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)

  test("a crashed replace's temp file is invisible to readers and overwritten") {
    val p = new Path(freshDir, "m.txt")
    assert(MetaFiles.read(spark, p).isEmpty)
    MetaFiles.replace(spark, p, "v1\n")
    assert(!exists(MetaFiles.tmpPath(p)))
    // no checksum sidecar: its rename could not be atomic with the data's
    assert(!exists(new Path(p.getParent, ".m.txt.crc")))
    // a replace that died before its rename: a torn temp file is left
    Files.writeString(Paths.get(MetaFiles.tmpPath(p).toUri), "v2-to")
    assert(MetaFiles.read(spark, p).contains("v1\n"))
    MetaFiles.replace(spark, p, "v3\n")
    assert(MetaFiles.read(spark, p).contains("v3\n"))
    assert(!exists(MetaFiles.tmpPath(p)))
  }

  test("threads racing withLock(p, 0): exactly one holder per round") {
    val lock = new Path(freshDir, "race.lock")
    val n = 8
    for (round <- 1 to 25) {
      val start = new CyclicBarrier(n)
      val refused = new CountDownLatch(n - 1)
      val holders = new AtomicInteger()
      val errs = new ConcurrentLinkedQueue[Throwable]()
      val threads = (1 to n).map { _ =>
        new Thread(() =>
          try {
            start.await()
            try MetaFiles.withLock(spark, lock, 0, e => s"busy: ${e.getMessage}") {
              holders.incrementAndGet()
              // hold until every other contender has been refused, so a
              // second holder can only appear by breaking exclusion
              refused.await(10, TimeUnit.SECONDS)
            } catch {
              case e: IllegalStateException if e.getMessage.startsWith("busy") =>
                refused.countDown()
            }
          } catch { case t: Throwable => errs.add(t) })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, errs.toArray.mkString("; "))
      assert(holders.get == 1, s"round $round: ${holders.get} holders")
      assert(refused.getCount == 0, s"round $round")
      assert(!exists(lock), s"round $round left its lock file behind")
    }
  }

  test("a timed lock waits out a holder and is released by a failing body") {
    val lock = new Path(freshDir, "timed.lock")
    val entered = new CountDownLatch(1)
    val holder = new Thread(() =>
      try MetaFiles.withLock(spark, lock, 5000, _ => "busy") {
        entered.countDown()
        Thread.sleep(300)
        throw new RuntimeException("boom")
      } catch { case _: RuntimeException => })
    holder.start()
    assert(entered.await(10, TimeUnit.SECONDS))
    // waits for the failing holder, then gets the lock
    assert(MetaFiles.withLock(spark, lock, 5000, _ => "busy")(exists(lock)))
    holder.join()
    assert(!exists(lock))
    // a lock file left by a crashed process times out with the message
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(lock, false).close()
    val ex = intercept[IllegalStateException] {
      MetaFiles.withLock(spark, lock, 200, _ => s"could not acquire $lock")(())
    }
    assert(ex.getMessage == s"could not acquire $lock")
    assert(exists(lock), "a refused acquirer must not delete another's lock")
  }
}
