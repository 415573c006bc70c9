package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Minimal JSON writer for the result file (maps, sequences, numbers,
  * strings, booleans, null).
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}

object Stats {
  /** Quantile by linear interpolation between closest ranks (numpy's
    * default), q in [0, 1].
    */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** Progress lines on stderr (the run's JVM log), for diagnosing slow runs. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - t0) / 1e9}%.2fs] $msg")
}

/** CPU time of this process (all threads: tasks, driver, JIT, GC). */
object Cpu {
  def seconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }
}

object Clock {
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble
  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * comparable with the millisecond stamps of Spark listener events.
    */
  def ms(): Double = msBase + (System.nanoTime() - nanoBase) / 1e6
  def seconds(nanos: Long): Double = nanos / 1e9

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, seconds(System.nanoTime() - t0))
  }
}

/** Driver heap occupancy after a full collection — the live set, which
  * unlike raw occupancy does not depend on when the collector last ran.
  */
object Heap {
  private var peak = 0.0
  def sample(): Double = {
    // a second collection after a pause also frees what the first one's
    // reference processing released (Spark's ContextCleaner unpersists)
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    peak = math.max(peak, used)
    used
  }
  def peakMb: Double = peak
  def maxMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
}

object Files {
  import java.nio.file.{Files => JFiles, Paths}

  /** Size of every regular file under `root`, by path. */
  def sizes(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!JFiles.exists(p)) Map.empty
    else {
      val walk = JFiles.walk(p)
      try walk.iterator().asScala.filter(f => JFiles.isRegularFile(f))
        .map(f => f.toString -> JFiles.size(f)).toMap
      finally walk.close()
    }
  }

  def write(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(JFiles.createDirectories(_))
    JFiles.write(p, text.getBytes("UTF-8"))
  }
}
