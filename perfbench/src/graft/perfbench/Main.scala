package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What one run found: timed samples, setup phases, output checks and
  * failures. `metrics` are the end-to-end figures of an untraced run;
  * `layers` the per-layer figures of a traced one.
  */
final class Result(val workload: String) {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  /** Output checks; `run.py` resolves the ones the JVM cannot (DuckDB). */
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def fail(what: String, e: Throwable): Unit = synchronized {
    failed += 1
    errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
  }
}

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val traced: Boolean, val work: String, val cores: Int,
                val smoke: Boolean, val traceOut: String, val data: String,
                val inputGenS: Seq[Double]) {
  val tracer = new Tracer(spark, traced)
  /** JVM start → session ready, the first part of every setup. */
  val sessionS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
  val checkDir: String = s"$work/check"

  /** Setup repetitions: the parts of setup that can be redone in one
    * process are repeated and their median kept, so one slow repetition
    * does not move setup_s.
    */
  val genReps: Int = if (smoke) 1 else 3

  def setupS(genS: Seq[Double], stateS: Double): Double =
    sessionS + Stats.median(genS) + stateS
}

/** Entry point of the benchmark JVM:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  * --trace-out FILE [--data DIR --gen-s S1,S2,..] [--smoke]`; `--data` holds
  * the generated tables of the entry workloads, `--gen-s` the times their
  * generation repetitions took.
  * Writes the run's result as JSON to FILE; `run.py` turns it into the
  * benchmark's one-line verdict.
  */
object Main {
  val workloads: Map[String, Ctx => Result] = Map(
    "inventory" -> (c => EntryWorkload.run(c, "inventory", Entries.inventory)),
    "cdc_replicate" -> (c => CdcReplicate.run(c)),
    "survey" -> (c => EntryWorkload.run(c, "survey", Entries.benched)))

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val smoke = args.contains("--smoke")
    val workload = opts("workload")
    val body = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val cores = Runtime.getRuntime.availableProcessors()
    val work = opts("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoint")
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toDouble,
      opts.getOrElse("trace", "0") == "1", work, cores, smoke,
      opts.getOrElse("trace-out", s"$work/trace.json"), opts.getOrElse("data", s"$work/data"),
      opts.get("gen-s").toSeq.flatMap(_.split(",")).map(_.toDouble))
    val res = body(ctx)
    ctx.tracer.detach()
    res.info ++= Seq(
      "nproc" -> cores,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "codec" -> spark.conf.get("spark.io.compression.codec"),
      "spark_version" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "heap_max_mb" -> Heap.maxMb,
      "mem_total_mb" -> (ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean => os.getTotalMemorySize / 1048576.0
        case _ => -1.0
      }),
      "seed" -> ctx.seed, "seconds" -> ctx.seconds, "traced" -> ctx.traced,
      "smoke" -> smoke)
    Files.write(opts("out"), Json(Map(
      "workload" -> workload, "metrics" -> res.metrics, "layers" -> res.layers,
      "info" -> res.info, "checks" -> res.checks, "errors" -> res.errors,
      "attempted" -> res.attempted, "failed" -> res.failed)))
    spark.stop()
  }

  /** Runs `f`, recording a failure instead of propagating it. */
  def guarded(res: Result, what: String)(f: => Unit): Boolean =
    try { f; true }
    catch { case NonFatal(e) => res.fail(what, e); false }
}
