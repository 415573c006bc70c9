package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the harness: an operation (parent = None) or a
  * layer call inside one. Times are epoch milliseconds ([[Clock.ms]]).
  */
final case class Span(id: Long, parent: Option[Long], name: String, op: Long,
                      start: Double, end: Double) {
  def ms: Double = end - start
}

/** Task-level totals of one stage. */
final class StageAgg {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inBytes = 0L; var inRows = 0L; var shWrite = 0L; var shRead = 0L
  var fetchWaitMs = 0L; var spillDisk = 0L; var spillMem = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(id: Int, span: Option[Long], execId: Option[Long],
                        batch: Option[Long], callSite: String, stageIds: Seq[Int],
                        start: Double, var end: Double = Double.NaN)

/** The traced run's instrumentation, all through public Spark APIs plus
  * one listener-bus drain:
  *  - spans: the harness wraps each call into a layer's public function;
  *  - jobs: every span adds a Spark job tag, so a job belongs to the
  *    innermost span open on the thread that launched it (no time
  *    window, so nested actions are never counted twice);
  *  - stages/tasks: task metrics summed per stage, stage → job → span;
  *  - Catalyst: `QueryExecution.tracker` phases, execution id → span
  *    through the jobs that carry the execution id;
  *  - streaming: micro-batch jobs belong to their batch id.
  * When disabled every call is a plain pass-through and no listener is
  * registered.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) extends graft.PhaseTimer {
  private val tagPrefix = "perfbench-span-"
  private var nextId = 0L
  private val stack = mutable.Stack[Long]()
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  /** execution id → (analysis, optimization, planning) ms */
  val catalyst = new ConcurrentHashMap[Long, (Double, Double, Double)]()
  private var curOp = -1L
  /** Spans are recorded only while active, so a traced run can also time
    * untraced passes (the tracing-overhead baseline) and untraced setup.
    */
  var active = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(",")).filter(_.startsWith(tagPrefix))
        .map(_.stripPrefix(tagPrefix).toLong)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      // micro-batch jobs carry their batch id instead of a span tag
      val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      jobs.put(e.jobId, JobRec(e.jobId, tags.maxOption, exec, batch, site,
        e.stageIds, e.time.toDouble))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
        a.synchronized {
          a.tasks += 1; a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.inBytes += m.inputMetrics.bytesRead; a.inRows += m.inputMetrics.recordsRead
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.shRead += m.shuffleReadMetrics.totalBytesRead
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.spillDisk += m.diskBytesSpilled; a.spillMem += m.memoryBytesSpilled
          a.durations += e.taskInfo.duration
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def p(n: String) = ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
      catalyst.put(qe.id, (p("analysis"), p("optimization"), p("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Runs `f` as a span; an outermost span is an operation. */
  def span[A](name: String)(f: => A): A =
    if (!(enabled && active)) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption
      if (parent.isEmpty) curOp = id
      val op = curOp
      val tag = tagPrefix + id
      spark.sparkContext.addJobTag(tag)
      stack.push(id)
      val t0 = Clock.ms()
      try f
      finally {
        val t1 = Clock.ms()
        stack.pop()
        spark.sparkContext.removeJobTag(tag)
        spans += Span(id, parent, name, op, t0, t1)
      }
    }

  /** PhaseTimer view: phases of the library's timed bodies become spans. */
  def apply[A](label: String)(f: => A): A = span("phase." + label)(f)

  /** Waits until the listener bus has delivered every event posted so far. */
  def drain(): Unit =
    if (enabled) org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext, 60000L)

  def detach(): Unit =
    if (enabled) {
      drain()
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }

  /** Per-operation layer table. Each row splits one operation's wall
    * time into disjoint parts — driver work inside the entry build not
    * covered by a job, time covered by the operation's jobs, and the
    * rest — and carries the operation's Spark counters.
    */
  def layerTable(cores: Int): Seq[Map[String, Any]] = {
    drain()
    val byOp = spans.groupBy(_.op)
    val allJobs = jobs.values.asScala.toSeq
    val spanOp = spans.map(s => s.id -> s.op).toMap
    val jobsByOp = allJobs.filter(_.span.exists(spanOp.contains))
      .groupBy(j => spanOp(j.span.get))
    val execSpan = allJobs.flatMap(j => j.execId.flatMap(e => j.span.map(e -> _))).toMap
    val seenStages = mutable.Set.empty[Int]
    byOp.toSeq.sortBy(_._1).flatMap { case (opId, ss) =>
      ss.find(_.id == opId).map { op =>
        val js = jobsByOp.getOrElse(opId, Nil).filter(!_.end.isNaN).sortBy(_.start)
        val ivs = js.map(j => (j.start, j.end))
        val clipped = ivs.map { case (a, b) => (math.max(a, op.start), math.min(b, op.end)) }
          .filter { case (a, b) => b > a }
        val covered = union(clipped)
        val outsideOp = ivs.map { case (a, b) => b - a }.sum - clipped.map { case (a, b) => b - a }.sum
        val builds = ss.filter(_.name == "queries.build")
        val buildJobs = js.count(j => j.span.exists(id => builds.exists(_.id == id)))
        val buildSelf = builds.map(b => b.ms - overlap(covered, b.start, b.end)).sum
        val coveredMs = covered.map { case (a, b) => b - a }.sum
        val outside = op.ms - coveredMs - buildSelf
        val c = counters(js, seenStages)
        val cat = execSpan.filter { case (_, s) => spanOp.get(s).contains(opId) }
          .keys.flatMap(e => Option(catalyst.get(e))).toSeq
        val phaseSums = ss.filter(_.name.startsWith("phase.")).groupBy(_.name)
          .map { case (n, xs) => n -> xs.map(_.ms).sum / 1000 }
        val childSums = ss.filter(s => s.parent.contains(opId))
          .groupBy(_.name).map { case (n, xs) => "span." + n -> xs.map(_.ms).sum / 1000 }
        Map[String, Any](
          "op" -> op.name, "op_id" -> opId, "start_ms" -> op.start, "end_ms" -> op.end,
          "wall_s" -> op.ms / 1000,
          "queries.build_s" -> buildSelf / 1000,
          "queries.build_jobs" -> buildJobs.toDouble,
          "driver.job_s" -> coveredMs / 1000,
          "driver.outside_jobs_s" -> outside / 1000,
          "trace.jobs_outside_op_s" -> outsideOp / 1000,
          "job_sites" -> js.map(_.callSite),
          "catalyst.analysis_s" -> cat.map(_._1).sum / 1000,
          "catalyst.optimization_s" -> cat.map(_._2).sum / 1000,
          "catalyst.planning_s" -> cat.map(_._3).sum / 1000,
          "exec.core_util" -> (c("exec.task_run_s") / math.max(1e-9, op.ms / 1000 * cores)),
          "spans" -> ss.sortBy(_.id).map(s => Map("id" -> s.id, "parent" -> s.parent,
            "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
            "jobs" -> js.count(_.span.contains(s.id)),
            "self_ms" -> (s.ms - ss.filter(_.parent.contains(s.id)).map(_.ms).sum)))
        ) ++ c ++ phaseSums ++ childSums
      }
    }
  }

  /** Counters of the jobs of the given micro-batches, per batch. */
  def perBatch(batches: Set[Long]): Map[String, Double] = {
    drain()
    val js = jobs.values.asScala.toSeq.filter(j => j.batch.exists(batches) && !j.end.isNaN)
    counters(js).map { case (k, v) =>
      k -> (if (k == "shuffle.skew") v else v / math.max(1, batches.size)) }
  }

  /** Job, stage and task counters of `js`; a stage already counted (in
    * `seen`) is not counted again.
    */
  def counters(js: Seq[JobRec], seen: mutable.Set[Int] = mutable.Set.empty[Int]): Map[String, Double] = {
    val st = js.flatMap(_.stageIds).filter(seen.add).flatMap(id => Option(stages.get(id)))
    def sumSt(f: StageAgg => Long) = st.map(f).sum.toDouble
    val skew = st.filter(_.durations.nonEmpty).sortBy(-_.runMs).headOption.map { a =>
      val d = a.durations.map(_.toDouble).toSeq
      d.max / math.max(1.0, Stats.median(d))
    }.getOrElse(1.0)
    def kind(j: JobRec) = j.callSite.takeWhile(_ != ' ')
    val ckpt = js.filter(j => Set("localCheckpoint", "checkpoint").contains(kind(j)))
    val coll = js.filter(j => Set("collect", "count", "head", "take", "first",
      "collectAsList", "isEmpty", "toLocalIterator").contains(kind(j)))
    Map(
      "driver.jobs" -> js.size.toDouble,
      "driver.stages" -> st.size.toDouble,
      "driver.tasks" -> sumSt(_.tasks),
      "driver.checkpoint_jobs" -> ckpt.size.toDouble,
      "driver.checkpoint_s" -> ckpt.map(j => j.end - j.start).sum / 1000,
      "driver.collect_jobs" -> coll.size.toDouble,
      "driver.collect_s" -> coll.map(j => j.end - j.start).sum / 1000,
      "exec.task_run_s" -> sumSt(_.runMs) / 1000,
      "exec.task_cpu_s" -> sumSt(_.cpuNs) / 1e9,
      "exec.gc_s" -> sumSt(_.gcMs) / 1000,
      "exec.scan_bytes" -> sumSt(_.inBytes),
      "exec.scan_rows" -> sumSt(_.inRows),
      "shuffle.write_bytes" -> sumSt(_.shWrite),
      "shuffle.read_bytes" -> sumSt(_.shRead),
      "shuffle.fetch_wait_s" -> sumSt(_.fetchWaitMs) / 1000,
      "shuffle.skew" -> skew,
      "spill.disk_bytes" -> sumSt(_.spillDisk),
      "spill.mem_bytes" -> sumSt(_.spillMem))
  }

  private def union(ivs: Seq[(Double, Double)]): Seq[(Double, Double)] =
    ivs.sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  private def overlap(ivs: Seq[(Double, Double)], a: Double, b: Double): Double =
    ivs.map { case (c, d) => math.max(0.0, math.min(b, d) - math.max(a, c)) }.sum
}
