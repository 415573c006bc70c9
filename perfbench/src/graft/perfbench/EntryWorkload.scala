package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import graft.SparkEntry

/** The inventory-style workloads: a pinned list of `SparkEntry.queries`
  * entries over generated tables, each materialized through the noop
  * sink (every output column computed, nothing written).
  *
  * Setup: seeded inputs (made by `gen.py` before the JVM starts, several
  * times, median kept), session, then one untimed call of every entry,
  * written to parquet for the checks. That call builds the standing state
  * the stateful entries declare (ensure* indexes, published versions,
  * snapshot stores), so each entry is timed on its steady-state path. Timed: whole passes over
  * the list, each in a seed-shuffled order, until `seconds` have passed.
  * Checks, after the timed passes: each output against its DuckDB
  * oracle, stateful entries also on their timed path, and entries without
  * an oracle against a second evaluation.
  */
object EntryWorkload {

  def run(ctx: Ctx, workload: String, names: Seq[String]): Result = {
    val res = new Result(workload)
    val spark = ctx.spark
    val queries = SparkEntry.queries
    val (present, missing) = names.partition(queries.contains)
    // a pinned entry that no longer exists is a failed operation, so a
    // deleted entry reads as a workload change and never as a speed-up
    missing.foreach(n => res.fail(s"entry $n", new NoSuchElementException("not in SparkEntry.queries")))
    res.attempted += missing.size

    val genS = ctx.inputGenS
    def materialize(name: String): Unit = {
      val df = ctx.tracer.span("queries.build")(queries(name)(spark, ctx.data))
      ctx.tracer.span("action")(df.write.format("noop").mode("overwrite").save())
    }
    // the setup call writes each entry's output for the checks: one
    // evaluation serves as warm-up, standing-state build and check input.
    // One entry at a time: run concurrently, dedup_clusters_largestar lost
    // a local-checkpoint block to the context cleaner.
    val broken = mutable.Set.empty[String]
    val (_, stateS) = Clock.timed(present.foreach { n =>
      val (ok, s) = Clock.timed(Main.guarded(res, s"setup $n") {
        queries(n)(spark, ctx.data).write.parquet(s"${ctx.checkDir}/$n")
      })
      Log(f"setup $n: $s%.3fs${if (ok) "" else " FAILED"}")
      if (!ok) broken += n
    })
    res.attempted += broken.size
    res.info("setup_parts") = Map("session_s" -> ctx.sessionS, "gen_s" -> genS,
      "warm_s" -> stateS)
    res.info("stateful_paths") = Entries.stateful.filter(present.contains)
      .map(n => n -> "timed on the read/adopt path; standing state built by the setup call").toMap
    res.metrics("setup_s") = ctx.setupS(genS, stateS)

    val timedNames = present.filterNot(broken)
    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val passWall = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val passOps = mutable.ArrayBuffer.empty[Seq[Long]]
    val t0 = System.nanoTime()
    var pass = 0
    def elapsed = Clock.seconds(System.nanoTime() - t0)
    def done = if (ctx.traced) pass >= Units.tracedRun else elapsed >= ctx.seconds && pass >= 1
    while (!done && timedNames.nonEmpty) {
      val tracedPass = Units.traced(ctx, pass)
      val order = new Random(ctx.seed * 1000003L + pass).shuffle(timedNames)
      val firstSpan = ctx.tracer.spans.size
      ctx.tracer.active = tracedPass
      val cpu0 = Cpu.seconds()
      val (_, w) = Clock.timed(order.foreach { n =>
        res.attempted += 1
        val (ok, s) = Clock.timed(Main.guarded(res, s"entry $n") {
          if (tracedPass) ctx.tracer.span("entry:" + n)(materialize(n))
          else materialize(n)
        })
        Log(f"pass $pass $n: $s%.3fs${if (ok) "" else " FAILED"}")
        if (ok && !tracedPass) lat.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += s
      })
      ctx.tracer.active = false
      if (!tracedPass) passCpu += Cpu.seconds() - cpu0
      passWall += ((tracedPass, w))
      if (tracedPass) passOps += ctx.tracer.spans.drop(firstSpan).filter(_.parent.isEmpty).map(_.id).toSeq
      Heap.sample()
      pass += 1
    }
    val perEntry = lat.values.map(xs => Stats.median(xs.toSeq)).toSeq
    val plainWalls = passWall.filterNot(_._1).map(_._2).toSeq
    if (perEntry.nonEmpty) {
      res.metrics("wall_s") = Stats.median(plainWalls)
      res.metrics("cpu_s") = Stats.median(passCpu.toSeq)
      res.metrics("op_geomean_s") = Stats.geomean(perEntry)
      res.layers("op_p95_s") = Stats.quantile(perEntry, 0.95)
    }
    res.layers("heap_peak_mb") = Heap.peakMb
    res.info("passes") = pass
    res.info("entries") = timedNames.size
    res.info("entry_latency_s") = lat.map { case (k, v) => k -> v.toSeq }.toMap

    if (ctx.traced) {
      val table = ctx.tracer.layerTable(ctx.cores)
      Files.write(ctx.traceOut, Json(table))
      val perPass = passOps.map(ids => Layers.unit(table.filter(r => ids.contains(r("op_id"))), ctx.cores))
      res.layers ++= Layers.medianOf(perPass.toSeq)
      res.layers("trace.overhead_s") = Units.overhead(passWall.toSeq)
      Layers.checkSplit(res, perPass.flatMap(_.get("trace.split_err_frac")).toSeq)
    }

    // output checks, outside every timed pass: the setup output against
    // the DuckDB oracle; stateful entries again on their timed (read or
    // adopt) path; entries without an oracle against a second evaluation
    val oracle = SparkEntry.oracleSql
    timedNames.foreach { n =>
      val setupOut = s"${ctx.checkDir}/$n"
      val again = s"${ctx.checkDir}/$n.again"
      def check(dir: String) = oracle.get(n) match {
        case Some(sql) => res.checks += Map("name" -> n, "kind" -> "oracle", "dir" -> dir,
          "sql" -> sql, "data" -> ctx.data)
        case None => res.checks += Map("name" -> n, "kind" -> "same", "dir" -> setupOut,
          "other" -> dir)
      }
      if (oracle.contains(n)) check(setupOut)
      if (!oracle.contains(n) || Entries.stateful(n))
        if (Main.guarded(res, s"check $n")(queries(n)(spark, ctx.data).write.parquet(again)))
          check(again)
    }
    res
  }
}

/** Units of work (passes, periods) of the traced runs: untraced,
  * traced, untraced, so the tracing overhead is measured in the same
  * process without the warm-up drift between the first and later units.
  */
object Units {
  val tracedRun = 3
  def traced(ctx: Ctx, unit: Int): Boolean = ctx.traced && unit % 2 == 1
  /** Traced minus untraced unit time, from (traced, seconds) samples. */
  def overhead(walls: Seq[(Boolean, Double)]): Double = {
    val (on, off) = walls.partition(_._1)
    if (on.isEmpty || off.isEmpty) 0.0
    else Stats.median(on.map(_._2)) - off.map(_._2).sum / off.size
  }
}

/** Reduction of the per-operation layer table to per-unit figures (a
  * unit is a pass, a cycle or a run) and their median over units.
  */
object Layers {
  private val summed = Seq("queries.build_s", "queries.build_jobs",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "driver.jobs", "driver.stages", "driver.tasks", "driver.job_s",
    "driver.outside_jobs_s", "driver.checkpoint_jobs", "driver.checkpoint_s",
    "driver.collect_jobs", "driver.collect_s", "exec.task_run_s",
    "exec.task_cpu_s", "exec.gc_s", "exec.scan_bytes", "exec.scan_rows",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
    "spill.disk_bytes", "spill.mem_bytes")

  private def num(r: Map[String, Any], k: String): Double = r.get(k) match {
    case Some(d: Double) => d
    case _ => 0.0
  }

  def unit(rows: Seq[Map[String, Any]], cores: Int): Map[String, Double] =
    if (rows.isEmpty) Map.empty
    else {
      val wall = rows.map(num(_, "wall_s")).sum
      summed.map(k => k -> rows.map(num(_, k)).sum).toMap ++ Map(
        "exec.core_util" -> rows.map(num(_, "exec.task_run_s")).sum / math.max(1e-9, wall * cores),
        "shuffle.skew" -> Stats.median(rows.map(num(_, "shuffle.skew"))),
        // share of an operation's wall time its attributed jobs spent
        // outside it: 0 when the split (build + jobs + outside) is exact
        "trace.split_err_frac" -> rows.map(r =>
          num(r, "trace.jobs_outside_op_s") / math.max(1e-9, num(r, "wall_s"))).max)
    }

  /** Tolerance of the wall-time split: the share of an operation's wall
    * time its attributed jobs may spend outside it (listener timestamps
    * have millisecond resolution).
    */
  val splitTolerance = 0.02

  def checkSplit(res: Result, errFracs: Seq[Double]): Unit = {
    val worst = (0.0 +: errFracs).max
    res.checks += Map("name" -> "layer split (build + jobs + outside) sums to wall time",
      "kind" -> "verdict", "ok" -> (worst <= splitTolerance),
      "detail" -> f"worst operation: $worst%.4f of its wall time outside it (tolerance $splitTolerance)")
  }

  def medianOf(units: Seq[Map[String, Double]]): Map[String, Double] =
    units.flatMap(_.keys).distinct.map(k => k -> Stats.median(units.flatMap(_.get(k)))).toMap
}
