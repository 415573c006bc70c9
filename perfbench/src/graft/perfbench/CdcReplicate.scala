package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Ann, Transforms}
import graft.sources.{ParquetSink, SnapshotStore}

/** The write side: CDC → replication cycles over a churning orders table,
  * and publishes of a churning embedding corpus's maintained IVF index.
  * One cycle (an operation):
  *  1. lands the full orders snapshot (`SnapshotStore.write`),
  *  2. diffs it against the previous one (`SnapshotStore.changes`),
  *  3. applies row transforms (column hashing, row → JSON),
  *  4. writes the change delta (`ParquetSink.writeSizeControlled`),
  *  5. hands the landed delta to the running `ReplicationPipeline`
  *     ([[Replica]]), which replicates it beside the next steps.
  * Every `period` cycles a publish (an operation) applies the embedding
  * churn since the last one to the IVF index at frozen centroids
  * (`Queries.ivfUpsertApply`, version c from the previous version),
  * compacts the new version (`compactPublishedVersion`) and re-adopts it
  * from its manifest (`adoptPublishedVersion`). One period runs untimed
  * in setup; `wall_s` and `cpu_s` are per period, `op_geomean_s` and
  * `op_p95_s` over cycles.
  * The seeded churn generator keeps its own I/U/D ground truth; every
  * delta is checked against it, the replica against the batch twin of
  * the replication stream, and the last published version against a full
  * `Ann.ivfAssign` rebuild at the same centroids.
  */
object CdcReplicate {
  private val period = 2
  /** `writeSizeControlled`'s default target file size. */
  private val targetFileBytes = 128L << 20
  private val orderBytes = 32.0 // key, customer, price, ts: 4 x 8 bytes
  private val dim = 64
  private val vecBytes = 8.0 + dim * 4

  /** Driver-side state of the two churning tables plus the ground truth
    * of the last cycle.
    */
  final class Churn(seed: Long, nOrders: Int, nVecs: Int) {
    private val rnd = new Random(seed)
    val orders = mutable.LinkedHashMap.empty[Long, (Long, Double, Option[Long])]
    val vecs = mutable.LinkedHashMap.empty[Long, Array[Float]]
    private var nextKey = 0L
    private var nextVec = 0L
    var truth: Map[Long, String] = Map.empty
    var changedBytes = 0.0

    private def vector(): Array[Float] = {
      val label = rnd.nextInt(10)
      val c = new Random(seed * 31 + label)
      val v = Array.fill(dim)((c.nextGaussian() * 0.14 + rnd.nextGaussian() * 0.12).toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    private def newOrder(): Unit = {
      orders(nextKey) = (rnd.nextInt(nOrders / 10 + 1).toLong,
        math.round(rnd.nextDouble() * 5e7) / 100.0,
        if (rnd.nextDouble() < 0.1) None else Some(rnd.nextInt(1000000).toLong))
      nextKey += 1
    }
    (0 until nOrders).foreach(_ => newOrder())
    (0 until nVecs).foreach { _ => vecs(nextVec) = vector(); nextVec += 1 }

    /** One cycle of churn: ~1% inserts, ~2% updates (ts bumped; a fifth
      * of them to or from null), ~1% deletes, and ~1.5% of the vectors.
      */
    def step(): Unit = {
      val t = mutable.Map.empty[Long, String]
      val keys = orders.keys.toIndexedSeq
      rnd.shuffle(keys).take(keys.size / 100).foreach { k => orders.remove(k); t(k) = "D" }
      rnd.shuffle(orders.keys.toIndexedSeq).take(keys.size / 50).foreach { k =>
        val (cust, price, ts) = orders(k)
        val next = ts match {
          case Some(v) if rnd.nextDouble() < 0.2 => None
          case Some(v) => Some(v + 1 + rnd.nextInt(1000))
          case None => Some(rnd.nextInt(1000000).toLong)
        }
        orders(k) = (cust, price, next)
        t(k) = "U"
      }
      (0 until keys.size / 100).foreach { _ => t(nextKey) = "I"; newOrder() }
      truth = t.toMap
      val vkeys = vecs.keys.toIndexedSeq
      val nv = math.max(1, vkeys.size / 200)
      rnd.shuffle(vkeys).take(nv).foreach(vecs.remove)
      rnd.shuffle(vecs.keys.toIndexedSeq).take(nv).foreach(k => vecs(k) = vector())
      (0 until nv).foreach { _ => vecs(nextVec) = vector(); nextVec += 1 }
      changedBytes = t.size * orderBytes + 3 * nv * vecBytes
    }
  }

  private val orderSchema = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_totalprice", DoubleType, nullable = false),
    StructField("ts", LongType, nullable = true)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  private def ordersDf(spark: SparkSession, c: Churn): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(c.orders.iterator.map { case (k, (cu, p, ts)) =>
      Row(k, cu, p, ts.map(Long.box).orNull) }.toSeq: _*), orderSchema)
  private def vecDf(spark: SparkSession, c: Churn): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(c.vecs.iterator.map { case (k, v) => Row(k, v.toSeq) }.toSeq: _*),
    vecSchema).localCheckpoint()

  final case class State(churn: Churn, root: String, ivf: String, cents: DataFrame,
                         var prevVecs: DataFrame)

  def run(ctx: Ctx): Result = {
    val res = new Result("cdc_replicate")
    val spark = ctx.spark
    val (nOrders, nVecs) = if (ctx.smoke) (2000, 300) else (5000, 2000)
    def ordersDf(c: Churn): DataFrame = CdcReplicate.ordersDf(spark, c)
    def vecDf(c: Churn): DataFrame = CdcReplicate.vecDf(spark, c)
    // setup: the churn generator's initial tables (made `genReps` times,
    // median kept), snapshot 0, the standing IVF base index, the stream
    val reps = (1 to ctx.genReps).map(_ => Clock.timed(new Churn(ctx.seed, nOrders, nVecs)))
    val (st, stateS) = Clock.timed {
      val churn = reps.last._1
      val root = s"${ctx.work}/snapstore"
      SnapshotStore.write(ordersDf(churn), root, "orders", 0L)
      val v0 = vecDf(churn)
      val stride = math.max(1L, nVecs / math.max(16L, math.sqrt(nVecs.toDouble).toLong))
      val cents = v0.filter(col("vec_id") % stride === 0).localCheckpoint()
      ParquetSink.writePartitionedSnapshot(
        v0.select(col("vec_id"), col("embedding").as("v"))
          .join(Ann.ivfAssign(v0, cents, "vec_id", "embedding", "vec_id", "embedding")
            .select("vec_id", "centroid_id"), "vec_id"),
        "pb_ivf_0", "centroid_id", Seq("vec_id"))
      State(churn, root, "pb_ivf", cents, v0)
    }
    val (replica, streamS) = Clock.timed(new Replica(ctx))
    Log(f"standing state: $stateS%.2fs, stream started: $streamS%.2fs")
    try cycles(ctx, res, st, reps.map(_._2), stateS + streamS, replica)
    finally replica.stop()
    replica.check(res)
    res
  }

  private def cycles(ctx: Ctx, res: Result, st: State, genS: Seq[Double], stateS: Double,
                     replica: Replica): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val deltaRoot = s"${ctx.work}/deltas"
    val truths = mutable.Map.empty[Long, Map[Long, String]]
    val sentOffset = mutable.Map.empty[Long, Long]
    var version = 0L
    def sizes(): Map[String, Long] =
      Files.sizes(st.root) ++ Files.sizes(deltaRoot) ++ Files.sizes(s"${ctx.work}/warehouse")

    /** A cycle: the load generator's churn step and inputs are untimed. */
    def cycle(c: Long): Unit = {
      tr.span("snapshot.write")(SnapshotStore.write(
        CdcReplicate.ordersDf(spark, st.churn), st.root, "orders", c))
      val changes = tr.span("snapshot.changes")(
        SnapshotStore.changes(spark, st.root, "orders", c - 1, c, Seq("o_orderkey")))
      val out = Transforms.applyHashRules(changes,
        Seq(Transforms.HashRule("o_custkey", "sha256", "cust_hash")))
        .withColumn("row_json", Transforms.rowToJson(col("o_orderkey"), col("ts"), col("op")))
      tr.span("sink.write")(ParquetSink.writeSizeControlled(out, s"$deltaRoot/cycle=$c",
        mode = SaveMode.ErrorIfExists))
      tr.span("stream.send") {
        val rows = spark.read.parquet(s"$deltaRoot/cycle=$c").select("o_orderkey", "o_totalprice")
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        sentOffset(c) = replica.send(rows.toSeq)
      }
    }
    // traced publishes: the files after the upsert, before compaction
    // garbage-collects the delta generation it wrote
    var afterUpsert = Map.empty[String, Long]
    def publish(c: Long, vecs: DataFrame): Unit = {
      tr.span("publish.upsert")(graft.Queries.ivfUpsertApply(spark, s"${st.ivf}_$version",
        st.prevVecs, vecs, st.cents, tr, Some(s"${st.ivf}_$c")))
      if (tr.active) afterUpsert = sizes()
      st.prevVecs = vecs
      version = c
      tr.span("publish.compact")(ParquetSink.compactPublishedVersion(spark,
        s"${st.ivf}_$c", "centroid_id", Seq("vec_id"), tr))
      val adopted = tr.span("publish.adopt")(ParquetSink.adoptPublishedVersion(spark, s"${st.ivf}_$c"))
      require(adopted, s"published version ${st.ivf}_$c not adoptable after compaction")
    }

    /** What an operation landed, from the files that are new or changed. */
    final case class Landed(bytes: Double, snapBytes: Double, sinkBytes: Double,
                            sinkFiles: Int, inBand: Int, affectedParts: Int)
    def landed(c: Long, before: Map[String, Long], mid: Map[String, Long]): Landed = {
      def since(from: Map[String, Long], to: Map[String, Long]) = to.filter { case (p, n) =>
        !from.get(p).contains(n) && !p.split('/').last.startsWith(".") }
      val fresh = if (mid.isEmpty) since(before, sizes())
        else since(before, mid) ++ since(mid, sizes())
      def under(prefix: String) = fresh.filter(_._1.startsWith(prefix))
      val sink = under(s"$deltaRoot/cycle=$c/").filter(_._1.endsWith(".parquet"))
      Landed(fresh.values.sum.toDouble, under(st.root).values.sum.toDouble,
        sink.values.sum.toDouble, sink.size,
        // in the target band, or the delta's only file (a delta smaller
        // than the target is best landed as one file)
        if (sink.size == 1) 1
        else sink.values.count(b => b >= targetFileBytes / 2 && b <= targetFileBytes * 3 / 2),
        fresh.keys.filter(p => p.contains(s"${st.ivf}_${c}_delta") && p.contains("centroid_id="))
          .map(p => p.substring(0, p.lastIndexOf('/'))).toSet.size)
    }

    var c = 0L
    var broken = false
    val cycleS = mutable.ArrayBuffer.empty[Double]
    val publishS = mutable.ArrayBuffer.empty[Double]
    // traced operations: (op span id, cycle or None for a publish, landed)
    val tracedOps = mutable.ArrayBuffer.empty[(Long, Option[Long], Landed)]
    val changed = mutable.ArrayBuffer.empty[Double]
    def op(name: String, traced: Boolean, before: Map[String, Long])(f: => Unit): Option[Double] = {
      res.attempted += 1
      val first = tr.spans.size
      val (ok, s) = Clock.timed(Main.guarded(res, name)(tr.span(name)(f)))
      Log(f"$name: $s%.3fs${if (ok) "" else " FAILED"}")
      broken = !ok
      val isCycle = name.startsWith("cycle")
      if (ok && traced) tracedOps += ((tr.spans(first).op, if (isCycle) Some(c) else None,
        landed(c, before, if (isCycle) Map.empty else afterUpsert)))
      if (ok) Some(s) else None
    }
    /** One period: `period` cycles, then a publish; returns its wall time. */
    def runPeriod(timed: Boolean, traced: Boolean): Double = {
      tr.active = traced
      var w = 0.0
      for (_ <- 1 to period if !broken) {
        c += 1
        st.churn.step()
        truths(c) = st.churn.truth
        if (traced) changed += st.churn.changedBytes
        op(s"cycle:$c", traced, if (traced) sizes() else Map.empty)(cycle(c)).foreach { s =>
          w += s
          if (timed && !traced) cycleS += s
        }
      }
      if (!broken) {
        val vecs = CdcReplicate.vecDf(spark, st.churn)
        op(s"publish:$c", traced, if (traced) sizes() else Map.empty)(publish(c, vecs)).foreach { s =>
          w += s
          if (timed && !traced) publishS += s
        }
      }
      tr.active = false
      w
    }

    // one untimed period warms the plans, as the entry workloads' setup call
    val warmS = runPeriod(timed = false, traced = false)
    res.info("setup_parts") = Map("session_s" -> ctx.sessionS, "gen_s" -> genS,
      "state_s" -> stateS, "warm_s" -> warmS)
    res.metrics("setup_s") = ctx.setupS(genS, stateS + warmS)

    val periodWall = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val periodCpu = mutable.ArrayBuffer.empty[Double]
    val periodOps = mutable.ArrayBuffer.empty[Seq[Long]]
    var periods = 0
    val t0 = System.nanoTime()
    def done = if (ctx.traced) periods >= Units.tracedRun
      else Clock.seconds(System.nanoTime() - t0) >= ctx.seconds && periods >= 1
    while (!done && !broken) {
      val traced = Units.traced(ctx, periods)
      val first = tracedOps.size
      val cpu0 = Cpu.seconds()
      periodWall += ((traced, runPeriod(timed = true, traced)))
      if (!traced) periodCpu += Cpu.seconds() - cpu0
      if (traced) periodOps += tracedOps.drop(first).map(_._1).toSeq
      Heap.sample()
      periods += 1
    }
    // replication runs beside the cycles; it must catch up before the
    // latencies are read and the replica is checked
    if (!replica.drain()) res.errors += "replication did not catch up in 60 s"
    val plain = periodWall.filterNot(_._1).map(_._2).toSeq
    if (cycleS.nonEmpty && plain.nonEmpty) {
      res.metrics("wall_s") = Stats.median(plain)
      res.metrics("cpu_s") = Stats.median(periodCpu.toSeq)
      res.metrics("op_geomean_s") = Stats.geomean(cycleS.toSeq)
      res.layers("op_p95_s") = Stats.quantile(cycleS.toSeq, 0.95)
    }
    res.layers("heap_peak_mb") = Heap.peakMb
    res.info("cycles") = c
    res.info("cycle_s") = cycleS.toSeq
    res.info("publish_s") = publishS.toSeq
    res.info("orders") = st.churn.orders.size
    res.info("vectors") = st.churn.vecs.size

    if (ctx.traced && tracedOps.nonEmpty) {
      val table = tr.layerTable(ctx.cores)
      Files.write(ctx.traceOut, Json(table))
      val byOp = table.map(r => r("op_id").asInstanceOf[Long] -> r).toMap
      val cyc = tracedOps.filter(_._2.nonEmpty)
      val pub = tracedOps.filter(_._2.isEmpty)
      val cycRows = cyc.flatMap(o => byOp.get(o._1)).toSeq
      val pubRows = pub.flatMap(o => byOp.get(o._1)).toSeq
      def num(r: Map[String, Any], k: String) = r.get(k) match {
        case Some(d: Double) => d
        case _ => 0.0
      }
      def med(rows: Seq[Map[String, Any]], k: String) =
        if (rows.isEmpty) 0.0 else Stats.median(rows.map(num(_, k)))
      val cycLanded = cyc.map(_._3).toSeq
      val repl = cyc.flatMap(o => o._2.flatMap(sentOffset.get).flatMap(replica.latency)).toSeq
      val batches = repl.map(_._1)
      val nParts = st.cents.count().toDouble
      // the generic layers per period (its cycles and its publish)
      res.layers ++= Layers.medianOf(periodOps.map(ids =>
        Layers.unit(ids.flatMap(byOp.get), ctx.cores)).toSeq) ++ Map(
        "snapshot.write_s" -> med(cycRows, "span.snapshot.write"),
        "snapshot.changes_s" -> med(cycRows, "span.snapshot.changes"),
        "snapshot.bytes_written" -> Stats.median(cycLanded.map(_.snapBytes)),
        "sink.write_s" -> med(cycRows, "span.sink.write"),
        "sink.files" -> Stats.median(cycLanded.map(_.sinkFiles.toDouble)),
        "sink.bytes_written" -> Stats.median(cycLanded.map(_.sinkBytes)),
        "sink.files_in_target_frac" ->
          cycLanded.map(_.inBand).sum.toDouble / math.max(1, cycLanded.map(_.sinkFiles).sum),
        "sink.bytes_per_changed_byte" -> tracedOps.map(_._3.bytes).sum / changed.sum,
        "publish.parts_compute_s" -> med(pubRows, "phase.parts_compute"),
        "publish.delta_write_s" -> med(pubRows, "phase.publish_swap_delta_write"),
        "publish.resolve_parts_s" -> med(pubRows, "phase.publish_swap_resolve_parts"),
        "publish.stage_ddl_s" -> med(pubRows, "phase.publish_swap_stage_ddl"),
        "publish.commit_s" -> med(pubRows, "phase.publish_swap_commit"),
        "publish.gc_superseded_s" -> med(pubRows, "phase.publish_swap_gc_superseded"),
        "publish.affected_parts_frac" -> Stats.median(pub.map(_._3.affectedParts / nParts).toSeq),
        "publish.compact_s" -> med(pubRows, "span.publish.compact"),
        "publish.adopt_s" -> med(pubRows, "span.publish.adopt"),
        "stream.send_s" -> med(cycRows, "span.stream.send"),
        "stream.event_latency_ms_p50" -> Stats.median(repl.map(_._2)),
        "stream.batch_ms_p50" -> Stats.median(batches.map(_.triggerMs)),
        "stream.add_batch_ms_p50" -> Stats.median(batches.map(_.addBatchMs)),
        "stream.rows_per_batch" -> Stats.median(batches.map(_.rows.toDouble)),
        "stream.jobs_per_batch" -> tr.perBatch(batches.map(_.batch).toSet)("driver.jobs"),
        "stream.state_rows" -> batches.map(_.stateRows.toDouble).max,
        "stream.state_mem_bytes" -> batches.map(_.stateMem.toDouble).max)
      res.layers("trace.overhead_s") = Units.overhead(periodWall.toSeq)
      Layers.checkSplit(res, (cycRows ++ pubRows).map(r =>
        Layers.unit(Seq(r), ctx.cores)("trace.split_err_frac")))
    }

    // checks: every delta against the generator's ground truth, the last
    // published version against a full rebuild at the frozen centroids
    truths.toSeq.sortBy(_._1).foreach { case (cyc, truth) =>
      Main.guarded(res, s"check cycle $cyc") {
        val got = spark.read.parquet(s"$deltaRoot/cycle=$cyc").select("o_orderkey", "op")
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        res.checks += Map("name" -> s"delta cycle=$cyc", "kind" -> "verdict", "ok" -> (got == truth),
          "detail" -> (s"${got.size} change rows vs ${truth.size} in the ground truth; " +
            s"${(got.toSet diff truth.toSet).size} unexpected, ${(truth.toSet diff got.toSet).size} missing"))
      }
    }
    Main.guarded(res, "check published IVF version") {
      val published = spark.table(s"${st.ivf}_$version").select("vec_id", "centroid_id")
      val rebuilt = Ann.ivfAssign(st.prevVecs, st.cents, "vec_id", "embedding",
        "vec_id", "embedding").select("vec_id", "centroid_id")
      val a = published.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val b = rebuilt.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      res.checks += Map("name" -> s"published ${st.ivf}_$version == ivfAssign rebuild",
        "kind" -> "verdict", "ok" -> (a == b),
        "detail" -> s"${a.size} published rows vs ${b.size} rebuilt; ${(a diff b).size} differ")
    }
  }
}
