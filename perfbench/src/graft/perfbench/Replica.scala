package graft.perfbench

import java.sql.Timestamp
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.streaming.{EventPipelines, ReplicationPipeline}
import graft.streaming.EventPipelines.Event

/** The continuous replication loop of the CDC workload:
  * `ReplicationPipeline.start` over a `MemoryStream` that receives each
  * cycle's landed change rows as events (key = order key, value = price,
  * stamped with the send time). The stream runs beside the cycles; an
  * event's latency ends when the micro-batch holding it has committed its
  * parquet delta (batch start + trigger duration, from
  * `StreamingQueryProgress`).
  */
final class Replica(ctx: Ctx) {
  import Replica.Progress
  private val spark = ctx.spark
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  val progress = new ConcurrentLinkedQueue[Progress]()
  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala
        val trig = d.get("triggerExecution").map(_.toDouble).getOrElse(0.0)
        val st = p.stateOperators.headOption
        progress.add(Progress(p.batchId, p.sources.head.endOffset.trim.toLong,
          Instant.parse(p.timestamp).toEpochMilli + trig, trig,
          d.get("addBatch").map(_.toDouble).getOrElse(0.0), p.numInputRows,
          st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L)))
      }
    }
  }
  spark.streams.addListener(listener)

  private val mem = MemoryStream[Event]
  private val outDir = s"${ctx.work}/replica"
  private val query: StreamingQuery = ReplicationPipeline.start(mem.toDS(), outDir,
    s"${ctx.work}/replica-ckpt", targetFileBytes = 256L << 10)
  val sent = mutable.ArrayBuffer.empty[Event]
  private var nextId = 0L

  private def committed: Long = progress.asScala.map(_.endOffset).maxOption.getOrElse(-1L)

  private val sentMs = mutable.Map.empty[Long, Long]

  /** Enqueues one event per (key, value); returns the stream offset. */
  def send(rows: Seq[(Long, Double)]): Long = {
    val now = System.currentTimeMillis()
    val evs = rows.map { case (k, v) => nextId += 1; Event(nextId, new Timestamp(now), k, "orders", v) }
    val off = mem.addData(evs).toString.trim.toLong
    sent ++= evs
    sentMs(off) = now
    off
  }

  /** Waits until everything sent has committed; false after 60 s. */
  def drain(): Boolean = {
    val last = sentMs.keys.maxOption.getOrElse(-1L)
    val t0 = System.nanoTime()
    while (committed < last && Clock.seconds(System.nanoTime() - t0) < 60) Thread.sleep(5)
    committed >= last
  }

  /** The micro-batch that committed `offset`, and send → commit (ms). */
  def latency(offset: Long): Option[(Progress, Double)] =
    progress.asScala.filter(_.endOffset >= offset).toSeq.sortBy(_.batch).headOption
      .map(b => (b, b.commitMs - sentMs(offset)))

  def stop(): Unit = {
    query.stop()
    spark.streams.removeListener(listener)
  }

  /** The landed deltas, latest batch per key, against
    * `EventPipelines.latestPerKeyBatch` over every event sent.
    */
  def check(res: Result): Unit = Main.guarded(res, "check replica") {
    val landed = spark.read.parquet(s"$outDir/batch_*")
      .withColumn("batch", regexp_extract(input_file_name(), "batch_(\\d+)", 1).cast("long"))
    val latest = landed.withColumn("top", max("batch").over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id", "event_type")))
      .filter(col("batch") === col("top"))
      .select("user_id", "event_type", "event_id", "value")
    val expected = EventPipelines.latestPerKeyBatch(sent.toSeq.toDF())
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val (a, b) = (rows(latest), rows(expected))
    res.checks += Map("name" -> "replica latest-per-key == latestPerKeyBatch(all events)",
      "kind" -> "verdict", "ok" -> (a == b),
      "detail" -> s"${a.size} landed keys vs ${b.size} expected; ${(a diff b).size} differ")
  }
}

object Replica {
  /** One committed micro-batch, from its `StreamingQueryProgress`. */
  final case class Progress(batch: Long, endOffset: Long, commitMs: Double,
                            triggerMs: Double, addBatchMs: Double, rows: Long,
                            stateRows: Long, stateMem: Long)
}
