package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.streaming.EventPipelines._

/** Stream/batch equivalence: each streaming pipeline fed through a
  * MemoryStream must produce exactly what the batch plan computes on the
  * same rows.
  */
class EventPipelinesSpec extends AnyFunSuite with SparkSpec {

  private def ev(id: Long, sec: Long, uid: Long, tpe: String, v: Double): Event =
    Event(id, new Timestamp(sec * 1000L), uid, tpe, v)

  private val sample: Seq[Event] = Seq(
    ev(1, 10, 1, "click", 1.0),
    ev(2, 20, 1, "click", 2.0),
    ev(3, 15, 1, "view", 3.0),
    ev(4, 3600 + 10, 1, "click", 4.0),   // second hour window
    ev(5, 7200 + 5, 2, "click", 5.0),
    ev(6, 7200 + 5, 2, "click", 6.0),    // same ts tie -> higher id wins
    ev(7, 7200 + 2000, 2, "view", 7.0)   // >30min after id 5/6: new session
  )

  test("windowAggStream equals batch on the same data (complete mode)") {
    val spark0 = spark
    import spark0.implicits._
    val in = MemoryStream[Event](spark0)
    in.addData(sample)
    val q = windowAggStream(in.toDF())
      .writeStream.format("memory").queryName("wagg")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("wagg").collect().map(_.toSeq).toSet
    val batch = windowAggCore(sample.toDF()).collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("hoppingAggStream equals batch; every event lands in exactly 4 hops") {
    val spark0 = spark
    import spark0.implicits._
    val in = MemoryStream[Event](spark0)
    in.addData(sample)
    val q = hoppingAggStream(in.toDF())
      .writeStream.format("memory").queryName("hopagg")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("hopagg").collect().map(_.toSeq).toSet
    val batch = hoppingAggCore(sample.toDF()).collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.nonEmpty)
    // 1h window / 15min slide: total (window, event) memberships = 4n
    val total = hoppingAggCore(sample.toDF())
      .agg(org.apache.spark.sql.functions.sum("n_events")).collect().head.getLong(0)
    assert(total == 4L * sample.size)
    // an event at second 10 sits in hops starting -2700..0
    val w = hoppingAggCore(sample.toDF()).filter(col("event_type") === "click")
      .select("window_start").collect().map(_.getLong(0)).toSet
    assert(Set(-2700L, -1800L, -900L, 0L).subsetOf(w))
  }

  test("cmsWindowStream sketches equal the batch sketches bit-for-bit") {
    val spark0 = spark
    import spark0.implicits._
    val in = MemoryStream[Event](spark0)
    val q = cmsWindowStream(in.toDF(), depth = 4, width = 64)
      .writeStream.format("memory").queryName("cmsw")
      .outputMode(OutputMode.Complete).start()
    try {
      in.addData(sample.take(3)); q.processAllAvailable()
      in.addData(sample.drop(3)); q.processAllAvailable() // cross-batch merge
    } finally q.stop()
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getSeq[Long](1).toSeq, r.getLong(2))).toSet
    val streamed = canon(spark.table("cmsw").collect())
    val batch = canon(cmsWindowCore(sample.toDF(), depth = 4, width = 64).collect())
    assert(streamed == batch && batch.nonEmpty)
    // the sketch really counts: window 0 holds 3 events across 2 keys
    val w0 = batch.find(_._1 == 0L).get
    assert(w0._3 == 3L && w0._2.sum == 3L * 4) // each event increments depth cells
  }

  test("latestPerKeyStream upserts to the batch answer across micro-batches") {
    val spark0 = spark
    import spark0.implicits._
    val in = MemoryStream[Event](spark0)
    val q = latestPerKeyStream(in.toDS())
      .writeStream.format("memory").queryName("latest")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(sample.take(4)); q.processAllAvailable()
      in.addData(sample.drop(4)); q.processAllAvailable()
    } finally q.stop()
    // memory sink in update mode appends every upsert; last write per key
    // is the live state.
    val rows = spark.table("latest").collect()
      .map(r => ((r.getLong(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
    val finalState = rows.zipWithIndex.groupBy(_._1._1)
      .map { case (k, vs) => (k, vs.maxBy(_._2)._1._2) }.toSet
    val batch = latestPerKeyBatch(sample.toDF()).collect()
      .map(r => ((r.getLong(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toSet
    assert(finalState == batch && batch.nonEmpty)
    // tie on ts resolved toward larger event_id
    assert(batch.contains(((2L, "click"), (6L, 6.0))))
  }

  test("attributionStream (stream-stream interval join) equals the batch join") {
    val spark0 = spark
    import spark0.implicits._
    val clicks = Seq(ev(1, 1000, 1, "click", 1.0), ev(2, 5000, 1, "click", 1.0),
      ev(3, 1500, 2, "click", 1.0))
    val views = Seq(ev(10, 400, 1, "view", 0.0), ev(11, 900, 1, "view", 0.0),
      ev(12, 4000, 1, "view", 0.0), ev(13, 90, 2, "view", 0.0))
    val inC = MemoryStream[Event](spark0)
    val inV = MemoryStream[Event](spark0)
    val q = attributionStream(inC.toDF(), inV.toDF(), windowMinutes = 30)
      .writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append).start()
    try {
      inC.addData(clicks); inV.addData(views); q.processAllAvailable()
      // advance both watermarks far enough to flush all joined results
      inC.addData(ev(98, 1000000, 99, "click", 0.0))
      inV.addData(ev(99, 1000000, 99, "view", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("attr").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._2 != 99).toSet
    val batch = attributionBatch(clicks.toDF(), views.toDF(), 30).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch && batch.nonEmpty)
    // click 1 (t=1000s) sees views at 400 and 900 but not 4000
    assert(batch.filter(_._1 == 1L).map(_._3) == Set(10L, 11L))
  }

  test("enrichStream (stream-static broadcast join) equals the batch join") {
    val spark0 = spark
    import spark0.implicits._
    val in = MemoryStream[Event](spark)
    // user 2 is MISSING from the dim: the late-dim race — those events
    // must pass through un-enriched (null tier), never be dropped
    val dim = Seq((1L, "gold")).toDF("user_id", "tier")
    val q = EventPipelines.enrichStream(in.toDF(), dim, "user_id")
      .select(col("event_id"), col("tier"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      in.addData(sample: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("enriched").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    val batch = EventPipelines.enrichStream(sample.toDF(), dim, "user_id")
      .select(col("event_id"), col("tier")).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(streamed == batch && batch.nonEmpty)
    assert(streamed.map(_._1) == sample.map(_.event_id).toSet) // nothing dropped
    assert(streamed.exists(_._2.isEmpty)) // user-2 events survive un-enriched
  }

  test("ReplicationPipeline lands upsert deltas as parquet per micro-batch") {
    import java.nio.file.Files
    val spark0 = spark
    import spark0.implicits._
    val out = Files.createTempDirectory("graft-repl").toString
    val ckpt = Files.createTempDirectory("graft-repl-ckpt").toString
    val in = MemoryStream[Event](spark0)
    val q = ReplicationPipeline.start(in.toDS(), out, ckpt, targetFileBytes = 1 << 20)
    try {
      in.addData(sample.take(4)); q.processAllAvailable()
      in.addData(sample.drop(4)); q.processAllAvailable()
    } finally q.stop()
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.length == 2, dirs.toSeq)
    // each batch is far below targetFileBytes: one file per batch
    for (d <- dirs) {
      val files = new java.io.File(s"$out/$d").listFiles().map(_.getName)
        .filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"$d: ${files.toSeq}")
    }
    // replaying all deltas in epoch order and keeping the last write per
    // key reconstructs the batch answer — replication-log semantics
    val replayed = dirs.zipWithIndex.flatMap { case (d, i) =>
      spark.read.parquet(s"$out/$d").collect()
        .map(r => ((r.getLong(0), r.getString(1)), (i, r.getLong(2), r.getDouble(3))))
    }.groupBy(_._1).map { case (k, vs) =>
      val last = vs.maxBy(_._2._1)._2; (k, (last._2, last._3))
    }.toSet
    val batch = latestPerKeyBatch(sample.toDF()).collect()
      .map(r => ((r.getLong(0), r.getString(1)), (r.getLong(2), r.getDouble(3)))).toSet
    assert(replayed == batch && batch.nonEmpty)
  }

  test("dropDuplicatesWithinWatermark dedupes replayed events in a stream") {
    val spark0 = spark
    import spark0.implicits._
    val in = MemoryStream[Event](spark0)
    val q = in.toDF().withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("dedup_wm")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(sample); q.processAllAvailable()
      in.addData(sample.take(3)) // at-least-once replay of early events
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_wm").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == sample.map(_.event_id).sorted) // replay suppressed
  }

  test("sessionizeBatch agrees with Spark's built-in session_window") {
    import org.apache.spark.sql.functions._
    val events = graft.Tables.events(spark, sfDir)
    val custom = EventPipelines.sessionizeBatch(events, gapMinutes = 30)
      .select(col("user_id"), col("session_start_s"), col("session_end_s"),
        col("n_events"))
      .collect().map(_.toSeq).toSet
    // session_window merges when diff < gap; sessionizeBatch merges when
    // diff <= gap, so hand the built-in a gap one microsecond longer.
    val builtin = events
      .groupBy(col("user_id"),
        session_window(col("ts"), "1800000001 microseconds").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        (unix_micros(min(col("ts"))) / 1000000L).cast("long").as("session_start_s"),
        (unix_micros(max(col("ts"))) / 1000000L).cast("long").as("session_end_s"))
      .select(col("user_id"), col("session_start_s"), col("session_end_s"),
        col("n_events"))
      .collect().map(_.toSeq).toSet
    assert(custom == builtin && custom.nonEmpty)
  }

  test("windowAggStream over a parquet FILE stream equals the batch result") {
    import java.nio.file.{Files, Paths}
    val sfDir = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-stream")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val raw = spark.readStream.schema(schema).parquet(dir.toString)
    val stream = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw.withColumn("ts",
        org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType => raw.withColumn("ts",
        org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
    val q = windowAggStream(stream)
      .writeStream.format("memory").queryName("fwagg")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("fwagg").collect().map(_.toSeq).toSet
    val batch = windowAggCore(graft.Tables.events(spark, sfDir))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("sessionizeStream emits the batch sessions once the watermark passes") {
    val spark0 = spark
    import spark0.implicits._
    val in = MemoryStream[Event](spark0)
    val q = sessionizeStream(in.toDS())
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(sample)
      q.processAllAvailable()
      // sentinel far in the future advances the watermark so event-time
      // timeouts flush every open session
      in.addData(ev(99, 1000000, 999, "x", 0.0))
      q.processAllAvailable()
      in.addData(ev(100, 2000000, 999, "x", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sess").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter(_._1 != 999).toSet
    val batch = sessionizeBatch(sample.toDF()).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(2))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }
}
