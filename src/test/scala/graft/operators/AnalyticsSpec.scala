package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

class AnalyticsSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("pivotCounts emits one row per key with explicit-value cells and a total") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      (1L, "a"), (1L, "a"), (1L, "b"),
      (2L, "b"), (2L, "zzz") // zzz not in the value list -> counts only in total
    ).toDF("k", "t")
    val out = Analytics.pivotCounts(df, "k", "t", Seq("a", "b"))
      .orderBy("k").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((1L, 2L, 1L, 3L), (2L, 0L, 1L, 2L)))
    assert(out.head.schema.fieldNames.toSeq == Seq("k", "n_a", "n_b", "n_total"))
  }

  test("runningTotals orders within the partition and accumulates exactly") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      (10L, ts("2024-01-01 00:00:00"), 1L, 1.5),
      (10L, ts("2024-01-01 00:00:00"), 2L, 2.25), // ts tie -> event_id breaks it
      (10L, ts("2024-01-02 00:00:00"), 3L, -1.0),
      (20L, ts("2024-01-01 00:00:00"), 4L, 7.0)
    ).toDF("user_id", "ts", "event_id", "value")
    val out = Analytics.runningTotals(df, "user_id",
        Seq(col("ts"), col("event_id")), "value")
      .select("user_id", "event_id", "running_n", "running_sum")
      .orderBy("user_id", "running_n").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq ==
      Seq((10L, 1L, 1, 1.5), (10L, 2L, 2, 3.75), (10L, 3L, 3, 2.75),
        (20L, 4L, 1, 7.0)))
  }

  test("rankBuckets assigns equi-depth buckets without a global window") {
    val spark0 = spark
    import spark0.implicits._
    // n = 7, k = 3: ranks 1-7 -> buckets (r-1)*3 div 7 + 1 = 1,1,1,2,2,3,3
    val df = Seq(30L, 10L, 70L, 50L, 20L, 60L, 40L).toDF("v")
    val out = Analytics.rankBuckets(df, col("v"), k = 3)
      .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((10L, 1L), (20L, 1L), (30L, 1L), (40L, 2L),
      (50L, 2L), (60L, 3L), (70L, 3L)))
  }

  test("topKRanked ranks like row_number and a small call launches at most 3 jobs") {
    val spark0 = spark
    import spark0.implicits._
    // counts tie in runs of 7, so the token tie-break decides most ranks
    val df = Seq.tabulate(1000)(i => (s"t${i % 331}", (i % 143).toLong))
      .toDF("tok", "cf").repartition(4)
    var got = Array.empty[(String, Long, Long)]
    val jobs = jobsLaunchedBy {
      got = Analytics.topKRanked(df, "cf", "tok", 50).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    }
    val want = df.withColumn("rank", row_number().over(
        Window.orderBy(col("cf").desc, col("tok"))).cast("long"))
      .filter(col("rank") <= 50).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet == want.toSet && got.length == 50)
    assert(jobs <= 3, s"$jobs jobs")
  }

  test("rollingStats counts/sums exactly the trailing range frame") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      ("a", ts("2024-01-01 00:00:00"), 1.0),
      ("a", ts("2024-01-01 00:30:00"), 2.0),
      ("a", ts("2024-01-01 01:00:00"), 4.0), // exactly 1h after row 1: in frame
      ("a", ts("2024-01-01 02:30:00"), 8.0), // everything else expired
      ("b", ts("2024-01-01 00:45:00"), 16.0)
    ).toDF("event_type", "ts", "value")
    val out = Analytics.rollingStats(df, "event_type", "ts", "value", 3600L)
      .select("event_type", "ts", "rolling_n", "rolling_sum")
      .orderBy("event_type", "ts").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3))).toSeq
    assert(out == Seq(
      ("a", 1L, 1.0), ("a", 2L, 3.0), ("a", 3L, 7.0), ("a", 1L, 8.0),
      ("b", 1L, 16.0)))
  }

  test("funnel counts ordered conversions only") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      // u1 converts fully in order
      (1L, "a", ts("2024-01-01 00:00:00")),
      (1L, "b", ts("2024-01-02 00:00:00")),
      (1L, "c", ts("2024-01-03 00:00:00")),
      // u2: b happens BEFORE a -> must not count for step b
      (2L, "b", ts("2024-01-01 00:00:00")),
      (2L, "a", ts("2024-01-02 00:00:00")),
      // u3: a and b, c missing
      (3L, "a", ts("2024-01-01 00:00:00")),
      (3L, "b", ts("2024-01-01 00:00:00")), // same instant counts (>=)
      // u4: never enters the funnel
      (4L, "c", ts("2024-01-01 00:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val out = Analytics.funnel(df, "user_id", "event_type", "ts",
        Seq("a", "b", "c"))
      .orderBy("step_idx").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, "a", 3L), (1L, "b", 2L), (2L, "c", 1L)))
  }

  test("retentionCohorts counts each user once per active week against its first week") {
    val spark0 = spark
    import spark0.implicits._
    // 2024-01-01 is a Monday. u1 active weeks 0 and 2 (twice — must count
    // once); u2 joins in week 2 (its own offset-0), also active week 3.
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-15 09:00:00")),
      (1L, ts("2024-01-16 09:00:00")),
      (2L, ts("2024-01-17 09:00:00")),
      (2L, ts("2024-01-22 09:00:00"))
    ).toDF("user_id", "ts")
    val out = Analytics.retentionCohorts(df, "user_id", "ts")
      .orderBy("cohort_week", "week_offset").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val w0 = ts("2024-01-01 00:00:00").getTime / 1000
    val w2 = w0 + 2 * 604800L
    assert(out == Seq((w0, 0L, 1L), (w0, 2L, 1L), (w2, 0L, 1L), (w2, 1L, 1L)))
  }

  test("retentionCohorts week offsets survive a DST transition") {
    // America/New_York springs forward 2024-03-10: the local week starting
    // Mon 2024-03-04 spans 604800-3600 s, so a fixed-divisor epoch diff
    // would floor the offset to 0; datediff-on-truncated-dates div 7 must
    // still yield offset 1 for the following week.
    val spark0 = spark
    import spark0.implicits._
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val df = Seq(
        (1L, ts("2024-03-04 12:00:00")),  // Monday, cohort week
        (1L, ts("2024-03-12 12:00:00"))   // Tuesday of the NEXT local week
      ).toDF("user_id", "ts")
      val out = Analytics.retentionCohorts(df, "user_id", "ts")
        .orderBy("week_offset").collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSeq
      assert(out == Seq((0L, 1L), (1L, 1L)),
        s"expected offsets 0 and 1 across the DST week, got $out")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("weeklyChurn: active/churned/new accounting per calendar week") {
    val spark0 = spark
    import spark0.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 12:00:00")
    // weeks: W1=2024-01-01(Mon), W2=01-08, W3=01-15
    val df = Seq(
      (1L, ts("2024-01-02")), (1L, ts("2024-01-09")), (1L, ts("2024-01-16")), // stays
      (2L, ts("2024-01-03")),                                                 // churns after W1
      (3L, ts("2024-01-10")),                                                 // new in W2, churns
      (1L, ts("2024-01-04"))                                                  // dup week row
    ).toDF("user_id", "ts")
    val got = Analytics.weeklyChurn(df, "user_id", "ts")
      .collect().map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // W1: active {1,2}, churned {2}, new {1,2}
    assert(got("2024-01-01") == ((2L, 1L, 2L)))
    // W2: active {1,3}, churned {3}, new {3}
    assert(got("2024-01-08") == ((2L, 1L, 1L)))
    // W3: active {1}; right-censored churn counts user 1; new none
    assert(got("2024-01-15") == ((1L, 1L, 0L)))
  }

  test("eventTransitions: per-user lag, id tie-break, exact mean dwell") {
    val spark0 = spark
    import spark0.implicits._
    def ts(ep: Long) = new java.sql.Timestamp(ep * 1000L)
    val df = Seq(
      // user 1: a →(10s) b →(20s) a
      (1L, 1L, "a", ts(100L)), (2L, 1L, "b", ts(110L)), (3L, 1L, "a", ts(130L)),
      // user 2: a →(30s) b; same-ts pair ordered by event_id
      (4L, 2L, "a", ts(200L)), (5L, 2L, "b", ts(230L)),
      (6L, 3L, "x", ts(300L)), (7L, 3L, "y", ts(300L)) // 0-gap transition
    ).toDF("event_id", "user_id", "event_type", "ts")
    val got = Analytics.eventTransitions(df, "user_id", "event_type",
        "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got(("a", "b")) == ((2L, 20.0))) // gaps 10s + 30s → mean 20
    assert(got(("b", "a")) == ((1L, 20.0)))
    assert(got(("x", "y")) == ((1L, 0.0))) // tie broken by id, gap 0
    assert(got.size == 3)
  }

  test("timeDecayAgg halves a contribution per half-life") {
    val spark0 = spark
    import spark0.implicits._
    val anchor = 1000000L
    val df = Seq(
      (1L, anchor, 8.0),            // age 0 → weight 1
      (1L, anchor - 100L, 8.0),     // one half-life → 4
      (1L, anchor - 200L, 8.0),     // two → 2
      (2L, anchor - 300L, 16.0)     // three → 2
    ).map { case (u, ep, v) => (u, new java.sql.Timestamp(ep * 1000L), v) }
      .toDF("user_id", "ts", "value")
    val got = Analytics.timeDecayAgg(df, "user_id", "ts", "value",
        anchorEpoch = anchor, halfLifeSeconds = 100L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got(1L) == ((3L, 14.0)))
    assert(got(2L) == ((1L, 2.0)))
  }

  test("funnelConversionTime: first-view to first-later-purchase latency") {
    val spark0 = spark
    import spark0.implicits._
    def ev(u: Long, t: String, sec: Long) =
      (u, t, new java.sql.Timestamp(sec * 1000L))
    val events = Seq(
      ev(1L, "view", 100L), ev(1L, "purchase", 160L),  // 60 s
      ev(1L, "purchase", 300L),                         // later, ignored
      ev(2L, "view", 200L), ev(2L, "purchase", 150L),   // purchase BEFORE
      ev(2L, "purchase", 220L),                         // → 20 s counts
      ev(3L, "view", 50L),                              // never converts
      ev(4L, "purchase", 10L)                           // never viewed
    ).toDF("user_id", "event_type", "ts")
    val r = Analytics.funnelConversionTime(events, "user_id", "event_type",
      "ts", "view", "purchase").collect().head
    assert(r.getLong(0) === 3L)          // viewers 1,2,3
    assert(r.getLong(1) === 2L)          // converted 1,2
    assert(r.getLong(2) === 666666L)     // 2e6 div 3
    assert(r.getDouble(3) === 40.0)      // median of 60,20
    assert(r.getDouble(4) === 56.0)      // p90 interpolates toward 60
  }

  test("dailyCountAnomalies flags a spike day against that type's own days") {
    val spark0 = spark
    import spark0.implicits._
    // type A: 17 quiet days of 10 events + one day of 200 → spike (a
    // single outlier among n days caps at z = √(n−1), so n must exceed
    // 10 for a 3σ flag to be reachable at all);
    // type B: constant days → sd 0, nothing flagged
    val rows =
      (0 until 17).flatMap(d => Seq.fill(10)(("A", d))) ++
        Seq.fill(200)(("A", 17)) ++
        (0 until 5).flatMap(d => Seq.fill(7)(("B", d)))
    val events = rows.map { case (t, d) =>
      (t, new java.sql.Timestamp(1704067200000L + d * 86400000L))
    }.toDF("event_type", "ts")
    val got = Analytics.dailyCountAnomalies(events, "event_type", "ts", 3.0)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getBoolean(5)))
    val spikes = got.filter(_._3)
    assert(spikes.toSeq === Seq(("A", 200L, true)))
    assert(got.count(_._1 == "B") === 5 && got.filter(_._1 == "B").forall(!_._3))
  }
}
