package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Percentiles.exactPercentiles must be BIT-identical to Spark's
  * `percentile` aggregate (the value-buffering form it replaces) on every
  * distribution shape: ties, heavy duplication (flat slices answered
  * without a scan), single-row groups, the p=0/p=1 boundaries, signed
  * zeros, NaN and infinities, and exponential spreads that a
  * value-uniform split would refine one binade at a time — and must stay
  * exact on a group large enough that the buffering aggregate is the
  * thing being avoided. Results compare under `Double.compare`, so −0.0
  * and 0.0 differ and NaN equals NaN. A small grouped call is pinned to
  * its job count: pass 1 and one collecting scan.
  */
class PercentilesSpec extends SparkSpec {

  private def reference(df: DataFrame, valueExpr: String,
                        groupCol: String, ps: Seq[Double]) = {
    val aggs = ps.zipWithIndex.map { case (p, i) =>
      expr(s"percentile($valueExpr, $p)").as(s"q$i")
    }
    df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => r.get(0) -> ps.indices.map(i => r.getDouble(i + 1)))
      .toMap
  }

  /** exactPercentiles of `v` grouped by `g` equals `percentile`. */
  private def assertMatchesReference(df: DataFrame, ps: Seq[Double],
                                     buckets: Int = 1024): Unit = {
    val want = reference(df, "v", "g", ps)
    val names = ps.indices.map(i => s"q$i")
    val got = Percentiles.exactPercentiles(df, col("v"), Seq("g"),
        ps.zip(names), buckets = buckets)
      .collect()
      .map(r => r.get(0) -> names.indices.map(i => r.getDouble(i + 1)))
      .toMap
    assert(got.keySet === want.keySet)
    for (g <- want.keySet; i <- ps.indices)
      assert(java.lang.Double.compare(got(g)(i), want(g)(i)) == 0,
        s"group $g p=${ps(i)} buckets=$buckets: got ${got(g)(i)} want ${want(g)(i)}")
  }

  test("matches Spark percentile bit-exactly across distribution shapes") {
    val spark0 = spark
    import spark0.implicits._
    val rng = new scala.util.Random(7)
    val rows = Seq.newBuilder[(String, Double)]
    // group a: continuous values with duplicates
    (0 until 5000).foreach { _ =>
      rows += (("a", math.floor(rng.nextDouble() * 1000) / 4.0))
    }
    // group b: ONE distinct value (every bucket degenerate)
    (0 until 777).foreach(_ => rows += (("b", 42.125)))
    // group c: two spike values (rank straddles the spike boundary)
    (0 until 300).foreach(i => rows += (("c", if (i < 299) 1.0 else 2.0)))
    // group d: a single row
    rows += (("d", -3.5))
    // group e: negative + positive range with exact-tie interpolation
    (0 until 101).foreach(i => rows += (("e", i - 50.0)))
    val df = rows.result().toDF("g", "v")
    assertMatchesReference(df,
      Seq(0.0, 0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0), buckets = 16)
  }

  test("signed zeros, NaN and infinities rank in Double.compare order") {
    val spark0 = spark
    import spark0.implicits._
    val inf = Double.PositiveInfinity
    val df = (Seq(-0.0, 0.0).map("zeros" -> _) ++
      Seq(1.0, 2.0, 3.0, Double.NaN).map("nan" -> _) ++
      Seq(-inf, 1.0, inf).map("inf" -> _)).toDF("g", "v")
    assertMatchesReference(df, Seq(0.0, 0.25, 0.5, 0.75, 1.0))
  }

  test("exponential spreads refine within the histogram bound") {
    // 3 groups over ~900 binades: a value-uniform split needs a histogram
    // per few binades, the bit-split key a bounded number at any bucket
    // count (it throws past the bound).
    val df = spark.range(200000L).select(
      (col("id") % 3).as("g"),
      (pow(lit(2.0), -(col("id") % 900)) * (lit(1.0) + rand(11))).as("v"))
    for (buckets <- Seq(2, 16))
      assertMatchesReference(df, Seq(0.0, 0.01, 0.5, 0.9, 0.999, 1.0), buckets)
  }

  test("a small grouped call launches at most 4 jobs") {
    val spark0 = spark
    import spark0.implicits._
    val rng = new scala.util.Random(3)
    val df = Seq.tabulate(1000)(i => (i % 5, rng.nextDouble())).toDF("g", "v")
    val jobs = jobsLaunchedBy(Percentiles.exactPercentiles(df, col("v"), Seq("g"),
      Seq(0.25 -> "p25", 0.5 -> "p50", 0.9 -> "p90")))
    assert(jobs <= 4, s"$jobs jobs")
  }

  test("global percentiles (no group) and empty input") {
    val spark0 = spark
    import spark0.implicits._
    val df = (1 to 1000).map(i => i.toDouble).toDF("v")
    val got = Percentiles.exactPercentiles(df, col("v"), Nil,
      Seq(0.5 -> "p50", 0.9 -> "p90")).collect()
    val want = df.agg(expr("percentile(v, 0.5)"), expr("percentile(v, 0.9)"))
      .collect().head
    assert(got.length === 1)
    assert(got.head.getDouble(0) === want.getDouble(0))
    assert(got.head.getDouble(1) === want.getDouble(1))
    // empty input still yields ONE row of nulls, as agg(percentile) would
    val empty = Percentiles.exactPercentiles(
      df.filter(col("v") < 0), col("v"), Nil, Seq(0.5 -> "p50")).collect()
    assert(empty.length === 1 && empty.head.isNullAt(0))
  }

  test("null group keys are dropped, not crashed on") {
    val spark0 = spark
    import spark0.implicits._
    // Pre-fix this threw NoSuchElementException: pass 1 counted the
    // null-key group but the bucketing equi-join dropped its rows.
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      (null.asInstanceOf[String], 9.0), (null.asInstanceOf[String], 11.0),
      ("b", 5.0)).toDF("g", "v")
    val got = Percentiles.exactPercentiles(df, col("v"), Seq("g"),
      Seq(0.5 -> "p50")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === Map("a" -> 2.0, "b" -> 5.0))
  }

  test("fails fast past the maxGroups driver-collect bound") {
    val df = spark.range(5000L).select(
      col("id").as("g"), col("id").cast("double").as("v"))
    val e = intercept[IllegalArgumentException] {
      Percentiles.exactPercentiles(df, col("v"), Seq("g"),
        Seq(0.5 -> "p50"), maxGroups = 1000)
    }
    assert(e.getMessage.contains("distinct groups"))
    // at the bound it still runs
    val ok = Percentiles.exactPercentiles(
      df.filter(col("g") < 1000), col("v"), Seq("g"),
      Seq(0.5 -> "p50"), maxGroups = 1000)
    assert(ok.count() === 1000L)
  }

  test("stays exact on a million-row group (the buffering-killer case)") {
    val spark0 = spark
    import spark0.implicits._
    // 2 groups × ~1.2M rows; values heavily duplicated AND skewed: 90%
    // of rows share 1000 distinct values, the tail is continuous — the
    // shape that concentrates ranks into few buckets.
    val df = spark.range(2400000L).select(
      (col("id") % 2).cast("string").as("g"),
      when(col("id") % 10 =!= 0, (pmod(col("id"), lit(1000))).cast("double"))
        .otherwise(col("id").cast("double") / 7.0).as("v"))
    assertMatchesReference(df, Seq(0.25, 0.5, 0.95, 0.999))
  }
}
