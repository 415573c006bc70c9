package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftOrderedKey
import org.apache.spark.sql.types._

/** Profiling/observability aggregates from the reference: the column-stats
  * sampler (glue/sbin/keyspaces/CQLReplicator.scala:1683-1756) and the
  * per-tile replication stats (:1161-1215).
  *
  * The reference emits stats as wide one-row JSON; we emit long format
  * (one row per column) — same information, joinable, and a single
  * wide-aggregate pass over the data either way.
  */
object Stats {

  /** Per-column min/avg/max in one aggregation pass. Numeric columns
    * profile the value, string columns the length (reference :1724-1737).
    * avg is computed as an exact decimal sum divided as double, so the
    * result is independent of partitioning/merge order.
    */
  def columnStats(df: DataFrame): DataFrame = {
    val (profiled, wide) = profiledWide(df)
    val stacked = profiled.map { case (name, _) =>
      struct(lit(name).as("col_name"),
        col(s"${name}__min").as("min_v"),
        col(s"${name}__avg").as("avg_v"),
        col(s"${name}__max").as("max_v"))
    }
    wide.select(explode(array(stacked: _*)).as("s")).select("s.*")
  }

  /** Row-width estimate: sums of the per-column min/avg/max over all
    * profiled columns (reference addTotalColumns, :1690-1717). Additions
    * run in schema order so the doubles are engine-reproducible.
    */
  def columnStatsTotals(df: DataFrame): DataFrame = {
    val (profiled, wide) = profiledWide(df)
    def total(suffix: String) = profiled
      .map { case (name, _) =>
        coalesce(col(s"${name}__$suffix").cast("double"), lit(0.0))
      }.reduce(_ + _)
    wide.select(
      total("min").as("row_min_total"),
      total("avg").as("row_avg_total"),
      total("max").as("row_max_total"))
  }

  private def profiledWide(df: DataFrame): (Seq[(String, Column)], DataFrame) = {
    val profiled = df.schema.fields.toSeq.flatMap { f =>
      val base: Option[Column] = f.dataType match {
        case _: NumericType => Some(col(f.name).cast("double"))
        case StringType     => Some(length(col(f.name)).cast("double"))
        case BinaryType     => Some(length(col(f.name)).cast("double"))
        case _              => None // timestamps etc: fixed width, not profiled
      }
      base.map(f.name -> _)
    }
    val aggs = profiled.flatMap { case (name, c) =>
      Seq(
        min(c).as(s"${name}__min"),
        (sum(c.cast(DecimalType(38, 6))).cast("double") / count(c)).as(s"${name}__avg"),
        max(c).as(s"${name}__max"))
    }
    (profiled, df.agg(aggs.head, aggs.tail: _*))
  }

  /** Fixed-bin histogram of a numeric column per group — the value-
    * distribution half of data profiling beside [[columnStats]]. Bounds
    * come from one global min/max aggregate (a one-row relation that
    * broadcasts — no driver action, no second full pass materialized to
    * the driver); bucket = floor((v-lo)/width) capped into [0, bins-1].
    * All row-wise IEEE arithmetic on engine-identical inputs, so bucket
    * assignment reproduces exactly cross-engine. Degenerate lo==hi maps
    * everything to bucket 0. Heavy-in/tiny-out: one scan + one
    * partial-aggregated groupBy.
    */
  def valueHistogram(df: DataFrame, valueCol: String, groupCol: String,
                     bins: Int): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    val v = col(valueCol).cast("double")
    val bounds = df.agg(min(v).as("lo"), max(v).as("hi"))
    df.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(
            floor((v - col("lo")) / ((col("hi") - col("lo")) / lit(bins.toDouble))),
            lit((bins - 1).toLong)).cast("long")))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-group z-score outlier detection over a numeric column: group
    * mean/variance derive from exact decimal sums of v and v² (order-
    * independent — v has two decimals, so the v² cast to DECIMAL(38,6)
    * never sits on a rounding boundary), sigma is the correctly-rounded
    * IEEE sqrt, and rows with |v-mean| > z·sigma flag with their score.
    * The per-group stats relation is groups-sized → broadcast back; one
    * scan, one tiny aggregate, no window over the big side.
    */
  def zscoreOutliers(df: DataFrame, valueCol: String, groupCol: String,
                     z: Double): DataFrame = {
    val v = col(valueCol).cast("double")
    val stats = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(v.cast(DecimalType(18, 2))).as("s1"),
        sum((v * v).cast(DecimalType(38, 6))).as("s2"))
      .select(col(groupCol),
        (col("s1").cast("double") / col("n").cast("double")).as("mean"),
        sqrt(greatest(
          col("s2").cast("double") / col("n").cast("double") -
            (col("s1").cast("double") / col("n").cast("double")) *
            (col("s1").cast("double") / col("n").cast("double")),
          lit(0.0))).as("sigma"))
    df.join(broadcast(stats), Seq(groupCol))
      .filter(abs(v - col("mean")) > lit(z) * col("sigma"))
      .withColumn("zscore",
        (v - col("mean")) / col("sigma"))
  }

  /** Replication cycle stats: per-tile inserted/updated/deleted key counts
    * (the reference accumulates these incrementally per tile via S3 JSON
    * merge, :1177-1192; one groupBy computes the whole cycle at once).
    * Inputs are the change-set DataFrames with a `tile` column.
    */
  def replicationStats(inserts: DataFrame, updates: DataFrame,
                       deletes: DataFrame): DataFrame = {
    def count1(df: DataFrame, op: String): DataFrame =
      df.select(col("tile"), lit(op).as("op"))
    count1(inserts, "insert")
      .unionByName(count1(updates, "update"))
      .unionByName(count1(deletes, "delete"))
      .groupBy("tile", "op").agg(count(lit(1)).as("n"))
  }

  /** Robust (median/MAD) outlier report per group — the heavy-tail-safe
    * sibling of [[zscoreOutliers]]: a handful of extreme values inflate a
    * mean/sigma gate into uselessness, while the median and the median
    * absolute deviation ignore them (the standard robust screen for
    * metric columns before training-data filtering). Outlier = |v−med| >
    * k·1.4826·MAD (1.4826 scales MAD to σ under normality). Both medians
    * run through [[Percentiles]]' refine loop — bit-identical to Spark
    * `percentile` ≡ DuckDB `quantile_cont`, never buffering a
    * corpus-sized group's values in one aggregation buffer. The
    * deviation median reuses the value median's pass 1 (same group
    * counts, a key range derived from min/max/median), and the
    * groups-sized (median, MAD) relation is broadcast back; no window
    * over the data side.
    */
  def madOutliers(df: DataFrame, valueCol: String, groupCol: String,
                  k: Double): DataFrame = {
    val v = col(valueCol).cast("double")
    val values = new Percentiles.Keyed(df, v, Seq(groupCol))
    val groups = values.groups(Percentiles.DefaultMaxGroups)
    val meds = values.percentiles(groups, Seq(0.5), Percentiles.DefaultBuckets)
    val med = values.toDf(groups, meds, Seq("med"))
    // |v − med| keeps each group's n, and monotone float subtraction
    // keeps it in [0, max(max − med, med − min)]: pass 1 is known.
    val devGroups = groups.zip(meds).map { case (g, Array(m)) =>
      val bound = math.max(GraftOrderedKey.value(g.hi) - m,
        m - GraftOrderedKey.value(g.lo))
      g.copy(lo = GraftOrderedKey.key(0.0), hi = GraftOrderedKey.key(bound))
    }
    val devs = new Percentiles.Keyed(df.join(broadcast(med), Seq(groupCol)),
      abs(v - col("med")), Seq(groupCol))
    val mads = devs.percentiles(devGroups, Seq(0.5), Percentiles.DefaultBuckets)
    val mad = devs.toDf(groups, meds.zip(mads).map { case (m, d) => m ++ d },
      Seq("med", "mad"))
    df.join(broadcast(mad), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        round(first(col("med")), 6).as("median"),
        round(first(col("mad")), 6).as("mad"),
        count(when(abs(v - col("med")) > lit(k * 1.4826) * col("mad"), 1))
          .as("n_outliers"))
  }

  /** Winsorization: clamp a numeric column into its group's [pLo, pHi]
    * exact-percentile band — the trim step that stops a handful of broken
    * rows from dominating any downstream mean/sum (loss statistics,
    * quality scores, reward signals). The bounds relation is groups-sized
    * → broadcast into one clamped projection of the data side. Bounds via
    * [[Percentiles.exactPercentiles]] (exact, histogram-refined until the
    * ranked slices fit the driver budget — no group-sized aggregation
    * buffer).
    */
  def winsorize(df: DataFrame, valueCol: String, groupCol: String,
                pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, "need 0 <= pLo < pHi <= 1")
    val bounds = Percentiles.exactPercentiles(df, col(valueCol),
      Seq(groupCol), Seq(pLo -> "lo", pHi -> "hi"))
    df.join(broadcast(bounds), Seq(groupCol))
      .withColumn("value_wins",
        round(greatest(col("lo"),
          least(col("hi"), col(valueCol).cast("double"))), 6))
      .drop("lo", "hi")
  }

  /** Partition-key skew report: the distribution of group sizes under a
    * key — max, exact p50/p99, and the corpus share held by the top 1% of
    * keys — the number you read BEFORE choosing that key as a shuffle /
    * bucketing key at 100 TB (a top-1% share near 100% says "salt this
    * join"; see [[Skew.saltedJoin]]). Sizes are a grouped count; the
    * percentile/top-share reductions run over the KEYS-sized relation
    * (never the data side), with the top slice a distributed
    * TakeOrdered (`orderBy.limit`), not a window. The percentiles run
    * through [[Percentiles.exactPercentiles]] (exact, histogram-refined
    * until the ranked slices fit the driver budget — even a billion-key
    * relation never buffers in one task); the sizes relation is
    * persisted across its four reductions and released before
    * returning (the report is ONE row, finalized eagerly).
    */
  def keySkewReport(df: DataFrame, keyCol: String): DataFrame = {
    val sizes = df.groupBy(col(keyCol).as("k"))
      .agg(count(lit(1)).as("sz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nKeys = sizes.count()
    val topN = math.max(1L, math.ceil(nKeys / 100.0).toLong).toInt
    val topShare = sizes.orderBy(col("sz").desc, col("k")).limit(topN)
      .agg(sum(col("sz")).as("top_sz"))
    val pct = Percentiles.exactPercentiles(sizes, col("sz"), Nil,
      Seq(0.5 -> "p50", 0.99 -> "p99"))
    val total = sizes.agg(sum(col("sz")).as("total"),
      max(col("sz")).as("max_sz"))
    val out = total.crossJoin(topShare).crossJoin(pct)
      .select(lit(nKeys).as("n_keys"), col("total").cast("long").as("n_rows"),
        col("max_sz").cast("long").as("max_size"),
        round(col("p50"), 4).as("p50_size"),
        round(col("p99"), 4).as("p99_size"),
        expr("top_sz * 1000000 div total").as("top1pct_share_ppm"))
    val rows = out.collect()
    sizes.unpersist(blocking = false)
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), out.schema)
  }
}
