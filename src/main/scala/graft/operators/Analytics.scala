package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TopKPerGroup
import org.apache.spark.sql.types.DecimalType

/** Event-stream analytics shapes beyond plain grouped aggregation: pivoted
  * count matrices, ordered running totals, and cohort retention. All three
  * are single-shuffle plans (one hash partitioning on the grouping/
  * partition key, reused by every window in the stage) — the shapes a
  * behavioural warehouse runs daily over event logs at 100 TB.
  */
object Analytics {

  /** Per-key count matrix: one row per key, one column per pivot value
    * (`n_<value>`), plus `n_total`. Pivot values are EXPLICIT — Spark's
    * two-pass value discovery (`pivot(col)` without values runs a distinct
    * job first) never fires, and the output schema is stable no matter
    * which values a partition of the data happens to contain. One shuffle
    * on the key; each cell is a map-side-combined conditional count.
    */
  def pivotCounts(df: DataFrame, keyCol: String, pivotCol: String,
                  values: Seq[String]): DataFrame = {
    val cells = values.map(v =>
      count(when(col(pivotCol) === v, 1)).as(s"n_$v"))
    df.groupBy(col(keyCol))
      .agg(cells.head, cells.tail :+ count(lit(1)).as("n_total"): _*)
  }

  /** Ordered running totals per partition key: sequence number and
    * cumulative sum over an UNBOUNDED PRECEDING frame. The running sum
    * accumulates in decimal — an exact, order-independent representation —
    * so the result is bit-identical on any engine that walks the same
    * (orderCols) order; double accumulation would disagree in the last ulp
    * between engines. One shuffle on the partition key serves both windows.
    */
  def runningTotals(df: DataFrame, partCol: String, orderCols: Seq[Column],
                    valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(partCol)).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("running_n", row_number().over(
        Window.partitionBy(col(partCol)).orderBy(orderCols: _*)))
      .withColumn("running_sum",
        round(sum(col(valueCol).cast(DecimalType(38, 6))).over(w)
          .cast("double"), 4))
  }

  /** Equi-depth rank buckets (the scale-safe ntile): bucket of a row with
    * global rank r (1-based, over a UNIQUE numeric sort key) out of n is
    * `(r-1)·k div n + 1` — deterministic integer arithmetic, identical on
    * any engine. The global rank comes from [[GlobalIds.assign]]'s
    * bucket-histogram scheme (per-range windows + broadcast offsets), so
    * no single-partition sort ever materializes — ntile/percent_rank over
    * an unpartitioned window would pull the whole corpus through ONE task
    * at 100 TB. Total row count joins in as a broadcast one-row aggregate.
    */
  def rankBuckets(df: DataFrame, sortKey: Column, k: Int,
                  bucketName: String = "bucket"): DataFrame = {
    require(k > 0, "k must be positive")
    val ranked = GlobalIds.assign(df.withColumn("__rk", sortKey), "__rk",
      idName = "__rank")
    val n = df.agg(count(lit(1)).as("__n"))
    ranked.join(broadcast(n))
      .withColumn(bucketName,
        expr(s"CAST((__rank - 1) * $k div __n AS BIGINT) + 1"))
      .drop("__rk", "__rank", "__n")
  }

  /** Global top-k by a count column (desc, `tieCol` asc tie-break) with a
    * 1-based long `rank` column — the vocabulary-ranking shape,
    * scale-safe. One [[org.apache.spark.sql.graft.TopKPerGroup]] with no
    * group columns: each partition keeps a bounded heap of k rows, and
    * one final task merges at most partitions × k of them and numbers
    * them — never a full sort, never an unpartitioned window over the
    * input. Ranks equal row_number over the same order.
    */
  def topKRanked(df: DataFrame, countCol: String, tieCol: String,
                 k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    TopKPerGroup(df, Nil, Seq(col(countCol).desc, col(tieCol)), k)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Trailing-window rolling stats per key: count and exact (decimal)
    * sum over a RANGE frame of the preceding `windowSeconds` — the
    * moving-average/anomaly-baseline shape. The range frame is defined
    * on epoch SECONDS (a long), so frame membership is integer-exact and
    * engine-portable; ties at one timestamp all enter the frame
    * (standard RANGE semantics on both engines). One shuffle on the
    * partition key.
    */
  def rollingStats(df: DataFrame, partCol: String, tsCol: String,
                   valueCol: String, windowSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(partCol))
      .orderBy(col("__epoch"))
      .rangeBetween(-windowSeconds, 0)
    df.withColumn("__epoch", unix_timestamp(col(tsCol)))
      .withColumn("rolling_n", count(lit(1)).over(w))
      .withColumn("rolling_sum",
        round(sum(col(valueCol).cast(DecimalType(38, 6))).over(w)
          .cast("double"), 4))
      .drop("__epoch")
  }

  /** Ordered funnel conversion: step i counts users whose earliest
    * qualifying step-i event occurs AT OR AFTER their step-(i-1) time
    * (min-ts greedy matching — the standard funnel semantics; a user
    * converts iff the steps occur in order). Each stage is one filtered
    * aggregate joined on the user key, so all stages reuse a single hash
    * partitioning on user and the per-stage relations shrink
    * monotonically; stage counts are one-row aggregates unioned at the
    * end. No window over the full event log, no per-user event sorting.
    */
  def funnel(events: DataFrame, userCol: String, typeCol: String,
             tsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val stages = steps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, _)) =>
        val hits = events.filter(col(typeCol) === step)
          .select(col(userCol).as("user_id"), col(tsCol).as("ts"))
        val qualified = prev match {
          case None => hits
          case Some(p) => hits.join(p, "user_id").filter(col("ts") >= col("t"))
            .select("user_id", "ts")
        }
        Some(qualified.groupBy("user_id").agg(min(col("ts")).as("t")))
    }.flatten
    stages.zip(steps.zipWithIndex).map { case (stage, (step, i)) =>
      stage.agg(count(lit(1)).as("n_users"))
        .select(lit(i.toLong).as("step_idx"), lit(step).as("step"),
          col("n_users"))
    }.reduce(_.unionByName(_))
  }

  /** Weekly cohort retention: users bucket into the week of their first
    * event (cohort), every active (user, week) pair counts once toward
    * (cohort_week, week_offset). The cohort assignment is a window min —
    * no self-join of the event log against a per-user aggregate — so the
    * whole plan is one shuffle on user_id followed by one on the
    * (cohort, offset) group key. Weeks are epoch-second longs (Monday
    * truncation) for engine-portable comparison.
    */
  def retentionCohorts(events: DataFrame, userCol: String,
                       tsCol: String): DataFrame = {
    val week = date_trunc("week", col(tsCol))
    events
      .select(col(userCol).as("user_id"), week.as("week_ts"))
      .withColumn("cohort_ts",
        min(col("week_ts")).over(Window.partitionBy(col("user_id"))))
      // offset in CALENDAR weeks via datediff over the truncated dates —
      // a fixed 604800-second divisor would misbucket in DST timezones,
      // where one local week spans 604800±3600 s (both week-truncated, so
      // the day gap is always an exact multiple of 7)
      .select(col("user_id"),
        unix_timestamp(col("cohort_ts")).as("cohort_week"),
        (datediff(col("week_ts"), col("cohort_ts")) / 7)
          .cast("long").as("week_offset"))
      .distinct()
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  /** Classifier calibration / reliability bins: rank rows by a score
    * column into `k` equi-depth bins (the scale-safe [[rankBuckets]]
    * scheme — never an unpartitioned ntile) and report, per bin, the doc
    * count, exact mean score and positive rate against a binary target —
    * the reliability diagram a filtering pipeline reads before trusting a
    * learned quality score as a gate. `sortKey` must be a TOTAL order
    * (pack ties with the row id, the quality_deciles idiom); `targetCol`
    * is 0/1.
    */
  def calibrationBins(df: DataFrame, sortKey: Column, scoreCol: String,
                      targetCol: String, k: Int): DataFrame =
    rankBuckets(df, sortKey, k, bucketName = "bin")
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col(scoreCol).cast("decimal(38,6)")).cast("double") /
          count(lit(1)), 6).as("mean_score"),
        sum(col(targetCol)).cast("long").as("n_pos"))
      .withColumn("pos_rate_ppm", expr("n_pos * 1000000 div n_docs"))

  /** Weekly churn panel: per calendar week, active users plus how many of
    * them DON'T return next week (churned) and how many weren't there the
    * week before (new) — the growth-accounting triple every activity
    * dashboard leads with (active = retained + new; next week's retained
    * = this week's active − churned). Weeks are DATEs (calendar-exact,
    * timezone/DST-free); the whole plan is one distinct on (user, week)
    * plus two self left-joins of that weeks-sized relation and a grouped
    * count. The final week's churn necessarily counts everyone (no next
    * week observed yet) — the standard right-censoring caveat.
    */
  def weeklyChurn(events: DataFrame, userCol: String,
                  tsCol: String): DataFrame = {
    val p = events.select(col(userCol).as("user_id"),
      to_date(date_trunc("week", col(tsCol))).as("week")).distinct()
    val activeNext = p.select(col("user_id"), date_sub(col("week"), 7).as("week"))
      .withColumn("has_next", lit(1))
    val activePrev = p.select(col("user_id"), date_add(col("week"), 7).as("week"))
      .withColumn("has_prev", lit(1))
    p.join(activeNext, Seq("user_id", "week"), "left")
      .join(activePrev, Seq("user_id", "week"), "left")
      .groupBy("week")
      .agg(count(lit(1)).as("n_active"),
        count(when(col("has_next").isNull, 1)).as("n_churned"),
        count(when(col("has_prev").isNull, 1)).as("n_new"))
  }

  /** Event transition matrix with dwell times: per (from_type → to_type),
    * how often users make that step and the mean gap between the two
    * events — the first-order Markov view of a product event stream
    * (funnel discovery, bot detection via impossible dwell times). One
    * lag window per user (microsecond-exact ordering with id tie-break),
    * then one grouped aggregate; gaps sum as exact longs.
    */
  def eventTransitions(events: DataFrame, userCol: String, typeCol: String,
                       tsCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("tus"), col(idCol))
    events
      .select(col(userCol), col(idCol), col(typeCol).as("to_type"),
        unix_micros(col(tsCol)).as("tus"))
      .withColumn("from_type", lag(col("to_type"), 1).over(w))
      .withColumn("gap_us", col("tus") - lag(col("tus"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"),
        // DECIMAL sum: exact at any scale (a long sum of μs gaps brushes
        // 2^53 once groups hold ~10⁴ month-long gaps), single double
        // rounding at the end on both engines
        round(sum(col("gap_us").cast("decimal(38,0)")).cast("double") /
          (count(lit(1)) * lit(1000000.0)), 6).as("mean_gap_s"))
  }

  /** Watermark planning report: per tumbling window and candidate
    * watermark W, how many events a streaming job would DROP — an event
    * lands late by `delay` seconds (here a deterministic md5-derived
    * delay standing in for the arrival-log column a real deployment
    * joins in) and is dropped iff arrival > window_end + W, i.e.
    * delay − (window_end − event_time) > W. The report a stream owner
    * reads before picking `withWatermark`: completeness (dropped ppm)
    * vs state-retention cost per candidate W. One projection + a
    * |thresholds|-way explode + one grouped count; all integer-exact.
    */
  def latenessReport(events: DataFrame, idCol: String, tsCol: String,
                     maxDelaySeconds: Int, windowSeconds: Long,
                     thresholds: Seq[Long]): DataFrame = {
    require(maxDelaySeconds > 0 && windowSeconds > 0 && thresholds.nonEmpty,
      "need positive delay bound / window and at least one threshold")
    val epoch = unix_timestamp(col(tsCol))
    val delay = TextAnalysis.hashedFeature(
      col(idCol).cast("string"), maxDelaySeconds)
    events
      .select(epoch.as("ep"), delay.as("delay"))
      .withColumn("window_start", col("ep") - pmod(col("ep"), lit(windowSeconds)))
      .withColumn("excess",
        col("delay") - (col("window_start") + windowSeconds - col("ep")))
      .withColumn("watermark_s", explode(typedLit(thresholds)))
      .groupBy("window_start", "watermark_s")
      .agg(count(lit(1)).as("n_events"),
        count(when(col("excess") > col("watermark_s"), 1)).as("n_dropped"))
      .withColumn("dropped_ppm", expr("n_dropped * 1000000 div n_events"))
  }

  /** Exponential time-decay weighted aggregate per key: each event
    * contributes value·0.5^(age/halfLife) against a FIXED anchor instant —
    * recency-weighted user activity / engagement scoring where the anchor
    * makes the result a pure function of the data (re-running tomorrow
    * does not silently re-weight). Age runs in epoch seconds (timezone-
    * free); each term is a row-wise double rounded once at 9 decimals,
    * then summed in DECIMAL — partition-order independent and
    * engine-portable. One scan, one grouped aggregate; no window.
    */
  def timeDecayAgg(events: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, anchorEpoch: Long,
                   halfLifeSeconds: Long): DataFrame = {
    require(halfLifeSeconds > 0, "halfLifeSeconds must be positive")
    val age = lit(anchorEpoch) - unix_timestamp(col(tsCol))
    val term = round(col(valueCol).cast("double") *
      pow(lit(0.5), age.cast("double") / lit(halfLifeSeconds.toDouble)), 9)
    events.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        round(sum(term.cast("decimal(38,12)")).cast("double"), 6)
          .as("decayed_value"))
  }

  /** Funnel conversion LATENCY: among users whose first `fromType` event
    * converts to a later `toType` event, the time-to-convert distribution
    * (exact p50/p90 over microsecond-precise diffs) plus the conversion
    * rate in exact ppm — the panel behind "how long does view→purchase
    * take", where [[Queries]]' events_funnel only counts who converts.
    * Two user-keyed aggregates + one equi-join (the ts ≥ first-touch
    * bound is a post-join filter, not an inequality join); the final
    * reductions run over the users-sized relation, with the latency
    * percentiles through [[Percentiles.exactPercentiles]] — exact,
    * histogram-refined until the ranked slices fit the driver budget, so
    * no task ever buffers the users-sized latency list. That relation
    * persists across its passes and is released before returning (the
    * report is ONE row, finalized eagerly).
    */
  def funnelConversionTime(events: DataFrame, userCol: String,
                           typeCol: String, tsCol: String,
                           fromType: String, toType: String): DataFrame = {
    val first = events.filter(col(typeCol) === fromType)
      .groupBy(col(userCol).as("user"))
      .agg(min(unix_micros(col(tsCol))).as("first_us"))
    val conv = events.filter(col(typeCol) === toType)
      .select(col(userCol).as("user"), unix_micros(col(tsCol)).as("to_us"))
      .join(first, "user")
      .filter(col("to_us") >= col("first_us"))
      .groupBy("user")
      .agg(min(col("to_us") - col("first_us")).as("lat_us"))
    val joined = first.join(conv, Seq("user"), "left")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = joined.agg(
      count(lit(1)).as("n_first"),
      count(col("lat_us")).as("n_converted"))
    val pct = Percentiles.exactPercentiles(joined, col("lat_us"), Nil,
      Seq(0.5 -> "p50_us", 0.9 -> "p90_us"))
    val out = counts.crossJoin(pct)
      .select(col("n_first"), col("n_converted"),
        expr("n_converted * 1000000 div n_first").as("conv_ppm"),
        round(col("p50_us") / 1e6, 6).as("p50_secs"),
        round(col("p90_us") / 1e6, 6).as("p90_secs"))
    val rows = out.collect()
    joined.unpersist(blocking = false)
    events.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Daily-count anomaly screen: per (event type, day) counts flagged
    * against that type's own day-count distribution (population mean/σ
    * over the days relation — a few hundred rows, never the event log) —
    * the volume-spike tripwire a pipeline owner watches, where
    * zscore_outliers screens individual event VALUES. Count aggregation
    * is map-side combined; the per-type stats join back by type.
    */
  def dailyCountAnomalies(events: DataFrame, typeCol: String, tsCol: String,
                          k: Double): DataFrame = {
    val daily = events
      .groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val stats = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("n").cast("decimal(38,6)")).as("s1"),
        sum((col("n") * col("n")).cast("decimal(38,6)")).as("s2"))
      .select(col("event_type"), col("n_days"),
        (col("s1").cast("double") / col("n_days")).as("mean_n"),
        sqrt(col("s2").cast("double") / col("n_days") -
          (col("s1").cast("double") / col("n_days")) *
          (col("s1").cast("double") / col("n_days"))).as("sd_n"))
    daily.join(stats, "event_type")
      .select(col("event_type"), col("day"), col("n"),
        round(col("mean_n"), 6).as("mean_n"),
        round(col("sd_n"), 6).as("sd_n"),
        (col("n").cast("double") > col("mean_n") + lit(k) * col("sd_n"))
          .as("is_spike"))
  }
}
