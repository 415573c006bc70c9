package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftOrderedKey
import org.apache.spark.sql.graft.OrderedKeyFunctions.{bucket, orderedKey}
import org.apache.spark.sql.types._

/** Exact interpolated percentiles WITHOUT per-group value buffering.
  *
  * Spark's `percentile` is an imperative aggregate that materializes a
  * value→count map of the whole group in ONE aggregation buffer. For
  * profiling queries the group is corpus-sized (all events of a type, all
  * users, all keys), so at 100 TB a single task buffers billions of
  * values and OOMs — the one aggregate shape that cannot be map-side
  * combined away. This operator computes the SAME bit-exact result
  * (`percentile` ≡ DuckDB `quantile_cont`, linear interpolation between
  * the two neighboring order statistics) from bounded-memory passes.
  *
  * Values are ranked on their order-preserving 64-bit key
  * ([[org.apache.spark.sql.graft.GraftOrderedKey]]): `Double.compare`
  * order, −0.0 before 0.0 and NaN last.
  *
  *   1. pass 1: per-group count and min/max key — a map-side-combined
  *      groupBy whose groups-sized output is collected (the same
  *      broadcast-small contract every profiling operator here carries).
  *      Each group becomes one SLICE: a key range, the number of group
  *      rows below it, its row count and the ranks it must answer.
  *   2. then one loop over the open slices. A flat slice (lo key = hi
  *      key) answers every rank in it directly. If the others hold no
  *      more rows than a histogram of them would return (Σ count ≤
  *      slices × buckets), one broadcast-joined scan collects their
  *      (slice, key) rows and the driver sorts each slice and reads its
  *      ranks. Otherwise a histogram of only those slices — count and
  *      min/max key per (slice, bucket), map-side combined — turns the
  *      buckets holding needed ranks into the next slices.
  *
  * Buckets split a slice's key span on bit boundaries: bucket = (key −
  * lo) >>> shift, shift = max(0, bitLength(hi − lo) − ⌊log2 buckets⌋).
  * Each histogram therefore cuts every slice's span by ⌊log2 buckets⌋
  * bits, whatever the value distribution (a value-uniform split can
  * need a histogram per binade on exponential spreads), so the loop ends
  * within ⌈64 / ⌊log2 buckets⌋⌉ + 1 histograms; past that bound it
  * throws IllegalStateException. Each slice's rows are counted again by
  * every histogram or collect, and a count that differs from pass 1
  * (a non-deterministic input) throws IllegalStateException too.
  *
  * Driver contract: groups-sized pass-1 rows, then per round at most the
  * histogram budget — slices × buckets ≤ ~4M rows, buckets capped from
  * the number of needed ranks — of bucket rows or of (slice, key) rows.
  *
  * Interpolation replicates Spark's Percentile.getPercentile arithmetic
  * exactly: pos = p·(n−1); result = v_lo when ⌊pos⌋ = ⌈pos⌉ or v_lo ==
  * v_hi, else (⌈pos⌉−pos)·v_lo + (pos−⌊pos⌋)·v_hi — so swapping this in
  * under an existing `percentile`/`quantile_cont` oracle changes nothing.
  * One difference is unobservable through `==`: Spark's comparator ties
  * −0.0 with 0.0 and orders the two through its value→count hash map;
  * here −0.0 ranks first, which matches Spark's observed output for
  * {−0.0, 0.0}.
  *
  * EAGER: the passes run at call time and the groups-sized result
  * returns as a local relation (it broadcast-joins downstream exactly
  * like the aggregate it replaces). Contracts: null values are ignored
  * (as `percentile` does); rows with a null group key are dropped up
  * front (the equi-join of the refining scans cannot see them — this
  * matches the operator's long-standing effective output); a group with
  * no non-null values is absent from the output (Spark emits a null
  * row). The broadcast-small contract on the GROUP COUNT is enforced:
  * pass 1 fails fast past `maxGroups` rather than letting a
  * per-user-sized key silently OOM the driver.
  */
object Percentiles {

  /** Rows one refine round may bring to the driver. */
  private val DriverRows = 4000000L
  private[operators] val DefaultBuckets = 1024
  private[operators] val DefaultMaxGroups = 1000000

  /** Returns one row per group: the group columns plus one double column
    * per requested percentile.
    *
    * @param ps      (fraction in [0,1], output column name) pairs
    * @param groupCols empty ⇒ one global row (null-filled on empty input)
    * @param buckets histogram resolution per slice; capped so one round's
    *                driver-held rows stay ≤ ~4M
    * @param maxGroups hard ceiling on distinct groups (pass 1 fails fast
    *                beyond it); keeps the driver-collect contract a
    *                checked invariant instead of prose
    */
  def exactPercentiles(df: DataFrame, value: Column, groupCols: Seq[String],
                       ps: Seq[(Double, String)],
                       buckets: Int = DefaultBuckets,
                       maxGroups: Int = DefaultMaxGroups): DataFrame = {
    require(ps.nonEmpty, "need at least one percentile")
    require(ps.forall { case (p, _) => p >= 0.0 && p <= 1.0 },
      "percentiles must lie in [0, 1]")
    require(buckets >= 2, "need at least 2 buckets")
    val in = new Keyed(df, value, groupCols)
    val groups = in.groups(maxGroups)
    in.toDf(groups, in.percentiles(groups, ps.map(_._1), buckets),
      ps.map(_._2))
  }

  /** One group after pass 1: its key values, row count, and the ordered
    * keys of a range holding all its values (its min and max, or a
    * wider range a caller can prove).
    */
  private[operators] final case class Group(key: Seq[Any], n: Long,
                                            lo: Long, hi: Long)

  /** Keys [lo, hi] of one group still to rank: `offset` of its rows lie
    * below lo, `n` inside; `ranks` are the 1-based group ranks it holds.
    */
  private final case class Slice(group: Int, lo: Long, hi: Long,
                                 offset: Long, n: Long, ranks: Seq[Long])

  /** `value` of `df` as ordered keys (`__k`) beside the group columns,
    * rows with a null value or a null group key dropped.
    */
  private[operators] final class Keyed(df: DataFrame, value: Column,
                                       groupCols: Seq[String]) {
    // Global percentiles run as a single constant group (dropped on output).
    private val global = groupCols.isEmpty
    private val gNames = if (global) Seq("__g") else groupCols
    private val data = {
      val base = if (global) df.withColumn("__g", lit(0)) else df
      val nonNullKeys =
        if (global) lit(true)
        else gNames.map(col(_).isNotNull).reduce(_ && _)
      base.select(gNames.map(col) :+ orderedKey(value.cast("double")).as("__k"): _*)
        .filter(col("__k").isNotNull && nonNullKeys)
    }
    private val gFields = gNames.map(n => data.schema(n))

    /** Pass 1: per-group count and key range (groups-sized collect). The
      * limit caps the collect itself, so an over-cardinality key fails
      * fast instead of OOM-ing the driver first.
      */
    def groups(maxGroups: Int): IndexedSeq[Group] = {
      val rows = data.groupBy(gNames.map(col): _*)
        .agg(count(lit(1)), min("__k"), max("__k"))
        .limit(maxGroups + 1)
        .collect()
      require(rows.length <= maxGroups,
        s"exactPercentiles: more than $maxGroups distinct groups for key " +
          s"${gNames.mkString("(", ",", ")")} — the driver-held histogram " +
          "contract does not hold; aggregate per-group percentiles " +
          "distributedly (e.g. percentile_approx) or raise maxGroups")
      val k = gNames.size
      rows.toIndexedSeq.map(r =>
        Group(r.toSeq.take(k), r.getLong(k), r.getLong(k + 1), r.getLong(k + 2)))
    }

    /** Per group (aligned with `groups`), the exact percentile at each of
      * `fracs`.
      */
    def percentiles(groups: IndexedSeq[Group], fracs: Seq[Double],
                    buckets: Int): IndexedSeq[Array[Double]] = {
      // Per (group, fraction): interpolation position and its two ranks.
      val points = groups.map(g => fracs.map { p =>
        val pos = p * (g.n - 1)
        (pos, pos.floor.toLong + 1, pos.ceil.toLong + 1)
      })
      val ranks = points.map(_.flatMap(t => Seq(t._2, t._3)).distinct)
      // Every open slice holds ≥ 1 needed rank, so this caps a round's
      // slices × buckets at DriverRows.
      val nB = math.max(2L, math.min(buckets.toLong,
        DriverRows / math.max(1, ranks.map(_.size).sum))).toInt
      val at = rankValues(groups, groups.indices.map(i =>
        Slice(i, groups(i).lo, groups(i).hi, 0L, groups(i).n, ranks(i))), nB)
      groups.indices.map(i => points(i).map { case (pos, lo, hi) =>
        val vlo = at((i, lo))
        val vhi = at((i, hi))
        // Spark skips the interpolation when the neighbours are ==.
        if (vlo == vhi) vlo
        else (hi - 1 - pos) * vlo + (pos - (lo - 1)) * vhi
      }.toArray)
    }

    /** The refine loop: value of every (group, rank) the slices hold. */
    private def rankValues(groups: IndexedSeq[Group], start: Seq[Slice],
                           nB: Int): Map[(Int, Long), Double] = {
      val bits = 31 - Integer.numberOfLeadingZeros(nB)
      val maxHistograms = (64 + bits - 1) / bits + 1
      val at = mutable.Map[(Int, Long), Double]()
      var open = start
      var histograms = 0
      while (open.nonEmpty) {
        val (flat, mixed) = open.partition(s => s.lo == s.hi)
        for (s <- flat; r <- s.ranks) at((s.group, r)) = GraftOrderedKey.value(s.lo)
        open =
          if (mixed.isEmpty) Nil
          else if (mixed.map(_.n).sum <= mixed.size.toLong * nB) {
            collectRanks(groups, mixed, at); Nil
          } else {
            histograms += 1
            if (histograms > maxHistograms)
              throw new IllegalStateException(s"exactPercentiles: more than " +
                s"$maxHistograms histograms at $nB buckets — a slice's key " +
                "span did not shrink")
            histogram(groups, mixed, bits)
          }
      }
      at.toMap
    }

    /** Rows of `slices` joined to their slice: `__s` (index into
      * `slices`), `__lo` and `__sh` (shift) beside the group columns and
      * `__k`.
      */
    private def inSlices(groups: IndexedSeq[Group], slices: Seq[Slice],
                         shift: Slice => Int): DataFrame = {
      val rows = slices.zipWithIndex.map { case (s, i) =>
        Row.fromSeq(groups(s.group).key ++ Seq[Any](i, s.lo, s.hi, shift(s)))
      }
      val sl = data.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(gFields ++ Seq(StructField("__s", IntegerType),
          StructField("__lo", LongType), StructField("__hi", LongType),
          StructField("__sh", IntegerType))))
      data.join(broadcast(sl), gNames)
        .filter(col("__k").between(col("__lo"), col("__hi")))
    }

    private def checkCount(s: Slice, seen: Long): Unit =
      if (seen != s.n) throw new IllegalStateException(
        s"exactPercentiles: a slice counted ${s.n} rows in one pass and " +
          s"$seen in the next — the input must be deterministic")

    /** Collects the slices' keys and reads every rank off the sorted keys. */
    private def collectRanks(groups: IndexedSeq[Group], slices: Seq[Slice],
                             at: mutable.Map[(Int, Long), Double]): Unit = {
      val keys = Array.fill(slices.size)(mutable.ArrayBuilder.make[Long])
      inSlices(groups, slices, _ => 0).select("__s", "__k").collect()
        .foreach(r => keys(r.getInt(0)) += r.getLong(1))
      for ((s, b) <- slices.zip(keys)) {
        val ks = b.result()
        checkCount(s, ks.length)
        java.util.Arrays.sort(ks)
        for (r <- s.ranks)
          at((s.group, r)) = GraftOrderedKey.value(ks((r - s.offset - 1).toInt))
      }
    }

    /** One histogram round: the buckets that hold needed ranks, as the
      * next slices.
      */
    private def histogram(groups: IndexedSeq[Group], slices: Seq[Slice],
                          bits: Int): Seq[Slice] = {
      def shift(s: Slice) =
        math.max(0, 64 - java.lang.Long.numberOfLeadingZeros(s.hi - s.lo) - bits)
      val bySlice = inSlices(groups, slices, shift)
        .groupBy(col("__s"), bucket(col("__k"), col("__lo"), col("__sh")).as("__b"))
        .agg(count(lit(1)), min("__k"), max("__k"))
        .collect()
        .groupBy(_.getInt(0))
      slices.zipWithIndex.flatMap { case (s, i) =>
        // (count, min key, max key) per bucket, in bucket order
        val bs = bySlice.getOrElse(i, Array.empty[Row]).sortBy(_.getLong(1))
          .map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
        val ends = bs.scanLeft(0L)(_ + _._1).tail
        checkCount(s, ends.lastOption.getOrElse(0L))
        s.ranks.groupBy { r =>
          val j = java.util.Arrays.binarySearch(ends, r - s.offset)
          if (j >= 0) j else -j - 1
        }.map { case (j, rs) =>
          val (c, mn, mx) = bs(j)
          Slice(s.group, mn, mx, s.offset + ends(j) - c, c, rs)
        }
      }
    }

    /** The local result relation: group columns plus one double per
      * name; a global call on empty input yields one null-filled row, as
      * agg(percentile(...)) would, grouped output is then empty.
      */
    def toDf(groups: IndexedSeq[Group], values: IndexedSeq[Array[Double]],
             names: Seq[String]): DataFrame = {
      val rows =
        if (global && groups.isEmpty) Seq(Row.fromSeq(0 +: names.map(_ => null)))
        else groups.indices.map(i => Row.fromSeq(groups(i).key ++ values(i)))
      val local = data.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        StructType(gFields ++ names.map(StructField(_, DoubleType))))
      if (global) local.drop("__g") else local
    }
  }
}
