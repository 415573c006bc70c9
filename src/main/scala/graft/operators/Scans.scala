package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Scan-parallelism plumbing shared by operators and query bodies (r14
  * optimization round).
  */
object Scans {

  /** Scale-ADAPTIVE compute spread: repartition `df` by `key` only when
    * its scan offers fewer partitions than the session's parallelism.
    *
    * Why it exists: the sf test tables are single-row-group parquet files
    * — ONE scan task, indivisible by any split-size config
    * (`maxPartitionBytes` / `minPartitionNum` cannot split inside a row
    * group) — so every per-row-expensive stage before the first exchange
    * ran on one core. A real 100 TB layout scans wide, and there the
    * extra exchange would be pure overhead: this helper skips it. The
    * parallelism probe builds the physical plan only — no Spark job runs.
    *
    * NOT for bucketed standing tables: their (deliberately) modest
    * partition counts carry co-location that a repartition would destroy
    * — callers pass raw scans only.
    */
  def spreadIfNarrow(df: DataFrame, key: Column): DataFrame =
    if (df.rdd.getNumPartitions <
        df.sparkSession.sparkContext.defaultParallelism)
      // full width, not the byte-capped spread: this path's consumer
      // (multimodal_meta's chunked-checksum HOF) evaluates INTERPRETED
      // per byte — an order of magnitude denser per input byte than the
      // codegen'd hashing the 64 KB cap is calibrated for — and the
      // narrowness probe above already skips the spread wherever the
      // scan itself is wide (the 100 TB case).
      spreadByKeyWide(df, key)
    else df

  /** Hash-repartition for COMPUTE spreading, pinned at the session's
    * configured shuffle parallelism. The explicit count matters: a bare
    * `repartition(key)` carries the REPARTITION_BY_COL shuffle origin,
    * which AQE's byte-based partition coalescing is allowed to fold —
    * and a few hundred KB of documents routinely coalesce to ONE
    * partition even though the work downstream of the exchange
    * (interpreted lambdas, codecs, window shingling, per-token hashing)
    * is CPU-dense per byte. Byte statistics cannot see CPU density;
    * pinning the count (REPARTITION_BY_NUM origin, never coalesced)
    * keeps the spread at the parallelism the session was GIVEN —
    * `spark.sql.shuffle.partitions`, which the bench/driver set to the
    * core count and a cluster deployment sizes for its executors — so
    * nothing here is tuned to any fixed machine shape.
    */
  def spreadByKey(df: DataFrame, key: Column): DataFrame = {
    val confWidth =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // Size cap (r15, verdict #2): a spread wider than the data can fill
    // buys nothing and pays per-task/per-block overhead that GROWS with
    // core count — the r14 anti-scaling cluster (the 8-core full suite
    // beat 32 cores on dedup_minhash_lsh / dedup_threshold_report,
    // ratios 0.63/0.69). Cap the width at one partition per 64 KB of
    // OPTIMIZER-ESTIMATED input (driver-side metadata; for the raw scans
    // this helper is documented for that is the on-disk file size — no
    // job, no RDD materialization). 64 KB of compressed text is tens of
    // milliseconds of the CPU-dense per-byte work these spreads exist to
    // parallelize (shingling, 128-perm minhash, per-token hashing) —
    // well above per-task overhead — while at any real scale
    // ceil(bytes/64K) saturates confWidth immediately, so the cap is
    // invisible at 100 TB. REPARTITION_BY_NUM (never AQE-coalesced) is
    // kept. Per-ROW-dense generators over key-only relations use
    // [[spreadByKeyWide]] instead: a byte estimate cannot see their CPU.
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = BigInt(65536)
    val byData = ((estBytes + target - 1) / target).min(BigInt(confWidth))
      .max(BigInt(1)).toInt
    df.repartition(byData, key)
  }

  /** Full-width compute spread for PER-ROW-dense work over key-only
    * relations — the synthetic media generators, where each 8-byte id
    * row expands into a payload construction / codec encode whose cost
    * the byte-based cap of [[spreadByKey]] cannot see (a few hundred ids
    * estimate under one cap unit yet carry seconds of CPU). Pinned at
    * the session's shuffle parallelism, REPARTITION_BY_NUM as above.
    */
  def spreadByKeyWide(df: DataFrame, key: Column): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, key)

  /** Bounded read of an [[org.apache.spark.sql.Observation]] whose
    * metrics were published by an EAGER localCheckpoint rather than a
    * caller-run action (the CC loop's per-round edge counts, the
    * kmeans candidate counts). That publish relies on Spark-internal
    * behavior — eager checkpoint executing under `withAction` — probed
    * and spec-gated on this Spark version; if an upgrade changes the
    * wrapping, the metrics never arrive and a bare `get()` would hang
    * the operator FOREVER (r14 advice). By the time callers read, the
    * checkpoint action has completed; Spark resolves the metrics future
    * from its listener bus, so it may still be pending for moments after
    * the checkpoint returns (ScansSpec pins that it resolves with no
    * further action). The deadline only fires in the broken-contract
    * case, as a pointed error instead of a hang.
    */
  def observed(obs: org.apache.spark.sql.Observation, what: => String,
               deadlineSec: Int = 600): Map[String, Any] =
    try {
      val row = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(deadlineSec.toLong,
          java.util.concurrent.TimeUnit.SECONDS))
      row.getValuesMap[Any](row.schema.fieldNames.toIndexedSeq)
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"Observation metrics for <$what> did not arrive within " +
            s"$deadlineSec s of the checkpoint action completing — the " +
            "eager-localCheckpoint metrics-publish contract no longer " +
            "holds on this Spark version; revert the fused convergence " +
            "reads to driver-side count() probes.")
    }

  /** Exact materialized byte size of already-cached/checkpointed RDDs, from
    * the block manager's storage report (driver-side metadata, no job).
    * `ids` are the RDD ids a `localCheckpoint(true)` registered — e.g. the
    * tracked set Clustering's checkpointTracked returns. Returns 0 when
    * nothing is found (empty relation or already unpersisted).
    */
  def materializedBytes(sc: SparkContext, ids: Set[Int]): Long =
    sc.getRDDStorageInfo.filter(i => ids.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum

  /** Would a relation of `bytes` qualify for a broadcast join under the
    * session's own `spark.sql.autoBroadcastJoinThreshold`? Used to hint
    * `broadcast()` on relations whose TRUE size the caller has measured
    * (guide §3.1: the planner's estimate for a checkpointed relation is
    * "unknown", which plans sort-merge; the measured size makes the same
    * decision the optimizer would make if it could see the bytes). `-1`
    * (broadcast disabled) disables the hint too, so operators honor the
    * session's configuration at any scale.
    */
  def fitsBroadcast(spark: SparkSession, bytes: Long): Boolean = {
    val raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    val threshold =
      try raw.toLong
      catch {
        case _: NumberFormatException =>
          try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
          catch { case _: Exception => -1L }
      }
    threshold > 0 && bytes <= threshold
  }
}
