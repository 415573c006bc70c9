package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.RebalancePartitions
import org.apache.spark.sql.classic.{DataFrame => ClassicDataFrame, Dataset, SparkSession => ClassicSparkSession}

/** DataFrame helpers that need `org.apache.spark.sql` internals.
  *
  * [[rebase]] — lineage rebase for iterative operators (r15).
  *
  * `Clustering.connectedComponents` must re-wrap each round's
  * localCheckpoint in a FRESH logical relation: the checkpoint's own
  * `LogicalRDD` keeps the original plan's inferred constraints, which
  * reference attributes the checkpoint no longer outputs, and
  * re-joining/unioning over it trips Catalyst's constraint rewrite
  * ("key not found: src#N").
  *
  * The r14 form — `spark.createDataFrame(ck.rdd, ck.schema)` — was correct
  * but paid a DOUBLE row conversion on every downstream read: `ck.rdd`
  * deserializes InternalRow → external Row, and `createDataFrame` wraps a
  * converter back Row → InternalRow, so every reference to the rebased
  * relation (three per round) re-ran both conversions over the edge
  * relation. This shim lives in `org.apache.spark.sql` so it can hand the
  * checkpoint's InternalRow RDD (`queryExecution.toRdd` — the cached
  * blocks themselves, no recompute for a checkpointed plan) straight back
  * to `internalCreateDataFrame`: fresh lineage, zero per-row conversion.
  *
  * [[rebalance]] — the plan node behind `ParquetSink.writeSizeControlled`.
  *
  * [[release]] — frees an iterative operator's superseded local
  * checkpoints without the WARN `RDD.unpersist` logs for each one.
  */
object DataFrameUtils {
  def rebase(df: DataFrame): DataFrame = rebase(df, df.sparkSession)

  /** [[rebase]] onto `session`: the fresh relation belongs to `session`,
    * so what is planned over it follows `session`'s conf. A streaming
    * `foreachBatch` uses it to plan its write outside the stream's own
    * session, which runs a stateful query with AQE switched off.
    */
  def rebase(df: DataFrame, session: SparkSession): DataFrame = {
    val classic = df.asInstanceOf[ClassicDataFrame]
    session.asInstanceOf[ClassicSparkSession].internalCreateDataFrame(
      classic.queryExecution.toRdd, classic.schema)
  }

  /** `df` behind a `RebalancePartitions` with no partition expressions and
    * `advisoryBytes` as its per-node advisory partition size: the planned
    * round-robin exchange (`REBALANCE_PARTITIONS_BY_NONE`) is coalesced
    * and split by AQE toward `advisoryBytes` from the shuffle's own map
    * output sizes, so the partition count comes from the bytes the query
    * actually produced, in the same execution. The public API only exposes
    * the node through the `REBALANCE` hint, which takes no advisory size.
    */
  def rebalance(df: DataFrame, advisoryBytes: Long): DataFrame = {
    val classic = df.asInstanceOf[ClassicDataFrame]
    Dataset.ofRows(classic.sparkSession, RebalancePartitions(Nil,
      classic.queryExecution.logical, None, Some(advisoryBytes)))
  }

  /** Drops the cached blocks of `rdds` without blocking. An iterative
    * operator calls it on the local checkpoints it has superseded (their
    * lineage is truncated on purpose, and nothing reads them again).
    * `RDD.unpersist` logs "RDD N was locally checkpointed, its lineage has
    * been truncated…" at WARN for every such RDD and then calls
    * `SparkContext.unpersistRDD`, which is `private[spark]`; this calls
    * it directly, so the caller's log shows no warning for a release that
    * is intended. The RDD objects keep their storage level, which no
    * caller reads after the release. If `unpersistRDD` changes, revert to
    * `rdds.foreach(_.unpersist(false))`.
    */
  def release(rdds: Seq[RDD[_]]): Unit =
    rdds.foreach(r => r.context.unpersistRDD(r.id, blocking = false))
}
