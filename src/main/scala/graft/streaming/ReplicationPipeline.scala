package graft.streaming

import org.apache.spark.sql.{Dataset, SaveMode}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.ParquetSink
import graft.streaming.EventPipelines.{Event, LatestOut}

/** The reference's continuous replication loop, Spark-native: a change
  * stream folds into per-key state (mapGroupsWithState upserts) and every
  * micro-batch lands as a size-controlled parquet delta — the
  * discover→replicate cycle of glue/sbin/keyspaces/CQLReplicator.scala
  * (ledger tick + per-tile write) re-expressed as one Structured
  * Streaming query with checkpointed exactly-once state.
  */
object ReplicationPipeline {

  /** Starts the upsert-replication stream. Each micro-batch directory
    * `batch_<epoch>` holds that batch's upserted rows, written by
    * `ParquetSink.writeSizeControlled` in the session of `events`: AQE
    * sizes the files from the batch's shuffle bytes, so a batch below
    * `targetFileBytes` lands as one file. The checkpoint makes restarts
    * resume, not replay.
    */
  def start(events: Dataset[Event], outDir: String, checkpointDir: String,
            targetFileBytes: Long = 128L << 20): StreamingQuery = {
    val session = events.sparkSession
    EventPipelines.latestPerKeyStream(events)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[LatestOut], epochId: Long) =>
        if (!batch.isEmpty) {
          // Spark runs a stateful stream's batches with AQE off, and AQE is
          // what sizes the files: plan the write in the caller's session
          ParquetSink.writeSizeControlled(
            org.apache.spark.sql.graft.DataFrameUtils.rebase(batch.toDF(), session),
            s"$outDir/batch_$epochId", targetFileBytes, SaveMode.Overwrite)
        }
      }
      .start()
  }
}
