package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.{Tables, TableSpec}
import graft.pivot.SubjectPivot
import graft.sink.Upsert

/** Continuous-sync upgrade path (SURVEY.md §1.3, §2.10).
  *
  * The reference's "stream" is a single-pass bounded Node pipeline over
  * a downloaded file (2_database_load.ts:129-138), so batch DataFrames
  * are the faithful default — but the idiomatic Spark upgrade for a
  * continuously-updated source graph is Structured Streaming:
  * `readStream` over the quad feed, and `foreachBatch` applying exactly
  * the batch engine (pivot → key-clear/PK merge in FK topo order) to
  * every micro-batch. The checkpoint gives exactly-once batch tracking —
  * the role the reference's run-level concurrency guard + SINCE
  * parameter play operationally (main_flow.py:31-52).
  *
  * Backpressure, the hand-rolled pause()/resume() of the reference
  * (2_database_load.ts:83,122), is native: `maxFilesPerTrigger` bounds
  * each micro-batch.
  */
object StreamingSync {

  /** Start a continuous sync from a streaming quad DataFrame. Each
    * micro-batch is one incremental run: pivot the batch's quads and
    * merge per table under the incremental strategy. */
  def start(quadStream: DataFrame, specs: Seq[TableSpec], targetDir: String,
            checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow(),
            numBuckets: Int = 64): StreamingQuery =
    quadStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val cached = batch.persist() // one scan shared by all table pivots
        try {
          val staged = SubjectPivot.pivotAll(cached, specs)
          Tables.topoOrder(specs).foreach { spec =>
            Upsert.mergeAndWrite(spark, s"$targetDir/${sanitize(spec.name)}",
              staged(spec.name), spec, fullSync = false, numBuckets)
          }
        } finally cached.unpersist()
      }
      .start()

  /** Single-table continuous sync: each micro-batch of already-staged
    * rows is one incremental merge into the bucket-partitioned parquet
    * target ([[Upsert.mergeAndWrite]]) — the streaming form of the
    * reference's incremental run (2_database_load.ts:186-223), with the
    * checkpoint supplying exactly-once batch tracking. Because each
    * merge is per-key last-writer-wins, N sequential micro-batch merges
    * end in the same state as ONE merge of the union's latest versions
    * — the closed form the `q_stream_sync` oracle states. */
  def syncTable(rows: DataFrame, targetPath: String, checkpointDir: String,
                spec: TableSpec, numBuckets: Int = 64,
                trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val cached = batch.persist() // read twice: touched-bucket scan + merge
        try Upsert.mergeAndWrite(batch.sparkSession, targetPath, cached, spec,
          fullSync = false, numBuckets)
        finally cached.unpersist()
      }
      .start()

  /** Directory-feed variant: new quad-parquet files appearing under
    * `sourceDir` stream in, at most 16 files per micro-batch. */
  def fromParquetDir(spark: org.apache.spark.sql.SparkSession,
                     sourceDir: String): DataFrame =
    spark.readStream
      .schema(graft.source.QuadSource.schema)
      .option("maxFilesPerTrigger", 16)
      .parquet(sourceDir)

  private def sanitize(table: String): String = table.replace('.', '_')
}
