package graft.streaming

import graft.etl.{Loader, Normalize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Structured Streaming track — the reference names streaming as an
  * explicit TODO (reference CLAUDE.md:133 "stream results instead of
  * loading everything into memory"); its cron-batch loop
  * (entrypoint.sh:7-9) re-scans a growing prefix daily. This module is
  * the idiomatic Spark upgrade: the SAME normalize/load semantics,
  * driven incrementally.
  *
  * Scale posture:
  *  - file-source `readStream` discovers new CUR files per micro-batch —
  *    each file is processed exactly once (checkpointed), instead of the
  *    reference's monthly full re-extract;
  *  - event-time watermarks bound all state; every stateful op below
  *    carries one — nothing accumulates unboundedly on a 1000-executor
  *    cluster;
  *  - `foreachBatch` reuses the batch [[Loader]] (append mode), so the
  *    serving contract is identical for batch and streaming ingestion;
  *    each micro-batch executes once (persisted, then its raw and
  *    normalized appends overlap — see [[incrementalSync]]);
  *  - `Trigger.AvailableNow` gives the cron semantics (drain everything
  *    new, then stop) with streaming exactly-once bookkeeping.
  */
object StreamingSync {

  /** Streaming variant of the CUR source: new parquet files under
    * `root` (schema pinned from a batch probe — required by file
    * streams; pass a saved schema at 100 TB to avoid the probe).
    * Entering the streaming pipeline puts the session's state on the
    * RocksDB backend ([[StateBackend.configure]], idempotent): every
    * stateful op downstream of this source (dedup, windows, joins)
    * gets disk-bounded state instead of the on-heap default. */
  def readCurStream(spark: SparkSession, root: String, schema: Option[StructType] = None): DataFrame = {
    StateBackend.configure(spark)
    val sch = schema.getOrElse(spark.read.parquet(root).schema)
    spark.readStream.schema(sch).option("maxFilesPerTrigger", 16).parquet(root)
  }

  /** Exactly-once-per-event dedup bounded by a watermark: duplicates
    * arriving within `withinWatermark` of the first sighting are
    * dropped; state for older keys is reclaimed. */
  def dedupedEvents(events: DataFrame, tsCol: String, idCols: Seq[String],
      withinWatermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, withinWatermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Session-window activity per account: gaps > `gap` close a session
    * (usage burst detection — no batch equivalent in the reference). */
  def accountSessions(events: DataFrame, tsCol: String, keyCol: String,
      gap: String = "30 minutes", watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(keyCol), col("n_events"))

  /** Incremental sync: normalize each micro-batch with the batch
    * transform and append through the batch loader — one code path for
    * both ingestion modes. Returns the writer (caller starts it with
    * its checkpoint dir).
    *
    * One execution per micro-batch: the batch is persisted
    * (`MEMORY_AND_DISK`) before any action, so its scan, shuffle and
    * stateful operators (a [[dedupedEvents]] RocksDB store) run once,
    * not once per action. The `raw_<table>` and `<table>_normalized`
    * appends both read that copy and run concurrently
    * ([[graft.ext.ConcurrentActions.inParallel]]), so their job launch
    * and commit costs overlap. An empty batch (the drain's trailing
    * no-data batch, a restart with nothing new) writes nothing: each
    * [[Loader.load]] short-circuits empty input itself. Delivery stays
    * at-least-once: a replayed batch appends the same rows again, and
    * a failing append fails the query only after the other append has
    * run to completion. */
  def incrementalSync(
      raw: DataFrame,
      loader: Loader,
      table: String,
      syncTs: java.sql.Timestamp): DataStreamWriter[org.apache.spark.sql.Row] = {
    StateBackend.configure(raw.sparkSession) // idempotent; see readCurStream
    raw.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist(StorageLevel.MEMORY_AND_DISK)
        try graft.ext.ConcurrentActions.inParallel(
          () => { loader.load(b, s"raw_$table", ifExists = "append"); () },
          () => {
            loader.load(Normalize.normalize(b, Normalize.awsCur, table, lit(syncTs)),
              s"${table}_normalized", ifExists = "append")
            ()
          })
        finally { b.unpersist(blocking = false); () }
      }
  }

  /** Cron-equivalent one-shot drain: process everything new, then stop. */
  def availableNow[T](w: DataStreamWriter[T], checkpoint: String): DataStreamWriter[T] =
    w.trigger(Trigger.AvailableNow()).option("checkpointLocation", checkpoint)
}
