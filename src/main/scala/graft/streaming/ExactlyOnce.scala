package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.etl.PointerRecord
import graft.etl.PointerRecord.{TornRecordException, readObject, writeObject}

/** Exactly-once streaming parquet sink for filesystems WITHOUT atomic
  * rename (object stores) — the streaming counterpart of
  * [[graft.etl.ManifestCommit]].
  *
  * Why `foreachBatch` + a plain append is NOT exactly-once: Spark
  * replays the last in-flight micro-batch after a crash (the batch
  * whose offsets were checkpointed but whose commit was not), and an
  * append-mode write run twice doubles those rows. Spark's built-in
  * file sink solves this with its `_spark_metadata` log; the warehouse
  * drain here needs the same property under the repo's own manifest
  * idiom: the ledger is a [[graft.etl.PointerRecord]], the same
  * one-object record, torn-record check and writer-side repair as the
  * table manifest of batch compaction ([[graft.etl.ManifestCommit]]).
  *
  * Layout: each micro-batch writes its rows to an OWN generation dir
  * (`table__b<id>`, a reserved sibling name like the compactor's
  * `__vNNNNN`), then commits by overwriting a one-object ledger
  * (`table__stream_commits`) holding the highest committed batch id —
  * a single PUT, atomic on a real object store. Readers resolve the
  * committed prefix only: batch dirs with id ≤ the ledger value.
  * Micro-batch ids are assigned monotonically by the streaming engine,
  * so one id is enough — empty batches advance the ledger without
  * writing a dir, and gaps read correctly. A third reserved sibling,
  * `table__schema.json`, records the stream's schema at first commit so
  * an all-empty-batches sink still reads as a TYPED empty table.
  *
  * Crash windows (all proven in StreamingSyncSpec):
  *  - crash mid-data-write: the partial dir's id is above the ledger —
  *    invisible to readers; replay overwrites the dir, then commits;
  *  - crash mid-ledger-PUT on a non-atomic filesystem: the ledger is
  *    torn; the replayed batch repairs it —
  *    everything below the replayed id was checkpoint-committed, hence
  *    ledger-committed first (the ledger PUT precedes Spark's offset
  *    commit), so rewriting the in-flight dir and re-committing its id
  *    restores the invariant;
  *  - crash after the ledger PUT but before Spark's checkpoint commit:
  *    the replayed id is ≤ the ledger value — the write is SKIPPED,
  *    the exactly-once case an append sink gets wrong.
  *
  * Contract: ONE logical stream (one checkpoint lineage) per sink base
  * dir — same single-writer rule as Spark's file-sink metadata log and
  * the compactor's single-maintainer rule. A fresh checkpoint restarts
  * batch ids at 0, which the ledger would read as replays; new
  * checkpoint ⇒ new sink dir. Small-files posture at 100 TB: one dir
  * per micro-batch is the same file-count profile as the built-in file
  * sink; compose [[readCommitted]] with the batch loader + compactor
  * for periodic rewrite, as with any streaming file sink.
  */
object ExactlyOnce {

  /** A torn ledger ([[graft.etl.PointerRecord.TornRecordException]], a
    * torn commit PUT) reports this guidance; the replayed micro-batch
    * repairs it (see class doc). */
  private[graft] val record = new PointerRecord('b', "stream_commits",
    width = 9, first = 0, "Batch dirs are intact; restarting the stream on its " +
      "checkpoint replays the in-flight batch and re-commits the ledger.")

  private[graft] def ledgerPath(base: HPath): HPath = record.path(base)

  private[graft] def batchDir(base: HPath, id: Long): HPath = record.dir(base, id)

  /** Highest committed batch id, if any batch has committed. Throws
    * on a truncated/unparsable ledger. */
  def lastCommitted(fs: FileSystem, base: HPath): Option[Long] = record.current(fs, base)

  private def schemaPath(base: HPath): HPath =
    new HPath(base.getParent, s"${base.getName}__schema.json")

  /** Persist the sink's schema once (first commit, empty or not), so
    * [[readCommitted]] can return a TYPED empty frame when only empty
    * batches have committed — previously it returned `emptyDataFrame`
    * (no columns) and every downstream column reference failed to
    * resolve (ADVICE r10). Write-if-absent: the schema of one logical
    * stream is stable; a lost write self-heals on the next batch. */
  private def persistSchema(fs: FileSystem, base: HPath,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val sp = schemaPath(base)
    if (!fs.exists(sp)) writeObject(fs, sp, schema.json)
  }

  /** Committed generation dirs under `anchor` in id order, for batch
    * APPEND protocols built on this ledger (dedup index, ANN codes): a
    * torn ledger resolves READ-SIDE to the highest staged generation —
    * under the single-appender contract the stage completes before the
    * PUT begins, so a torn ledger implies its generation is intact —
    * without writing (the next append repairs it durably via
    * [[nextAppendId]]). */
  private[graft] def committedDirs(fs: FileSystem, anchor: HPath): Seq[HPath] =
    committedBatches(fs, anchor).map(_._2)

  /** [[committedDirs]] with the batch ids attached. */
  private[graft] def committedBatches(fs: FileSystem, anchor: HPath): Seq[(Long, HPath)] = {
    val lastOpt =
      try lastCommitted(fs, anchor)
      catch {
        case torn: TornRecordException =>
          System.err.println(s"[append-ledger] ${torn.getMessage}")
          record.dirs(fs, anchor).map(_._1).maxOption
      }
    lastOpt match {
      case Some(last) => record.dirs(fs, anchor)
        .filter(_._1 <= last).sortBy(_._1)
      case None => Seq.empty
    }
  }

  /** Marker object inside a generation dir flagging it as a COMPACTION
    * generation: one that FOLDS the base tables and every earlier
    * generation into itself, so readers resolve it as the new base and
    * ignore everything before it ([[resolveGenerations]]). The `_`
    * prefix keeps it invisible to parquet file listings, so a marker
    * can live inside a generation dir that is itself a parquet root.
    * Committed via the same single ledger PUT as a plain append — the
    * atomic promote the caller-owned directory swap never had. */
  private val CompactionMarkerName = "_COMPACTION"

  private def compactionMarker(gen: HPath): HPath = new HPath(gen, CompactionMarkerName)

  private[graft] def markCompaction(fs: FileSystem, gen: HPath): Unit =
    writeObject(fs, compactionMarker(gen), "compaction\n")

  private[graft] def isCompaction(fs: FileSystem, gen: HPath): Boolean =
    fs.exists(compactionMarker(gen))

  /** The stage target for generation `id`, CLEARED of any crash-partial
    * leftover first. Clearing matters beyond tidiness: an abandoned
    * compaction stage (crash before its ledger PUT) leaves a
    * [[CompactionMarkerName]] marker in the dir, and a plain append
    * re-staging the same id with per-table overwrites would leave that
    * stray marker in place — publishing an ordinary append as a
    * base-subsuming compaction, which silently drops the real base. */
  private[graft] def clearStage(fs: FileSystem, anchor: HPath, id: Long): HPath = {
    val gen = batchDir(anchor, id)
    fs.delete(gen, true)
    gen
  }

  /** [[committedDirs]] split at the newest committed COMPACTION
    * generation: (that generation if any, the generations after it).
    * A compaction generation folds the base and everything before it
    * (single-appender contract: nothing commits between the fold's
    * snapshot and its PUT), so readers take it as the base and append
    * only the tail. `asOf` restricts to generations with id ≤ `asOf` —
    * the snapshot a reader saw at that point of the append history
    * (time travel; `Some(-1)` is the base tables only). A compaction
    * within the horizon still folds everything before it, exactly as it
    * did when it committed. Stream-batch time travel and the
    * vacuumed-horizon check are layered on top by
    * [[Generations.snapshot]] — generation ids are internal and carry no
    * stream meaning. */
  private[graft] def resolveGenerations(fs: FileSystem, anchor: HPath,
      asOf: Option[Long] = None): (Option[HPath], Seq[HPath]) = {
    val dirs = committedBatches(fs, anchor)
      .filter { case (id, _) => asOf.forall(id <= _) }.map(_._2)
    val iC = dirs.lastIndexWhere(isCompaction(fs, _))
    if (iC < 0) (None, dirs) else (Some(dirs(iC)), dirs.drop(iC + 1))
  }

  /** Marker object inside a generation dir carrying STREAM-BATCH
    * watermarks: which micro-batch of which stream lineage this
    * generation (or, for a compaction, the generations it folded)
    * admitted. This decouples stream batch ids from the generation-id
    * sequence — generation ids are internal ([[nextAppendId]]), so
    * manual appends, compactions, and stream batches share one index
    * without id collisions; replay detection reads the watermarks
    * instead. A lineage key (the caller's sink path, typically) scopes
    * the watermark: distinct streams don't shadow each other. Format:
    * one line per lineage, `b<id> <lineage>\n` — same begin/end marker
    * discipline as the ledger. The `_` prefix keeps the file invisible
    * to parquet readers, so it can live inside a generation dir that is
    * itself a parquet root. Written during the stage (before the
    * ledger PUT), so a committed generation's tag file is always
    * complete — a torn tag implies an uncommitted generation, which is
    * invisible anyway. */
  private val StreamTagName = "_STREAM_BATCH"

  private[graft] def streamTagPath(gen: HPath): HPath = new HPath(gen, StreamTagName)

  private[graft] def writeStreamTags(fs: FileSystem, gen: HPath,
      tags: Map[String, Long]): Unit = {
    require(tags.keys.forall(l => l.nonEmpty && !l.contains('\n')),
      "stream lineage keys must be non-empty and newline-free")
    val body = tags.toSeq.sortBy(_._1)
      .map { case (lineage, id) => s"b$id $lineage\n" }.mkString
    writeObject(fs, streamTagPath(gen), body)
  }

  /** Watermarks of a committed generation (empty map when untagged —
    * a manual append or a pre-watermark compaction). Committed tags are
    * complete by construction (see [[StreamTagName]]); a malformed line
    * here means out-of-band interference and fails loudly rather than
    * silently re-admitting a replayed batch. */
  private[graft] def readStreamTags(fs: FileSystem, gen: HPath): Map[String, Long] = {
    val p = streamTagPath(gen)
    readObject(fs, p).fold(Map.empty[String, Long]) { raw =>
      // an EXISTING but empty/garbled tag file is interference, and the
      // failure direction matters: an ignored tag replays an admitted
      // batch as fresh (silent double-admit), so err loud
      if (raw.isEmpty || !raw.endsWith("\n"))
        sys.error(s"stream tag $p is empty or truncated — out-of-band " +
          "interference; restore or remove the tag file")
      raw.split("\n", -1).filter(_.nonEmpty).map { line =>
        val sp = line.indexOf(' ')
        val ok = line.startsWith("b") && sp > 1 &&
          line.substring(1, sp).forall(_.isDigit) && sp + 1 < line.length
        if (!ok)
          sys.error(s"stream tag $p is malformed ('${line.take(40)}') — " +
            "out-of-band interference; restore or remove the tag file")
        (line.substring(sp + 1), line.substring(1, sp).toLong)
      }.toMap
    }
  }

  /** The id the next append generation should stage under `anchor`,
    * repairing a torn ledger DURABLY first (re-commit the highest
    * staged generation, or discard an orphan torn ledger). Write-side
    * counterpart of [[committedDirs]]; single-appender contract. */
  private[graft] def nextAppendId(fs: FileSystem, anchor: HPath): Long = {
    val last =
      try lastCommitted(fs, anchor)
      catch {
        case torn: TornRecordException =>
          System.err.println(s"[append-ledger] ${torn.getMessage}")
          record.recommitHighest(fs, anchor, "append-ledger")
      }
    last.map(_ + 1).getOrElse(0L)
  }

  /** Idempotent per-micro-batch write: the body `foreachBatch` should
    * run. Returns true when the batch was written, false when it was a
    * replay of an already-committed id (skipped — the exactly-once
    * case). A torn ledger is repaired here by construction: the
    * replayed batch rewrites its own dir and re-commits its id.
    * The emptiness probe and the write each execute `batch`'s plan, so
    * a caller with a stateful or expensive upstream passes a persisted
    * frame (as [[graft.ext.CorpusPipeline.ingestBatch]] does). */
  def commitBatch(batch: DataFrame, baseDir: String, batchId: Long): Boolean = {
    val base = new HPath(baseDir)
    val fs = base.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    val last =
      try lastCommitted(fs, base)
      catch {
        case torn: TornRecordException =>
          // replaying batch N ⇒ every id < N was ledger-committed before
          // Spark checkpointed it; the torn PUT was for N itself (or a
          // re-PUT of an older id, equally subsumed). Repair by falling
          // through to rewrite-and-commit.
          System.err.println(s"[stream] ${torn.getMessage}")
          System.err.println(s"[stream] repairing ledger by re-committing batch $batchId")
          Some(batchId - 1).filter(_ >= 0)
      }
    if (last.exists(_ >= batchId)) false
    else {
      persistSchema(fs, base, batch.schema)
      if (!batch.isEmpty)
        batch.write.mode("overwrite").parquet(batchDir(base, batchId).toString)
      record.write(fs, base, batchId) // the commit: one ledger PUT
      true
    }
  }

  /** The committed table: a parquet read over exactly the batch dirs
    * the ledger covers. Uncommitted (in-flight or crash-partial) dirs
    * are invisible. Errors clearly when nothing has committed. When the
    * ledger covers ONLY empty batches (no data dirs), returns a typed
    * empty frame from the persisted schema sidecar — column references
    * resolve exactly as they would with data. */
  def readCommitted(spark: SparkSession, baseDir: String): DataFrame = {
    val base = new HPath(baseDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val last = lastCommitted(fs, base).getOrElse(
      sys.error(s"stream sink $baseDir has no committed batches " +
        s"(no ledger at ${ledgerPath(base)})"))
    val dirs = record.dirs(fs, base)
      .filter(_._1 <= last).map(_._2.toString).sorted
    if (dirs.nonEmpty) spark.read.parquet(dirs: _*)
    else {
      val sp = schemaPath(base)
      val raw = readObject(fs, sp).getOrElse(
        sys.error(s"stream sink $baseDir committed only empty batches and " +
          s"has no schema sidecar at $sp (pre-schema-sidecar sink?) — " +
          "no schema to type the empty result with"))
      val schema = org.apache.spark.sql.types.DataType.fromJson(raw)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
    }
  }

  /** Streaming writer whose every micro-batch lands exactly once in
    * `baseDir`, regardless of crash/replay. Compose with
    * [[StreamingSync.availableNow]] for the cron-equivalent drain. */
  def parquetSink(raw: DataFrame, baseDir: String): DataStreamWriter[Row] = {
    StateBackend.configure(raw.sparkSession) // idempotent; see readCurStream
    raw.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatch(batch, baseDir, batchId)
        ()
      }
  }
}
