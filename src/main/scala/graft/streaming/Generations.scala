package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** The generation lifecycle of one append ledger at `anchor`: the
  * protocol both persisted indexes (the dedup index's `appends`, the ANN
  * index's `codes_appends` and `tombstones`) run on top of
  * [[ExactlyOnce]]'s one-object ledger. Each step is written once here;
  * an index keeps only its table set and the fold that stages them.
  *
  * On disk (unchanged from the hand-driven protocol): generation dirs
  * `<anchor>__b<id>`, the ledger `<anchor>__stream_commits` holding the
  * newest committed id, and inside a generation the `_COMPACTION` marker
  * and the `_STREAM_BATCH` watermarks.
  *
  * Crash windows of a write ([[append]], [[compact]]):
  *  - before the PUT — the staged generation's id is above the ledger,
  *    invisible to readers; the next write clears and re-stages it, so a
  *    stray compaction marker of an abandoned fold can never publish a
  *    plain append as a base-subsuming compaction;
  *  - a torn PUT — readers resolve to the highest staged generation
  *    (the stage completes before the PUT begins), and the next write
  *    repairs the ledger durably before taking its id.
  * The watermarks and the compaction marker are part of the stage, so a
  * committed generation's tag file is always complete.
  *
  * Single-maintainer contract: one appender/compactor/vacuum per ledger
  * at a time. */
final class Generations(fs: FileSystem, anchor: HPath) {
  import ExactlyOnce._

  /** Committed generations as (id, dir), in id order. */
  def committed: Seq[(Long, HPath)] = committedBatches(fs, anchor)

  /** Committed history — (generation id, is-compaction, stream
    * watermarks) in id order: the snapshot catalog behind `asOfGen` time
    * travel and the CLI's `index-history`. */
  def history: Seq[(Long, Boolean, Map[String, Long])] =
    committed.map { case (id, p) => (id, isCompaction(fs, p), readStreamTags(fs, p)) }

  /** The committed generations a reader resolves, split at the newest
    * compaction: (that fold if any, the generations after it). */
  def resolve(asOfGen: Option[Long] = None): (Option[HPath], Seq[HPath]) =
    resolveGenerations(fs, anchor, asOfGen)

  /** Stream replay guard: has `lineage` already admitted batch `g` or a
    * later one? Reads the watermarks of every resolved generation,
    * including the ones a compaction carried forward. */
  def admitted(lineage: String, g: Long): Boolean = {
    val (cbase, tail) = resolve()
    (cbase.toSeq ++ tail).exists(d => readStreamTags(fs, d).get(lineage).exists(_ >= g))
  }

  /** The snapshot a reader loads: (compaction fold if any, generations
    * after it). With no fold the caller reads its own base tables
    * `baseDirs` under the returned tail.
    *
    * `asOfGen` (inclusive) is generation time travel; a horizon whose
    * pre-compaction base was vacuumed fails loudly instead of partially
    * resolving. `beforeBatch` (exclusive, scoped by `lineage`) drops the
    * generations that admitted stream batch ≥ `beforeBatch`; untagged
    * generations always resolve. It fails loudly when a compaction
    * already folded such a batch — that state cannot be rebuilt.
    * `what` names the index in those errors. */
  def snapshot(what: String, baseDirs: Seq[HPath],
      asOfGen: Option[Long] = None, beforeBatch: Option[Long] = None,
      lineage: String = "default"): (Option[HPath], Seq[HPath]) = {
    val (cbase, tail) = resolve(asOfGen)
    if (cbase.isEmpty && asOfGen.isDefined && !baseDirs.forall(fs.exists))
      sys.error(s"$what has no readable snapshot at generation " +
        s"${asOfGen.get}: the pre-compaction base was vacuumed — the " +
        "earliest readable snapshot is the oldest retained compaction " +
        "generation")
    beforeBatch match {
      case None => (cbase, tail)
      case Some(b) =>
        for (c <- cbase; w <- readStreamTags(fs, c).get(lineage))
          if (w >= b) sys.error(
            s"$what was compacted past stream batch $b of lineage " +
              s"'$lineage' (folded watermark $w) — the stream's checkpoint " +
              "predates the fold, so the pre-batch index state cannot be " +
              "reconstructed; restart the stream on a fresh checkpoint + " +
              "sink, or compact only after the stream's last batch is " +
              "checkpoint-committed")
        (cbase, tail.filter(d => readStreamTags(fs, d).get(lineage).forall(_ < b)))
    }
  }

  /** Commit one plain generation: take the next id (repairing a torn
    * ledger), clear its stage dir, `stage` the tables into it, write the
    * stream watermarks `tags`, then the one ledger PUT. */
  def append(tags: Map[String, Long] = Map.empty)(stage: HPath => Unit): Unit =
    commit(tags, compaction = false)(stage)

  /** Commit one compaction generation that folds every resolved
    * generation (and the caller's base tables) into itself. The folded
    * stream watermarks carry forward, max-merged per lineage with
    * `extraTags`, so replay detection survives the fold; the marker makes
    * readers take the generation as the new base. */
  def compact(extraTags: Map[String, Long] = Map.empty)(stage: HPath => Unit): Unit = {
    val (cbase, tail) = resolve()
    val carried = ((cbase.toSeq ++ tail).flatMap(readStreamTags(fs, _).toSeq) ++ extraTags)
      .groupMapReduce(_._1)(_._2)(_ max _)
    commit(carried, compaction = true)(stage)
  }

  private def commit(tags: Map[String, Long], compaction: Boolean)(
      stage: HPath => Unit): Unit = {
    val id = nextAppendId(fs, anchor)
    val gen = clearStage(fs, anchor, id)
    stage(gen)
    if (tags.nonEmpty) writeStreamTags(fs, gen, tags)
    if (compaction) markCompaction(fs, gen)
    record.write(fs, anchor, id) // the commit: one ledger PUT
  }

  /** Reclaim what the newest committed compaction subsumes: every
    * earlier generation and the caller's base tables `baseDirs`. `folds`
    * names side ledgers that the compaction folded, each under the
    * reserved lineage whose watermark [[compact]]'s `extraTags` recorded:
    * their generations up to that mark are spent too. Garbage-only —
    * readers resolve through the ledger — so losing this to a crash
    * leaves garbage, never wrong results. Do NOT run while a reader holds
    * a pre-compaction snapshot. Returns the number of dirs removed; 0
    * when no compaction has committed. */
  def vacuum(baseDirs: Seq[HPath],
      folds: Seq[(String, Generations)] = Nil): Int = resolve()._1 match {
    case None => 0
    case Some(cgen) =>
      lazy val marks = readStreamTags(fs, cgen)
      val dead = committed.map(_._2).takeWhile(_ != cgen) ++
        baseDirs.filter(fs.exists) ++
        folds.flatMap { case (lineage, side) =>
          marks.get(lineage).toSeq.flatMap(h =>
            side.committed.filter(_._1 <= h).map(_._2))
        }
      dead.foreach(fs.delete(_, true))
      dead.size
  }
}

object Generations {
  def apply(spark: org.apache.spark.sql.SparkSession, anchor: HPath): Generations =
    new Generations(anchor.getFileSystem(spark.sparkContext.hadoopConfiguration), anchor)
}
