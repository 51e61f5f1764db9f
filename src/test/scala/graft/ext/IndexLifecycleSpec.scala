package graft.ext

import graft.SparkSpec
import graft.streaming.ExactlyOnce
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash windows of the IN-PLACE index compaction (ledger-promoted
  * compaction generations) for both persisted indexes, plus the
  * batch-keyed idempotent append that streaming ingest (e54) rides on.
  * The contract under test: promotion is ONE atomic ledger PUT — a
  * crash anywhere between compact-finish and promote leaves the old
  * index serving byte-for-byte, re-entry completes the fold, and no
  * crash-partial state can ever be mistaken for a committed one. */
class IndexLifecycleSpec extends SparkSpec {

  private def fsOf(p: HPath) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  // small corpus with enough words to shingle at width 3
  private def doc(i: Long, salt: String = ""): (Long, String) =
    (i, s"distinct corpus prose number $i about topic ${i * 7} $salt with " +
      "enough words to shingle meaningfully at width three")

  private def mkDedup(tag: String): (String, HPath) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"graft_ilc_$tag").toString
    val corpus = (0L until 4L).map(doc(_)).toDF("doc_id", "text")
    Dedup.buildDedupIndex(corpus, "doc_id", "text", dir, maxBucket = 7)
    Dedup.appendToDedupIndex(
      (10L until 12L).map(doc(_, "appended-one")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    Dedup.appendToDedupIndex(
      (12L until 14L).map(doc(_, "appended-two")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    (dir, new HPath(s"$dir/appends"))
  }

  /** One persisted index as the crash-window tests drive it. Both
    * indexes run on the same generation protocol
    * ([[graft.streaming.Generations]]), so those tests walk each kind:
    * `served` is the resolved rows (a sorted multiset, so a duplicate
    * shows), `appendOne` grows them by one row,
    * `stagePartial` leaves crash-partial table data in a stage dir. */
  private case class Ix(kind: String, anchor: HPath, served: () => Seq[String],
      compact: () => Unit, appendOne: () => Unit, stagePartial: HPath => Unit)

  private def dedupIx(tag: String): Ix = {
    import spark.implicits._
    val (dir, anchor) = mkDedup(tag)
    Ix("dedup", anchor, () => sortedRows(Dedup.loadDedupIndex(spark, dir).fingerprints),
      () => Dedup.compactDedupIndex(spark, dir),
      () => Dedup.appendToDedupIndex(
        Seq(doc(20L, s"after-$tag")).toDF("doc_id", "text"), "doc_id", "text", dir),
      staged => Seq((99L, "fp")).toDF("doc", "fp")
        .write.mode("overwrite").parquet(s"$staged/fingerprints"))
  }

  private def annIx(tag: String): Ix = {
    import spark.implicits._
    val embs = graft.Tables.embeddings(spark, sf001)
    val dir = java.nio.file.Files.createTempDirectory(s"graft_ilc_ann_$tag").toString
    Similarity.buildIndex(embs.filter(col("vec_id") < 400), dir,
      nlist = 16, m = 8, ksub = 16, pqIters = 1)
    Similarity.appendToIndex(
      embs.filter(col("vec_id") >= 400 && col("vec_id") < 450), dir)
    Similarity.appendToIndex(
      embs.filter(col("vec_id") >= 450 && col("vec_id") < 480), dir)
    Ix("ann", new HPath(s"$dir/codes_appends"),
      () => sortedRows(Similarity.loadIndex(spark, dir).codes.select("vec_id")),
      () => Similarity.compactIndex(spark, dir),
      () => Similarity.appendToIndex(embs.filter(col("vec_id") === 480L), dir),
      staged => Seq(99999L).toDF("vec_id")
        .write.mode("overwrite").parquet(s"$staged/cid=0"))
  }

  test("in-place dedup compaction: crash before the PUT is invisible, re-entry completes") {
    val (dir, anchor) = mkDedup("crash")
    val fs = fsOf(anchor)
    val pre = Dedup.loadDedupIndex(spark, dir)
    val preFp = rows(pre.fingerprints)
    val preBands = rows(pre.bandKeys)
    assert(preFp.size == 8)

    // full compaction, then REWIND the ledger to the pre-compact value:
    // byte-identical to a crash after the stage completed (tables +
    // marker written) but before the promote PUT
    Dedup.compactDedupIndex(spark, dir)
    assert(ExactlyOnce.lastCommitted(fs, anchor).contains(2L))
    ExactlyOnce.record.write(fs, anchor, 1L)

    val during = Dedup.loadDedupIndex(spark, dir)
    assert(rows(during.fingerprints) == preFp,
      "staged-but-unpromoted compaction must be invisible")
    assert(rows(during.bandKeys) == preBands)

    // re-entry: clears the stage, re-folds, promotes atomically
    Dedup.compactDedupIndex(spark, dir)
    assert(ExactlyOnce.lastCommitted(fs, anchor).contains(2L))
    val post = Dedup.loadDedupIndex(spark, dir)
    assert(rows(post.fingerprints) == preFp, "the fold changes no data")
    assert(rows(post.signatures) == rows(pre.signatures))
    // and the resolved base IS the compaction generation — the original
    // base tables no longer participate in the scan
    val (cbase, tail) = ExactlyOnce.resolveGenerations(fs, anchor)
    assert(cbase.map(_.getName).contains(ExactlyOnce.batchDir(anchor, 2L).getName))
    assert(tail.isEmpty)
  }

  test("in-place dedup compaction equals a fresh build over the full corpus") {
    import spark.implicits._
    val (dir, _) = mkDedup("eq")
    Dedup.compactDedupIndex(spark, dir)
    val fresh = java.nio.file.Files.createTempDirectory("graft_ilc_fresh").toString
    val full = ((0L until 4L).map(doc(_)) ++
      (10L until 12L).map(doc(_, "appended-one")) ++
      (12L until 14L).map(doc(_, "appended-two"))).toDF("doc_id", "text")
    Dedup.buildDedupIndex(full, "doc_id", "text", fresh, maxBucket = 7)
    val a = Dedup.loadDedupIndex(spark, dir)
    val b = Dedup.loadDedupIndex(spark, fresh)
    assert(a.meta == b.meta)
    assert(rows(a.signatures) == rows(b.signatures))
    assert(rows(a.fingerprints) == rows(b.fingerprints))
    assert(rows(a.bandKeys) == rows(b.bandKeys),
      "in-place fold must re-apply the global maxBucket prune like a fresh build")
  }

  test("a stray compaction marker from an abandoned stage cannot poison a plain append") {
    for (ix <- Seq(dedupIx("stray"), annIx("stray"))) {
      val fs = fsOf(ix.anchor)
      val before = ix.served()
      // abandoned compaction stage at the next id: partial tables + the
      // marker, no PUT (crash mid-compaction)
      val staged = ExactlyOnce.batchDir(ix.anchor, 2L)
      ix.stagePartial(staged)
      ExactlyOnce.markCompaction(fs, staged)
      // the next PLAIN append reuses id 2 — the stage must be cleared, or
      // the append would publish as a base-subsuming compaction
      ix.appendOne()
      assert(!ExactlyOnce.isCompaction(fs, staged),
        s"${ix.kind}: clearStage must remove the abandoned marker")
      val after = ix.served()
      assert(after.diff(before).size == 1 && before.diff(after).isEmpty,
        s"${ix.kind}: base + both appends + the new row — nothing subsumed, nothing leaked")
    }
  }

  test("torn promote PUT: readers resolve to the intact fold; the next writer repairs") {
    for (ix <- Seq(dedupIx("torn"), annIx("torn"))) {
      val fs = fsOf(ix.anchor)
      ix.compact()
      val folded = ix.served()
      // tear the promote PUT: prefix of the record, no terminator
      val out = fs.create(ExactlyOnce.ledgerPath(ix.anchor), true)
      try out.write("b2".getBytes("UTF-8")) finally out.close()
      // read-side: single-appender contract means the stage completed
      // before any PUT began, so the torn ledger resolves to the fold
      assert(ix.served() == folded, ix.kind)
      // write-side: the next append repairs the ledger durably, then lands
      ix.appendOne()
      assert(ExactlyOnce.lastCommitted(fs, ix.anchor).contains(3L), ix.kind)
      assert(ix.served().size == folded.size + 1, ix.kind)
    }
  }

  test("dedup vacuum reclaims subsumed dirs; serving unchanged; appends continue") {
    import spark.implicits._
    val (dir, anchor) = mkDedup("vac")
    val fs = fsOf(anchor)
    // a reader holding a PRE-compaction snapshot (lazy scans pin old dirs)
    val preSnapshot = Dedup.loadDedupIndex(spark, dir)
    Dedup.compactDedupIndex(spark, dir)
    val served = rows(Dedup.loadDedupIndex(spark, dir).fingerprints)
    // pre-compaction snapshot keeps serving AFTER the promote (old dirs
    // still on disk until vacuum) — the multi-reader half of the contract
    assert(rows(preSnapshot.fingerprints) == served)
    val reclaimed = Dedup.vacuumDedupIndex(spark, dir)
    assert(reclaimed == 5, s"2 generations + 3 base tables, got $reclaimed")
    assert(!fs.exists(new HPath(s"$dir/signatures")), "base tables reclaimed")
    assert(fs.exists(new HPath(s"$dir/meta")), "meta stays — dir self-describing")
    assert(!fs.exists(ExactlyOnce.batchDir(anchor, 0L)))
    assert(rows(Dedup.loadDedupIndex(spark, dir).fingerprints) == served,
      "vacuum must not change what readers resolve")
    // vacuum again: nothing left to reclaim
    assert(Dedup.vacuumDedupIndex(spark, dir) == 0)
    // the lifecycle continues: append after vacuum, then serve
    val d40 = doc(40L, "post-vacuum")
    Dedup.appendToDedupIndex(
      Seq(d40).toDF("doc_id", "text"), "doc_id", "text", dir)
    val after = Dedup.loadDedupIndex(spark, dir)
    assert(after.fingerprints.count() == 9)
    val verdict = Dedup.incrementalDedup(
      Seq((50L, d40._2)).toDF("doc_id", "text"),
      "doc_id", "text", after).head()
    assert(verdict.getString(1) == "exact" && verdict.getLong(2) == 40L,
      s"post-vacuum append must serve: $verdict")
  }

  test("batch-keyed append: replays skip via tags, beforeBatch time-travels") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ilc_keyed").toString
    val corpus = (0L until 3L).map(doc(_)).toDF("doc_id", "text")
    Dedup.buildDedupIndex(corpus, "doc_id", "text", dir)
    val anchor = new HPath(s"$dir/appends")
    val fs = fsOf(anchor)
    val b0 = Seq(doc(100L, "batch-zero")).toDF("doc_id", "text")
    Dedup.appendToDedupIndex(b0, "doc_id", "text", dir, asStreamBatch = Some(0L))
    assert(Dedup.loadDedupIndex(spark, dir).fingerprints.count() == 4)
    // replay of batch 0 (crash after the admission, before the stream's
    // own checkpoint): must be a no-op, not a duplicate generation
    Dedup.appendToDedupIndex(b0, "doc_id", "text", dir, asStreamBatch = Some(0L))
    assert(Dedup.loadDedupIndex(spark, dir).fingerprints.count() == 4)
    assert(ExactlyOnce.lastCommitted(fs, anchor).contains(0L))
    // an admitted-nothing batch writes nothing — its replay re-derives
    // the same nothing, so no ledger state is needed to detect it
    Dedup.appendToDedupIndex(b0.filter(lit(false)), "doc_id", "text", dir,
      asStreamBatch = Some(1L))
    assert(ExactlyOnce.lastCommitted(fs, anchor).contains(0L))
    assert(ExactlyOnce.committedDirs(fs, anchor).size == 1)
    Dedup.appendToDedupIndex(
      Seq(doc(200L, "batch-two")).toDF("doc_id", "text"), "doc_id", "text", dir,
      asStreamBatch = Some(2L))
    // generation ids are internal: batch 2 landed as generation 1
    assert(ExactlyOnce.lastCommitted(fs, anchor).contains(1L))
    // time-travel: the state batch N saw excludes stream admissions >= N
    assert(Dedup.loadDedupIndex(spark, dir, beforeBatch = Some(0L))
      .fingerprints.count() == 3, "batch 0 saw the bare base")
    assert(Dedup.loadDedupIndex(spark, dir, beforeBatch = Some(2L))
      .fingerprints.count() == 4, "batch 2 saw base + batch 0's admission")
    assert(Dedup.loadDedupIndex(spark, dir).fingerprints.count() == 5)
    // torn PUT on a keyed append: the next append repairs the ledger
    // durably (nextAppendId) and the batch lands once
    val out = fs.create(ExactlyOnce.ledgerPath(anchor), true)
    try out.write("b1".getBytes("UTF-8")) finally out.close()
    Dedup.appendToDedupIndex(
      Seq(doc(300L, "batch-three")).toDF("doc_id", "text"), "doc_id", "text", dir,
      asStreamBatch = Some(3L))
    assert(ExactlyOnce.lastCommitted(fs, anchor).contains(2L))
    assert(Dedup.loadDedupIndex(spark, dir).fingerprints.count() == 6)
  }

  test("stream batches compose with manual appends and compaction (tag decoupling)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ilc_comp").toString
    Dedup.buildDedupIndex((0L until 3L).map(doc(_)).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    // a MANUAL (untagged) append BEFORE any stream: under the old
    // id-keyed design this consumed generation 0 and made stream batch 0
    // read as a replay — every admission silently dropped
    Dedup.appendToDedupIndex(
      Seq(doc(50L, "manual-pre-stream")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    Dedup.appendToDedupIndex(
      Seq(doc(100L, "stream-batch-zero")).toDF("doc_id", "text"),
      "doc_id", "text", dir, asStreamBatch = Some(0L), lineage = "sinkA")
    assert(Dedup.loadDedupIndex(spark, dir).fingerprints.count() == 5,
      "stream batch 0 must land beside a pre-existing manual generation")
    // batch 0's view includes the manual append (untagged => always in)
    assert(Dedup.loadDedupIndex(spark, dir, beforeBatch = Some(0L),
      lineage = "sinkA").fingerprints.count() == 4)
    // compaction between stream runs: folds everything, carries the
    // lineage watermark forward
    Dedup.compactDedupIndex(spark, dir)
    Dedup.vacuumDedupIndex(spark, dir)
    assert(Dedup.loadDedupIndex(spark, dir).fingerprints.count() == 5)
    // a replay of already-admitted batch 0 after the fold: still skipped
    Dedup.appendToDedupIndex(
      Seq(doc(100L, "stream-batch-zero")).toDF("doc_id", "text"),
      "doc_id", "text", dir, asStreamBatch = Some(0L), lineage = "sinkA")
    assert(Dedup.loadDedupIndex(spark, dir).fingerprints.count() == 5,
      "fold must not forget admitted watermarks")
    // the next day's batch (same lineage, next id) lands normally
    Dedup.appendToDedupIndex(
      Seq(doc(101L, "stream-batch-one")).toDF("doc_id", "text"),
      "doc_id", "text", dir, asStreamBatch = Some(1L), lineage = "sinkA")
    assert(Dedup.loadDedupIndex(spark, dir).fingerprints.count() == 6)
    assert(Dedup.loadDedupIndex(spark, dir, beforeBatch = Some(1L),
      lineage = "sinkA").fingerprints.count() == 5)
    // a DIFFERENT lineage is not shadowed by sinkA's watermarks
    Dedup.appendToDedupIndex(
      Seq(doc(200L, "other-stream")).toDF("doc_id", "text"),
      "doc_id", "text", dir, asStreamBatch = Some(0L), lineage = "sinkB")
    assert(Dedup.loadDedupIndex(spark, dir).fingerprints.count() == 7,
      "lineage scoping: sinkB batch 0 is not a replay of sinkA batch 0")
    // asking for a state older than the fold fails loudly, not wrongly
    val e = intercept[RuntimeException](
      Dedup.loadDedupIndex(spark, dir, beforeBatch = Some(0L), lineage = "sinkA"))
    assert(e.getMessage.contains("compacted past"), e.getMessage)
  }

  test("ANN serve prunes to the probed cid partitions; results identical to unpruned") {
    import spark.implicits._
    val embs = graft.Tables.embeddings(spark, sf001)
    val dir = java.nio.file.Files.createTempDirectory("graft_ilc_prune").toString
    Similarity.buildIndex(embs, dir, nlist = 64, m = 16, ksub = 64, pqIters = 2)
    val idx = Similarity.loadIndex(spark, dir)
    val probeVec = embs.filter(col("vec_id") === 7L).collect().head.getSeq[Float](1)
    val probe = Seq((999999L, probeVec)).toDF("vec_id", "embedding")
    val served = Similarity.queryIndex(idx, probe, k = 5, nprobe = 4)
    // the codes scan must carry a STATIC cid partition filter — one
    // query at nprobe=4 reads 4 of the 64 cell partitions, not all
    val plan = served.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(pf.exists(f => f.contains("cid") && (f.contains(" IN ") || f.contains("INSET"))),
      s"expected a cid IN partition filter in:\n${pf.mkString("\n")}")
    // pruning removes only partitions the probe join could never match
    val unpruned = Similarity.scoreWithModel(idx.codes, probe, idx.model,
      5, 4, idx.idCol, "embedding")
    assert(served.collect().toSeq == unpruned.collect().toSeq,
      "cell pruning must not change serving results")
  }

  test("batch-keyed ANN append: replays skip via tags, fold keeps watermarks") {
    import spark.implicits._
    val embs = graft.Tables.embeddings(spark, sf001)
    val dir = java.nio.file.Files.createTempDirectory("graft_ilc_annk").toString
    Similarity.buildIndex(embs.filter(col("vec_id") < 400), dir,
      nlist = 64, m = 16, ksub = 64, pqIters = 2)
    val anchor = new HPath(s"$dir/codes_appends")
    val fs = fsOf(anchor)
    val g0 = embs.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    Similarity.appendToIndex(g0, dir, asStreamBatch = Some(0L))
    assert(Similarity.loadIndex(spark, dir).codes.count() == 450)
    Similarity.appendToIndex(g0, dir, asStreamBatch = Some(0L)) // replay
    assert(Similarity.loadIndex(spark, dir).codes.count() == 450,
      "replayed keyed append must not double-encode")
    assert(ExactlyOnce.lastCommitted(fs, anchor).contains(0L))
    // empty keyed batch: writes nothing, no ledger state needed
    Similarity.appendToIndex(g0.filter(lit(false)), dir, asStreamBatch = Some(1L))
    assert(ExactlyOnce.lastCommitted(fs, anchor).contains(0L))
    assert(ExactlyOnce.committedDirs(fs, anchor).size == 1)
    Similarity.appendToIndex(embs.filter(col("vec_id") >= 450), dir,
      asStreamBatch = Some(2L))
    assert(ExactlyOnce.lastCommitted(fs, anchor).contains(1L))
    assert(Similarity.loadIndex(spark, dir).codes.count() == 500)
    // compaction carries the watermark: batch 2's replay is still caught
    Similarity.compactIndex(spark, dir)
    Similarity.vacuumIndex(spark, dir)
    Similarity.appendToIndex(embs.filter(col("vec_id") >= 450), dir,
      asStreamBatch = Some(2L))
    assert(Similarity.loadIndex(spark, dir).codes.count() == 500,
      "fold must not forget admitted watermarks")
  }

  test("in-place ANN compaction: atomic promote, old snapshot serves, vacuum reclaims") {
    import spark.implicits._
    val embs = graft.Tables.embeddings(spark, sf001)
    val dir = java.nio.file.Files.createTempDirectory("graft_ilc_ann").toString
    Similarity.buildIndex(embs.filter(col("vec_id") < 400), dir,
      nlist = 64, m = 16, ksub = 64, pqIters = 2)
    Similarity.appendToIndex(
      embs.filter(col("vec_id") >= 400 && col("vec_id") < 450), dir)
    Similarity.appendToIndex(embs.filter(col("vec_id") >= 450), dir)
    val anchor = new HPath(s"$dir/codes_appends")
    val fs = fsOf(anchor)
    val probeVec = embs.filter(col("vec_id") === 420L).collect().head.getSeq[Float](1)
    val probe = Seq((999999L, probeVec)).toDF("vec_id", "embedding")
    def serve(idx: Similarity.IvfPqIndex): Seq[String] =
      Similarity.queryIndex(idx, probe, k = 5, nprobe = 8)
        .collect().map(_.toString).toSeq
    val preSnapshot = Similarity.loadIndex(spark, dir)
    val before = serve(preSnapshot)

    // crash window: full fold staged, promote rewound — old index serves
    Similarity.compactIndex(spark, dir)
    assert(ExactlyOnce.lastCommitted(fs, anchor).contains(2L))
    ExactlyOnce.record.write(fs, anchor, 1L)
    val during = Similarity.loadIndex(spark, dir)
    assert(during.codes.count() == 500)
    assert(serve(during) == before, "unpromoted fold must be invisible")
    // re-entry promotes
    Similarity.compactIndex(spark, dir)
    val post = Similarity.loadIndex(spark, dir)
    assert(post.codes.count() == 500)
    assert(serve(post) == before, "compaction must not change serving results")
    // pre-compaction snapshot keeps serving after the promote
    assert(serve(preSnapshot) == before)
    // vacuum: base codes + 2 append generations reclaimed, model stays
    val reclaimed = Similarity.vacuumIndex(spark, dir)
    assert(reclaimed == 3, s"2 generations + base codes, got $reclaimed")
    assert(!fs.exists(new HPath(s"$dir/codes")))
    assert(fs.exists(new HPath(s"$dir/centroids")), "model tables never touched")
    val vacuumed = Similarity.loadIndex(spark, dir)
    assert(vacuumed.codes.count() == 500)
    assert(serve(vacuumed) == before, "vacuum must not change serving results")
    assert(Similarity.vacuumIndex(spark, dir) == 0)
  }

  test("ANN forget: tombstones subtract everywhere, compaction purges, vacuum reclaims") {
    import spark.implicits._
    val embs = graft.Tables.embeddings(spark, sf001)
    val dir = java.nio.file.Files.createTempDirectory("graft_ilc_forget").toString
    Similarity.buildIndex(embs.filter(col("vec_id") < 450), dir,
      nlist = 64, m = 16, ksub = 64, pqIters = 2)
    Similarity.appendToIndex(embs.filter(col("vec_id") >= 450), dir)
    val probeVec = embs.filter(col("vec_id") === 7L).collect().head.getSeq[Float](1)
    val probe = Seq((999999L, probeVec)).toDF("vec_id", "embedding")
    def ranking(k: Int): Seq[Long] =
      Similarity.queryIndex(Similarity.loadIndex(spark, dir), probe,
        k = k, nprobe = 64).collect().map(_.getLong(1)).toSeq
    // full pre-forget ranking (nprobe = nlist: every cell probed, so the
    // ranking over survivors is a pure filter of this one)
    val full = ranking(500)
    val victims = full.take(3) // forget the top hits — the hardest case
    Similarity.forgetFromIndex(spark, dir, victims.toDF("vec_id"))
    // logical subtraction at serve time: top-k = pre-forget ranking
    // minus the forgotten ids, order preserved, no resurrection in k
    val post = ranking(10)
    assert(post == full.filterNot(victims.contains).take(10),
      "post-forget serve must equal the pre-forget ranking minus victims")
    // time travel does NOT resurrect: the as-built snapshot is also clean
    val asBuilt = Similarity.loadIndex(spark, dir, asOfGen = Some(-1L))
    assert(asBuilt.codes.filter(col("vec_id").isin(victims: _*)).count() == 0,
      "forget must subtract from time-traveled snapshots too")
    // compaction physically purges; serving unchanged
    Similarity.compactIndex(spark, dir)
    assert(ranking(10) == post, "compaction must not change post-forget serving")
    val folded = Similarity.loadIndex(spark, dir)
    assert(folded.codes.count() == 500 - victims.size)
    // vacuum reclaims base + append gen + the folded tombstone generation
    val reclaimed = Similarity.vacuumIndex(spark, dir)
    assert(reclaimed == 3, s"base codes + 1 append + 1 tombstone gen, got $reclaimed")
    val fs = fsOf(new HPath(s"$dir/tombstones"))
    assert(ExactlyOnce.record.dirs(fs, new HPath(s"$dir/tombstones")).isEmpty,
      "folded tombstone generations must be reclaimed")
    assert(ranking(10) == post, "vacuum must not change post-forget serving")
    // a NEW forget after the fold applies to the compacted base too
    val next = post.head
    Similarity.forgetFromIndex(spark, dir, Seq(next).toDF("vec_id"))
    assert(ranking(10) == full.filterNot((victims :+ next).contains).take(10))
  }

  test("asOfGen time travel: every retained snapshot reads exactly its history") {
    val (dir, anchor) = mkDedup("asof")
    val fs = fsOf(anchor)
    def docsAt(asOf: Option[Long]): Set[Long] =
      Dedup.loadDedupIndex(spark, dir, asOfGen = asOf)
        .fingerprints.select("doc").collect().map(_.getLong(0)).toSet
    val base = (0L until 4L).toSet
    assert(docsAt(Some(-1L)) == base, "asOf -1 is the as-built state")
    assert(docsAt(Some(0L)) == base ++ Set(10L, 11L))
    assert(docsAt(Some(1L)) == base ++ Set(10L, 11L, 12L, 13L))
    // a horizon past the newest committed generation is just the present
    assert(docsAt(Some(99L)) == docsAt(None))
    // history introspection matches: two plain appends, no stream tags
    assert(Dedup.indexHistory(spark, dir) ==
      Seq((0L, false, Map.empty), (1L, false, Map.empty)))
    // compaction (gen 2) folds — snapshots BEFORE it still resolve from
    // the retained base, the at-fold snapshot from the fold alone
    Dedup.compactDedupIndex(spark, dir)
    assert(docsAt(Some(0L)) == base ++ Set(10L, 11L),
      "pre-fold snapshot must keep reading the retained base")
    assert(docsAt(Some(2L)) == docsAt(None))
    assert(Dedup.indexHistory(spark, dir).map(h => (h._1, h._2)) ==
      Seq((0L, false), (1L, false), (2L, true)))
    // vacuum bounds readable history: pre-fold horizons now fail LOUDLY
    Dedup.vacuumDedupIndex(spark, dir)
    val e = intercept[RuntimeException](docsAt(Some(1L)))
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    assert(docsAt(Some(2L)) == docsAt(None), "post-fold snapshots survive vacuum")
  }

  test("asOfGen composes with beforeBatch: generation horizon first, stream filter within it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ilc_compose").toString
    val corpus = (0L until 3L).map(doc(_)).toDF("doc_id", "text")
    Dedup.buildDedupIndex(corpus, "doc_id", "text", dir)
    // interleave: stream batch 0 (gen 0), manual append (gen 1),
    // stream batch 1 (gen 2)
    Dedup.appendToDedupIndex(Seq(doc(100L, "s0")).toDF("doc_id", "text"),
      "doc_id", "text", dir, asStreamBatch = Some(0L))
    Dedup.appendToDedupIndex(Seq(doc(150L, "manual")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    Dedup.appendToDedupIndex(Seq(doc(200L, "s1")).toDF("doc_id", "text"),
      "doc_id", "text", dir, asStreamBatch = Some(1L))
    def ids(beforeBatch: Option[Long], asOfGen: Option[Long]): Set[Long] =
      Dedup.loadDedupIndex(spark, dir, beforeBatch = beforeBatch,
          asOfGen = asOfGen)
        .fingerprints.select("doc").collect().map(_.getLong(0)).toSet
    val base = (0L until 3L).toSet
    // generation horizon alone: everything committed up to the gen
    assert(ids(None, Some(1L)) == base ++ Set(100L, 150L))
    // stream filter alone: manual appends always resolve
    assert(ids(Some(1L), None) == base ++ Set(100L, 150L))
    // composed: horizon at gen 2, stream state before batch 1 — the
    // manual append stays, batch 1's admission is excluded
    assert(ids(Some(1L), Some(2L)) == base ++ Set(100L, 150L))
    // composed: horizon below the manual append, before batch 1
    assert(ids(Some(1L), Some(0L)) == base ++ Set(100L))
    // horizon below everything + before batch 0: the bare base
    assert(ids(Some(0L), Some(-1L)) == base)
  }

  test("ANN asOfGen time travel mirrors the dedup contract") {
    import spark.implicits._
    val embs = graft.Tables.embeddings(spark, sf001)
    val dir = java.nio.file.Files.createTempDirectory("graft_ilc_annasof").toString
    Similarity.buildIndex(embs.filter(col("vec_id") < 400), dir,
      nlist = 16, m = 8, ksub = 16, pqIters = 1)
    Similarity.appendToIndex(
      embs.filter(col("vec_id") >= 400 && col("vec_id") < 450), dir)
    Similarity.appendToIndex(embs.filter(col("vec_id") >= 450), dir)
    def countAt(asOf: Option[Long]): Long =
      Similarity.loadIndex(spark, dir, asOfGen = asOf).codes.count()
    assert(countAt(Some(-1L)) == 400)
    assert(countAt(Some(0L)) == 450)
    assert(countAt(None) == 500)
    assert(Similarity.indexHistory(spark, dir) ==
      Seq((0L, false, Map.empty), (1L, false, Map.empty)))
    Similarity.compactIndex(spark, dir)
    Similarity.vacuumIndex(spark, dir)
    val e = intercept[RuntimeException](countAt(Some(0L)))
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    assert(countAt(Some(2L)) == 500)
  }
}
