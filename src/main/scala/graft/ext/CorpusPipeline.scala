package graft.ext

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The production corpus-prep flow a training-data run ships, with a
  * SINK at the end: quality filter (e20's gates) → paragraph-level
  * boilerplate removal (e36) → fuzzy document dedup over ONE persisted
  * MinHash front (e27's pipeline) → token-window chunking (e29) →
  * parquet write.
  *
  * Why this exists next to the declared capstone queries (e35/e38):
  * those return a DataFrame to the harness, so they must materialize
  * their output (cache) BEFORE releasing the pipeline's shared front —
  * at 100 TB the chunked corpus is the largest frame in the whole flow
  * and executor storage is the wrong place for it. The production shape
  * writes chunks to the sink WHILE the candidate front is still
  * persisted, then releases the front after the write action: no cache
  * entry larger than the front ever exists, and nothing survives the
  * run (spec-asserted in CorpusPipelineSpec).
  *
  * Reference anchor: the reference's pipeline ends in a loader the same
  * way (extract → transform → load, src/main.py); this is that contract
  * for the LLM-corpus surface.
  */
object CorpusPipeline {

  /** Handles to the composed flow: the chunk frame (NOT cached — the
    * caller decides to write or materialize) plus the dedup pipeline
    * whose persisted front the chunk plan references, and the persisted
    * paragraph-cleaned corpus both feed on. Callers MUST run their
    * action before [[Prepared.unpersistAll]] — after it, every frame
    * here (chunks included) is UNUSABLE, not merely slow: the dedup
    * stages' lineage may bottom out in released `localCheckpoint` blocks
    * (see [[Dedup.DedupPipeline]]), so a post-release action fails
    * rather than recomputes. The quality gate's `(id, length_score)`
    * frame is materialized once by [[prepare]] as a truncated leaf (it
    * feeds the gate join and keep-best's scores); `unpersistAll`
    * releases its blocks with the caches. Like the connected-components
    * edges (see [[Dedup.truncated]]), that leaf is a `localCheckpoint`
    * unless the session has a checkpoint dir: set a reliable one on a
    * real cluster, or an executor lost between `prepare` and the write
    * fails the write instead of recomputing the gate. */
  final case class Prepared(chunks: DataFrame, pipe: Dedup.DedupPipeline,
      private val pdocs: DataFrame, private[ext] val scores: DataFrame) {
    def unpersistAll(): Unit = {
      pipe.unpersistAll()
      pdocs.unpersist()
      Dedup.releaseTruncated(scores)
      ()
    }
  }

  /** Declare the full filter → paragraph-dedup → doc-dedup → chunk flow.
    * Geometry defaults match the declared queries (e20/e36/e27/e29), so
    * e38 and the sink path run the same plan. */
  def prepare(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      lang: String = "en", minTokens: Int = 20, maxPunctRatio: Double = 0.15,
      minStopwordRatio: Double = 0.01, paraTokens: Int = 20, paraMaxDocs: Int = 1,
      k: Int = 32, bands: Int = 8, minEstSim: Double = 0.4, maxEdit: Int = 5,
      chunkTokens: Int = 64, overlapTokens: Int = 16,
      spanTrimAt: Option[Double] = None, spanK: Int = 5,
      surprisalFlagAt: Option[Long] = None,
      unicodeForm: Option[String] = None): Prepared = {
    // optional Unicode-normalization pass (e66's expression), FIRST so
    // every downstream fingerprint/shingle/token hash sees one
    // canonical byte form — composed "é" and "e"+U+0301 documents
    // otherwise sail through exact AND near dedup as distinct. A
    // map-only codegen'd projection fused into the scan. Off by
    // default (e35/e38 pin the historical stage list).
    val docs0 = unicodeForm match {
      case Some(form) =>
        docs.withColumn(textCol, TextOps.normalizeUnicode(col(textCol), form))
      case None => docs
    }
    // the quality gate, scored ONCE: its (id, length_score) survivors
    // feed both the gate join below and keep-best's scores. Built here by
    // one job as a truncated leaf rather than a cache: AQE plans each
    // scan of a cache as its own stage whose id stays in the canonical
    // plan, so the paragraph pass's two identical broadcasts of a cached
    // frame would both be built. Released by Prepared.unpersistAll.
    val scores = Dedup.truncated(TextOps.qualityFilter(docs0, idCol, textCol,
      lang = lang, minTokens = minTokens, maxPunctRatio = maxPunctRatio,
      minStopwordRatio = minStopwordRatio)
      .select(col(idCol), col("length_score")))
    val fdocs1 = docs0.join(scores.select(idCol), idCol)
    // optional LM-quality gate (e60's unigram surprisal, the CCNet
    // shape): docs whose MEAN token surprisal vs the corpus's own
    // unigram model exceeds the gate (micro-nats) are the
    // gibberish/noise tail — dropped before any pairwise work. The
    // model is trained on the post-heuristic corpus (the same frame it
    // filters), not the raw input, so heuristically-rejected docs don't
    // skew the vocabulary. Off by default (e35/e38 pin the historical
    // stage list).
    val fdocs0 = surprisalFlagAt match {
      case Some(gate) => fdocs1.join(
        TextOps.unigramSurprisal(fdocs1, idCol, textCol, flagAboveMicro = gate)
          .filter(col("verdict") === "keep").select(idCol), idCol)
      case None => fdocs1
    }
    // optional cross-doc duplicate-SPAN gate (e57's coverage verdicts,
    // Lee et al. 2022): docs whose k-token windows are mostly verbatim
    // repeats of other documents are dropped BEFORE the paragraph pass —
    // they are the wholesale near-copies whose paragraphs would
    // otherwise flood the boilerplate counters. Off by default (the
    // declared e35/e38 capstones pin the historical stage list).
    val fdocs = spanTrimAt match {
      case Some(t) => fdocs0.join(
        Dedup.duplicateSpanCoverage(fdocs0, idCol, textCol, k = spanK,
            trimAt = t)
          .filter(col("verdict") === "keep").select(idCol), idCol)
      case None => fdocs0
    }
    // paragraph-level boilerplate removal BEFORE document dedup: shared
    // headers/footers otherwise make distinct documents look like
    // near-dups (their shingles are dominated by the boilerplate), and
    // the cleaned text is what the chunker should emit anyway. Documents
    // reduced to nothing by the cleaning drop out of the corpus.
    // persisted: the reassembly aggregation (a full-text shuffle) feeds
    // FOUR consumers — the candidate front, both text sides of the
    // edit-distance confirm, the survivor anti-join and the chunker —
    // and would otherwise recompute per consumer. MEMORY_AND_DISK so a
    // corpus larger than storage memory spills instead of thrashing;
    // released by Prepared.unpersistAll after the caller's action.
    val pdocs = Dedup.paragraphDedup(fdocs, idCol, textCol,
      paraTokens = paraTokens, maxDocs = paraMaxDocs)
      .filter(col("clean_text") =!= "")
      .select(col(idCol), col("clean_text").as(textCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pipe = Dedup.dedupPipeline(pdocs, idCol, textCol, scores,
      scoreCol = "length_score", k = k, bands = bands,
      minEstSim = minEstSim, maxEdit = maxEdit)
    val survivors = pdocs.select(idCol)
      .join(pipe.clusters.select(idCol), Seq(idCol), "left_anti")
      .union(pipe.kept.select(col("keep_id").as(idCol)))
    val chunks = TextOps.chunk(pdocs.join(survivors, idCol), idCol, textCol,
      chunkTokens = chunkTokens, overlapTokens = overlapTokens)
    Prepared(chunks, pipe, pdocs, scores)
  }

  final case class WriteResult(chunksWritten: Long, path: String)

  /** Collapse packed chunk rows ([[TextOps.packSequences]] output) into
    * ONE row per training sequence: `(bucket, seq_id)` → chunk count,
    * token total, doc-id span, a portable string key `seq_key`
    * (`"<bucket>:<seq_id>"` — the shard-placement identity), and, when
    * `textCol` is set, the sequence text assembled from its chunks in
    * (doc, chunk) order.
    *
    * Scale shape: the window in [[TextOps.packSequences]] leaves the
    * frame hash-partitioned on `bucket`, and `bucket` is a prefix of
    * this aggregation's grouping key `(bucket, seq_id)` — Spark reuses
    * the existing partitioning, so the assembly adds NO exchange
    * (plan-asserted in CorpusPipelineSpec). Each group is bounded by
    * the token budget (one sequence), so the `collect_list` here is
    * budget-bounded, never corpus-bounded. */
  def assembleSequences(packed: DataFrame, docCol: String, chunkCol: String,
      tokenCol: String, textCol: Option[String] = None): DataFrame = {
    val baseAggs = Seq(
      count(lit(1)).cast("long").as("n_chunks"),
      sum(col(tokenCol)).cast("long").as("seq_tokens"),
      min(col(docCol)).as("first_doc"),
      max(col(docCol)).as("last_doc"))
    val aggs = baseAggs ++ textCol.map(t =>
      array_join(transform(
        array_sort(collect_list(struct(col(docCol), col(chunkCol), col(t)))),
        x => x.getField(t)), " ").as("text"))
    packed.groupBy(col("bucket"), col("seq_id"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("seq_key",
        concat(col("bucket").cast("string"), lit(":"), col("seq_id").cast("string")))
  }

  /** The token-id flavor of [[assembleSequences]]: collapse packed
    * ENCODED items — whole documents or chunks, [[TextOps.bpeEncode]]
    * rows through [[TextOps.packSequences]] with `keep = Seq(idsCol)` —
    * into one row per training sequence, with the sequence's token-id
    * stream concatenated in (doc, chunk) order — the exact array a
    * trainer feeds to batch assembly, no text re-tokenization
    * downstream.
    *
    * Same scale shape as [[assembleSequences]]: the packing window left
    * the frame hash-partitioned on `bucket`, a prefix of the grouping
    * key, so the collapse adds NO exchange (plan-asserted in
    * CorpusPipelineSpec), and each group's `collect_list` is bounded by
    * the token budget, never the corpus. */
  def assembleTokenSequences(packed: DataFrame, docCol: String,
      chunkCol: String, tokenCol: String, idsCol: String): DataFrame =
    packed.groupBy(col("bucket"), col("seq_id"))
      .agg(
        count(lit(1)).cast("long").as("n_items"),
        sum(col(tokenCol)).cast("long").as("seq_tokens"),
        min(col(docCol)).as("first_doc"),
        max(col(docCol)).as("last_doc"),
        flatten(transform(
          array_sort(collect_list(struct(col(docCol), col(chunkCol), col(idsCol)))),
          x => x.getField(idsCol))).as("token_ids"))
      .withColumn("seq_key",
        concat(col("bucket").cast("string"), lit(":"), col("seq_id").cast("string")))

  /** The sink-parameterized production path: ONE write action drives
    * the whole flow off the persisted candidate front; the front is
    * released after the action completes. The row count rides the same
    * action as an `Observation` — no second pass. With `shards` set,
    * the write lands as deterministic training shards via
    * [[writeSharded]] (doc-keyed placement, so every chunk of a
    * document stays in one shard; chunk_id breaks within-doc ties so
    * the on-disk order is total).
    *
    * With `packBudget` set the sink emits TRAINER-READY SEQUENCES
    * instead of raw chunks: chunks pack into fixed token-budget
    * sequences per bucket stream ([[TextOps.packSequences]]), assemble
    * one row per sequence with its text ([[assembleSequences]] — no
    * extra exchange, see there), and shard placement keys on the
    * SEQUENCE identity `seq_key`, so a training shard holds whole
    * sequences and every run places them identically. A trainer reads
    * the shard dirs in order and feeds `text`/`seq_tokens` straight
    * into batch assembly — no padding-wasteful re-packing downstream. */
  def prepareAndWrite(docs: DataFrame, outPath: String,
      mode: String = "overwrite",
      idCol: String = "doc_id", textCol: String = "text",
      shards: Option[Int] = None,
      packBudget: Option[Int] = None, packBuckets: Int = 64,
      spanTrimAt: Option[Double] = None,
      surprisalFlagAt: Option[Long] = None,
      unicodeForm: Option[String] = None): WriteResult = {
    val p = prepare(docs, idCol, textCol, spanTrimAt = spanTrimAt,
      surprisalFlagAt = surprisalFlagAt, unicodeForm = unicodeForm)
    try {
      val (rows, keyCol, tieCols) = packBudget match {
        case Some(budget) =>
          val packed = TextOps.packSequences(p.chunks, idCol, "chunk_id",
            "n_tokens", budget = budget, buckets = packBuckets,
            keep = Seq("chunk_text"))
          (assembleSequences(packed, idCol, "chunk_id", "n_tokens",
            textCol = Some("chunk_text")), "seq_key", Nil)
        case None => (p.chunks, idCol, Seq("chunk_id"))
      }
      shards match {
        case Some(n) =>
          writeSharded(rows, outPath, n, keyCol, mode, tieCols = tieCols)
        case None =>
          val obs = Observation()
          rows.observe(obs, count(lit(1)).as("rows"))
            .write.mode(mode).parquet(outPath)
          WriteResult(obs.get("rows").asInstanceOf[Long], outPath)
      }
    } finally p.unpersistAll() // after the action — or on its failure
  }

  /** One micro-batch of the streaming dedup-ingest loop (e54): dedup
    * `batch` against the persisted index AS OF this batch, admit the
    * `new` verdicts into the index, commit the verdicts — all
    * idempotent under replay, keyed by `batchId`.
    *
    * The per-batch protocol, in order:
    *  1. load the index at `beforeBatch = batchId` (lineage = the
    *    verdict sink) — stream admissions of this lineage with batch id
    *    >= batchId are excluded; manual appends and the base always
    *    resolve. On first processing that IS the current state (this
    *    batch's own admission doesn't exist yet); on REPLAY it excludes
    *    this batch's possibly-already-committed admission, so the
    *    verdicts re-derive byte-identically;
    *  2. [[Dedup.incrementalDedup]] → (id, verdict, match_doc, est_sim);
    *  3. admit verdict='new' docs via the batch-keyed
    *    [[Dedup.appendToDedupIndex]] (a replay of a committed id is a
    *    no-op; an admitted-nothing batch advances the ledger);
    *  4. commit the verdicts to the exactly-once sink
    *    ([[graft.streaming.ExactlyOnce.commitBatch]]).
    *
    * Crash windows (spec-proven in StreamingIngestSpec):
    *  - before 3's ledger PUT: nothing durable — replay recomputes;
    *  - between 3 and 4 (the double-admission window a naive compose
    *    has): replay re-derives the same verdicts against the
    *    pre-append state (step 1's `beforeBatch`), skips the append, and
    *    commits the verdicts — admitted exactly once;
    *  - between 4 and the stream's own checkpoint commit: replay skips
    *    both (3 by the index ledger, 4 by the sink ledger).
    *
    * Contract: the index is this stream's to write — no unkeyed appends
    * or in-place compaction while the stream lives (their ledger ids
    * would collide with future batch ids); compact between streams. */
  def ingestBatch(batch: DataFrame, batchId: Long, idCol: String,
      textCol: String, indexDir: String, verdictsDir: String,
      minEstSim: Double = 0.4,
      knownMeta: Option[Dedup.DedupIndexMeta] = None): Unit = {
    val s = batch.sparkSession
    // lineage = the verdict sink: one checkpoint lineage per sink dir is
    // already the sink's contract, so the sink path IS the stream
    // identity — index admissions tagged with it can't be shadowed by
    // other streams, manual appends, or compactions
    val idx = Dedup.loadDedupIndex(s, indexDir, beforeBatch = Some(batchId),
      lineage = verdictsDir, knownMeta = knownMeta)
    val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val verdicts = Dedup.incrementalDedup(b, idCol, textCol, idx, minEstSim)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // one action materializes the verdict cache AND answers the
        // admit decision (r22): the previous shape probed emptiness via
        // `admitted.isEmpty` inside the append — a second action over
        // the batch⋈verdicts join plan
        val nNew = verdicts.filter(col("verdict") === "new").count()
        if (nNew > 0) {
          val admitted = b.join(
            verdicts.filter(col("verdict") === "new").select(idCol), Seq(idCol))
          Dedup.appendToDedupIndex(admitted, idCol, textCol, indexDir,
            asStreamBatch = Some(batchId), lineage = verdictsDir,
            knownMeta = Some(idx.meta), knownNonEmpty = true)
        }
        graft.streaming.ExactlyOnce.commitBatch(verdicts, verdictsDir, batchId)
        ()
      } finally { verdicts.unpersist(blocking = false); () }
    } finally { b.unpersist(blocking = false); () }
  }

  /** Continuous corpus ingestion against a persisted dedup index: a
    * readStream drained through [[ingestBatch]] — e43's delivery
    * semantics meeting e52's index lifecycle, the daily-ingest shape of
    * a 100 TB corpus (the reference's cron re-sync contract,
    * reference entrypoint.sh:7-9 + src/main.py:37-43, applied to the
    * dedup surface). The stream is the SMALL side by construction
    * (a day's ingest vs the corpus); every index join broadcasts the
    * batch and streams the index — nothing here collects or shuffles
    * the corpus. Exactly-once end to end: verdicts land in an
    * [[graft.streaming.ExactlyOnce]] sink, admissions land as
    * batch-keyed index generations, and every crash window replays
    * without double-admitting (see [[ingestBatch]]). */
  def streamingDedupIngest(stream: DataFrame, idCol: String, textCol: String,
      indexDir: String, verdictsDir: String, checkpointDir: String,
      minEstSim: Double = 0.4): org.apache.spark.sql.streaming.StreamingQuery = {
    // index meta is immutable while the stream owns the index (the
    // single-maintainer contract above) — read it on the first batch and
    // pin it for the rest of the drain (one meta-read job per batch
    // otherwise, r21)
    var meta: Option[Dedup.DedupIndexMeta] = None
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (meta.isEmpty) {
          // every exchange in the ingest DAG is BATCH-bounded by the
          // increment contract ("a batch too large to broadcast is not
          // an increment") and the index side only ever streams through
          // broadcast joins — AQE's per-query-stage materialization
          // buys nothing here and costs one scheduled job per exchange
          // per action (measured: e54 131 → 75 jobs, −0.8 s). Scoped to
          // the stream's cloned session: the corpus-sized index build
          // and everything else on the caller's session keep AQE.
          b.sparkSession.conf.set("spark.sql.adaptive.enabled", "false")
          meta = Some(Dedup.loadDedupIndex(b.sparkSession, indexDir).meta)
        }
        ingestBatch(b, id, idCol, textCol, indexDir, verdictsDir, minEstSim,
          knownMeta = meta)
      }
      .start()
  }

  /** Terminal shard placement as a WRITER: the e42 contract
    * (deterministic pseudorandom order, hash-dense shards) applied to
    * the written corpus — `repartition(nShards, shard)` +
    * `sortWithinPartitions(shard, hash, id)` + `partitionBy(shard)`.
    * Same single exchange as the declared rank flavor with no window
    * function materialized: each task streams its sorted run straight
    * into its shard directory, so at 100 TB the placement costs one
    * shuffle and the files come out in reproducible order. */
  def writeSharded(rows: DataFrame, outPath: String, nShards: Int,
      idCol: String = "doc_id", mode: String = "overwrite",
      tieCols: Seq[String] = Nil): WriteResult = {
    val h = Dedup.portableHash24(col(idCol).cast("string"))
    val obs = Observation()
    rows.withColumn("shard", (h % nShards).cast("int"))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(
        (Seq(col("shard"), h, col(idCol)) ++ tieCols.map(col)): _*)
      .observe(obs, count(lit(1)).as("rows"))
      .write.mode(mode).partitionBy("shard").parquet(outPath)
    WriteResult(obs.get("rows").asInstanceOf[Long], outPath)
  }
}
